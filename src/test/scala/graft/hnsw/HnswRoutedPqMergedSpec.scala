package graft.hnsw

import graft.HashData.vecFromHash
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import org.apache.spark.sql.functions._

/** Merged-cell detection + targeted remedy on the COMPRESSED tier —
  * the float tier's HnswRoutedMergedSpec geometry served through PQ
  * codes. The audit must work WITHOUT the float source (census over
  * code reconstructions — the solo/attached posture is the tier's
  * recommended 1e8 route, where floats live only on disk), and the
  * remedy fetches survivor floats for ONLY the flagged cells. */
class HnswRoutedPqMergedSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "l2", seed = 42L)

  /** The float merged-spec's two-level geometry: two far-apart
    * super-groups (the structure 2-means can see), each holding two
    * moderately-separated sub-clusters (the structure it cannot) — so
    * nCells = 2 must co-locate two distinct sub-clusters per cell.
    * Cluster c owns ids [c*800, (c+1)*800); super = c/2. */
  private val dim = 12
  private def clusterVec(i: Long): Array[Float] = {
    val c = (i / 800).toInt
    val superCenter = vecFromHash((c / 2).toLong, 77L, dim).map(_ * 40f)
    val subOffset = vecFromHash(10L + c, 99L, dim).map(_ * 6f)
    val noise = vecFromHash(i, 3L, dim)
    Array.tabulate(dim)(d => superCenter(d) + subOffset(d) + noise(d))
  }
  private def baseDf() =
    (0L until 3200L).map(i => (i, clusterVec(i))).toDF("id", "vec")

  /** Exact L2 top-k over the live rows — the driver-side oracle. */
  private def exactTopK(liveIds: Long => Boolean, qs: Seq[(Long, Array[Float])],
                        k: Int): Set[(Long, Long)] = {
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var d = 0
      while (d < dim) { val x = a(d) - b(d); acc += x * x; d += 1 }
      acc
    }
    val live = (0L until 3200L).filter(liveIds).map(i => (i, clusterVec(i)))
    qs.flatMap { case (qid, qv) =>
      live.map { case (id, v) => (l2(qv, v), id) }
        .sorted.take(k).map { case (_, id) => (qid, id) }
    }.toSet
  }

  test("audit flags the dead-mode cell WITHOUT a float source (solo-built index)") {
    // buildSolo: the float table is read once at build; the audit then
    // runs purely over code reconstructions
    val index0 = HnswRoutedPq.buildSolo(baseDf(), cfg, nCells = 2,
      persist = false, pinInput = false)
    val index = HnswRoutedPq.delete(index0, (0L until 800L).toDF("id"))
    val audit = HnswRoutedPq.mergedCellAudit(index, minCellRows = 100).collect()
    val flagged = audit.filter(_.getBoolean(7)).map(_.getInt(0))
    assert(flagged.length == 1, audit.mkString("\n"))
    val row = audit.find(_.getInt(0) == flagged.head).get
    assert(row.getLong(2) == 800L, s"dead count ${row.getLong(2)}")
    assert(row.getLong(4) >= 8000L && row.getLong(5) <= 2000L,
      s"purity hi=${row.getLong(4)} lo=${row.getLong(5)}")
  }

  test("interleaved deletes are NOT flagged (no separability through the codes either)") {
    val routed = HnswRouted.build(baseDf(), cfg, nCells = 2, persist = false)
    val pq = HnswRoutedPq.fromRouted(routed, persist = false)
    val index = HnswRoutedPq.delete(pq, (0L until 3200L by 2).toDF("id"))
    val audit = HnswRoutedPq.mergedCellAudit(index, minCellRows = 100).collect()
    assert(audit.nonEmpty, "cells inside the bimodal band must be audited")
    assert(!audit.exists(_.getBoolean(7)), audit.mkString("\n"))
  }

  test("remediate: targeted solo compact folds out only the flagged cell's dead ids; serving stays exact") {
    val base = baseDf()
    val routed = HnswRouted.build(base, cfg, nCells = 2, persist = false)
    val pq = HnswRoutedPq.fromRouted(routed, persist = false)
    val scattered = Seq(1601L, 2003L, 2407L, 3011L)
    val deleted = (0L until 800L) ++ scattered
    val index = HnswRoutedPq.delete(pq, deleted.toDF("id"))
    val (rem, flagged) = HnswRoutedPq.remediateMergedCellsSolo(
      index, base, minCellRows = 100, persist = false, patched = false)
    assert(flagged.length == 1)
    assert(rem.tombstones.forall(scattered.contains))
    assert(!rem.tombstones.exists(_ < 800L))
    val qs = (0 until 40).map { q =>
      (q.toLong, clusterVec((q % 4) * 800L + 400 + q))
    }
    val served = HnswRoutedPq.search(rem, qs.toDF("qid", "qvec"), base,
        k = 10, nProbe = 2, candidates = 192)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exactTopK(
      i => i >= 800L && !scattered.contains(i), qs, 10))
  }

  test("patched compaction: row-identical to full-copy; base handle unaffected; fold releases the overlay") {
    val base = baseDf()
    // patched needs a pinned partitioner + cached base blocks
    val routed = HnswRouted.build(base, cfg, nCells = 2)
    val pq = HnswRoutedPq.fromRouted(routed)
    val deleted = (0L until 800L) ++ Seq(1601L, 2003L)
    val index = HnswRoutedPq.delete(pq, deleted.toDF("id"))
    val flagged = HnswRoutedPq.mergedCellAudit(index, minCellRows = 100)
      .filter(col("merged")).select(col("cell")).collect().map(_.getInt(0))
    assert(flagged.nonEmpty)
    val qDf = (0 until 40).map { q =>
      (q.toLong, clusterVec((q % 4) * 800L + 400 + q))
    }.toDF("qid", "qvec")
    def rows(idx: HnswRoutedPq.RoutedPqIndex) =
      HnswRoutedPq.search(idx, qDf, base, k = 10, nProbe = 2,
          candidates = 192)
        .select(col("qid"), col("id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val preBase = rows(index)
    val full = HnswRoutedPq.compactSoloCells(index, base, flagged,
      persist = false, unpersistPrior = false)
    val patch = HnswRoutedPq.compactSoloCellsPatched(index, base, flagged,
      persist = true)
    assert(patch.tombstones.toSeq == full.tombstones.toSeq)
    assert(rows(patch) == rows(full))
    assert(patch.overlay.length == 1)
    assert(patch.shards.partitioner == index.shards.partitioner)
    assert(patch.shards.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
    assert(patch.overlay.head.getStorageLevel.useMemory)
    assert(rows(index) == preBase)
    val folded = HnswRoutedPq.foldOverlay(patch)
    assert(folded.overlay.isEmpty)
    assert(rows(folded) == rows(full))
    folded.unpersist()
    pq.unpersist()
    routed.unpersist()
  }

  test("ADC-space remedy (floatExact=false): solo build-serve geometry, same folded tombstones, serving stays exact") {
    val base = baseDf()
    val routed = HnswRouted.build(base, cfg, nCells = 2, persist = false)
    val pq = HnswRoutedPq.fromRouted(routed, persist = false)
    val scattered = Seq(1601L, 2003L, 2407L, 3011L)
    val deleted = (0L until 800L) ++ scattered
    val index = HnswRoutedPq.delete(pq, deleted.toDF("id"))
    val flagged = HnswRoutedPq.mergedCellAudit(index, minCellRows = 100)
      .filter(col("merged")).select(col("cell")).collect().map(_.getInt(0))
    assert(flagged.nonEmpty)
    val rem = HnswRoutedPq.compactSoloCells(index, base,
      flagged, persist = false, floatExact = false)
    val full = HnswRoutedPq.compactSoloCells(index, base, flagged,
      persist = false)
    assert(rem.tombstones.toSeq == full.tombstones.toSeq)
    assert(rem.tombstones.forall(scattered.contains))
    // exhaustive regime + exact re-rank: the served rows must equal
    // the exact L2 oracle regardless of the rebuilt cell's adjacency —
    // exactness is re-rank-guaranteed either way
    val qs = (0 until 40).map { q =>
      (q.toLong, clusterVec((q % 4) * 800L + 400 + q))
    }
    val served = HnswRoutedPq.search(rem, qs.toDF("qid", "qvec"), base,
        k = 10, nProbe = 2, candidates = 192)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exactTopK(
      i => i >= 800L && !scattered.contains(i), qs, 10))
    // both variants rebuild from the same fetched survivors, so the
    // rebuilt cells carry the SAME true content fingerprint (the
    // order-independent digest of identical (id, vec) content) — a
    // later rederive treats both as carry-eligible
    val remFp = rem.shards.collect().toMap.map { case (c, s) => c -> s.fingerprint }
    val fullFp = full.shards.collect().toMap.map { case (c, s) => c -> s.fingerprint }
    flagged.foreach { c => assert(remFp(c) == fullFp(c), s"cell $c") }
    rem.shards.unpersist(); full.shards.unpersist()
  }

  test("no tombstones -> empty audit; compactSoloCells on an empty list is the identity handle") {
    val base = baseDf()
    val routed = HnswRouted.build(base, cfg, nCells = 2, persist = false)
    val index = HnswRoutedPq.fromRouted(routed, persist = false)
    assert(HnswRoutedPq.mergedCellAudit(index, minCellRows = 100)
      .count() == 0L)
    assert(HnswRoutedPq.compactSoloCells(index, base, Array.empty) eq index)
  }
}
