package graft.hnsw

import graft.HashData.vecFromHash
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn
import org.apache.spark.sql.functions._

/** Merged-cell detection + targeted remedy (ROUND14 §5's residual):
  * the audit flags exactly the cell where k-means merged a deleted
  * cluster with a live one, leaves interleaved-delete cells unflagged,
  * and compactCells folds the deletion out of ONLY the flagged cell —
  * after which predicated serving on it is the identity-filter plain
  * kernel (the structural form of the ≤1.2×-plain remedy). */
class HnswRoutedMergedSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "l2", seed = 42L)

  /** Two-level geometry that FORCES the merge: two far-apart
    * super-groups (the structure 2-means can see), each holding two
    * moderately-separated sub-clusters (the structure it cannot) — so
    * nCells = 2 must co-locate two distinct sub-clusters per cell.
    * Deleting all of sub-cluster 0 plants the merged-cell regime: its
    * cell reads ~50% dead cell-wide with the dead mass geometrically
    * clustered. Cluster c owns ids [c*800, (c+1)*800); super = c/2. */
  private val dim = 12
  private def clusterVec(i: Long): Array[Float] = {
    val c = (i / 800).toInt
    val superCenter = vecFromHash((c / 2).toLong, 77L, dim).map(_ * 40f)
    val subOffset = vecFromHash(10L + c, 99L, dim).map(_ * 6f)
    val noise = vecFromHash(i, 3L, dim)
    Array.tabulate(dim)(d => superCenter(d) + subOffset(d) + noise(d))
  }
  private def planted() = {
    val baseDf = (0L until 3200L).map(i => (i, clusterVec(i))).toDF("id", "vec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 2, persist = false)
    (baseDf, index)
  }

  test("audit flags exactly the cell holding a dead cluster beside a live one") {
    val (_, built) = planted()
    val index = HnswRouted.delete(built, (0L until 800L).toDF("id"))
    val audit = HnswRouted.mergedCellAudit(index, minCellRows = 100).collect()
    val flagged = audit.filter(_.getBoolean(7)).map(_.getInt(0))
    assert(flagged.length == 1, audit.mkString("\n"))
    // the flagged cell is the one that actually holds the dead ids
    val stats = HnswRouted.cellStats(index).toMap
    assert(stats.keySet.contains(flagged.head))
    val row = audit.find(_.getInt(0) == flagged.head).get
    assert(row.getLong(2) == 800L, s"dead count ${row.getLong(2)}") // all of cluster 0
    assert(row.getLong(4) >= 8000L && row.getLong(5) <= 2000L,
      s"purity hi=${row.getLong(4)} lo=${row.getLong(5)}")
  }

  test("interleaved deletes are NOT flagged (no geometric separability, no false positive)") {
    val (_, built) = planted()
    // delete every 2nd id across ALL clusters: 50% dead everywhere,
    // perfectly interleaved — the bimodal census sees the fraction but
    // the 2-means separability test must reject
    val index = HnswRouted.delete(built,
      (0L until 3200L by 2).toDF("id"))
    val audit = HnswRouted.mergedCellAudit(index, minCellRows = 100).collect()
    assert(audit.nonEmpty, "cells inside the bimodal band must be audited")
    assert(!audit.exists(_.getBoolean(7)), audit.mkString("\n"))
  }

  test("remediate: targeted compact folds out only the flagged cell's dead ids; serving stays exact") {
    val (baseDf, built) = planted()
    // cluster-0 wipe (merged regime) + a few interleaved deletes in the
    // OTHER cell's clusters that must SURVIVE as tombstones
    val scattered = Seq(1601L, 2003L, 2407L, 3011L)
    val deleted = (0L until 800L) ++ scattered
    val index = HnswRouted.delete(built, deleted.toDF("id"))
    val (rem, flagged) = HnswRouted.remediateMergedCells(
      index, minCellRows = 100, persist = false)
    assert(flagged.length == 1)
    // the flagged cell's dead ids are gone from the tombstone set; the
    // scattered ones remain soft-deleted (their cell was not flagged —
    // unless k-means co-located them, in which case they folded too;
    // pin the invariant that remaining tombstones ⊆ scattered)
    assert(rem.tombstones.forall(scattered.contains))
    assert(!rem.tombstones.exists(_ < 800L))
    // serving equals exact brute force over the survivors either way
    val qDf = (0 until 40).map { q =>
      (q.toLong, clusterVec((q % 4) * 800L + 400 + q))
    }.toDF("qid", "qvec")
    val served = HnswRouted.search(rem, qDf, 10, nProbe = 2)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf,
        baseDf.filter(col("id") >= 800L && !col("id").isin(scattered: _*)),
        10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact)
  }

  test("patched compaction: row-identical to the full-copy variant; base handle unaffected; fold releases the overlay") {
    val (baseVecs, built) = planted()
    val deleted = (0L until 800L) ++ Seq(1601L, 2003L)
    val index = HnswRouted.delete(built, deleted.toDF("id"))
    val flagged = HnswRouted.mergedCellAudit(index, minCellRows = 100)
      .filter(col("merged")).select(col("cell")).collect().map(_.getInt(0))
    assert(flagged.nonEmpty)
    val qDf = (0 until 40).map { q =>
      (q.toLong, clusterVec((q % 4) * 800L + 400 + q))
    }.toDF("qid", "qvec")
    def rows(idx: HnswRouted.RoutedIndex) =
      HnswRouted.search(idx, qDf, 10, nProbe = 2)
        .select(col("qid"), col("id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val preBase = rows(index)
    val full = HnswRouted.compactCells(index, flagged,
      persist = false, unpersistPrior = false)
    val patch = HnswRouted.compactCellsPatched(index, flagged, persist = true)
    assert(patch.tombstones.toSeq == full.tombstones.toSeq)
    assert(rows(patch) == rows(full))
    // the overlay is owned; the composite carries the pinned partitioner
    assert(patch.overlay.length == 1)
    assert(patch.shards.partitioner == index.shards.partitioner)
    // O(touched) persisted bytes is STRUCTURAL: the composite itself is
    // never persisted (each action reads the base's cached blocks),
    // only the rebuilt-cells overlay is
    assert(patch.shards.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
    assert(patch.overlay.head.getStorageLevel.useMemory)
    // the BASE handle still serves its own (tombstoned) answer — patch
    // never mutates or unpersists it
    assert(rows(index) == preBase)
    // fold: one full image, identical rows, overlay released
    val folded = HnswRouted.foldOverlay(patch)
    assert(folded.overlay.isEmpty)
    assert(rows(folded) == rows(full))
    // patches STACK: delete more in the OTHER cell, patch again
    val again = HnswRouted.delete(patch, (800L until 1600L).toDF("id"))
    val flagged2 = HnswRouted.mergedCellAudit(again, minCellRows = 100)
      .filter(col("merged")).select(col("cell")).collect().map(_.getInt(0))
    if (flagged2.nonEmpty) {
      val patch2 = HnswRouted.compactCellsPatched(again, flagged2, persist = true)
      assert(patch2.overlay.length == 2)
      val exact2 = ExactKnn.search(qDf,
          baseVecs.filter(col("id") >= 1600L &&
            !col("id").isin(1601L, 2003L)), 10, "l2")
        .select(col("qid"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val served2 = HnswRouted.search(patch2, qDf, 10, nProbe = 2)
        .select(col("qid"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(served2 == exact2)
      patch2.unpersist()
    } else patch.unpersist()
    folded.unpersist()
  }

  test("no tombstones -> empty audit; compactCells on an empty list is the identity handle") {
    val (_, index) = planted()
    assert(HnswRouted.mergedCellAudit(index, minCellRows = 100).count() == 0L)
    assert(HnswRouted.compactCells(index, Array.empty) eq index)
  }
}
