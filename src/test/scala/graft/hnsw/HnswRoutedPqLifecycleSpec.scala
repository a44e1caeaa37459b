package graft.hnsw

import graft.HashData.vecFromHash
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn
import org.apache.spark.sql.functions._

/** Lifecycle of the routed+PQ tier: direct tombstone deletes, and
  * incremental re-derivation after the float source's
  * ingest/compact/retrain — carried cells keep their codes by
  * reference (fingerprint-gated), re-encoded cells are exactly the
  * touched ones, and the re-derived index is row-identical to a fresh
  * derivation with the same codebook. */
class HnswRoutedPqLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "l2", seed = 42L)

  private def corpus(n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))

  private def knnSet(index: HnswRoutedPq.RoutedPqIndex,
                     qDf: org.apache.spark.sql.DataFrame,
                     baseDf: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    HnswRoutedPq.search(index, qDf, baseDf, k = 10,
        nProbe = index.router.nPrimary, candidates = 256)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def knnRows(index: HnswRoutedPq.RoutedPqIndex,
                      qDf: org.apache.spark.sql.DataFrame,
                      baseDf: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
    HnswRoutedPq.search(index, qDf, baseDf, k = 10,
        nProbe = index.router.nPrimary, candidates = 256)
      .select(col("qid"), col("id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

  test("direct delete excludes ids from serving and matches exact survivors") {
    val all = corpus(1500)
    val baseDf = all.toDF("id", "vec")
    val qDf = (0 until 30).map(q => (q.toLong, vecFromHash(q + 90000L, 9L, 16)))
      .toDF("qid", "qvec")
    val routed = HnswRouted.build(baseDf, cfg, nCells = 8, persist = false)
    val pq = HnswRoutedPq.fromRouted(routed, persist = false)
    val deleted = HnswRoutedPq.delete(pq,
      all.map(_._1).filter(_ % 7 == 0).toDF("id"))
    assert(pq.tombstones.isEmpty, "delete must not mutate the input handle")
    val served = knnSet(deleted, qDf, baseDf)
    assert(served.forall { case (_, id) => id % 7 != 0 })
    val exact = ExactKnn.search(qDf, baseDf.filter(col("id") % 7 =!= 0),
        10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact)
  }

  test("rederive after float ingest re-encodes only touched cells, matches a fresh derive") {
    val all = corpus(1400)
    val routed = HnswRouted.build(all.toDF("id", "vec"), cfg,
      nCells = 8, persist = false)
    val pq0 = HnswRoutedPq.fromRouted(routed, persist = false)
    // a 3-row batch touches at most 3 of the 8 cells
    val batch = (5000 until 5003)
      .map(i => (i.toLong, vecFromHash(i.toLong, 11L, 16)))
    val grown = HnswRouted.ingest(routed, batch.toDF("id", "vec"),
      persist = false)
    val (pq1, reenc, carried) = HnswRoutedPq.rederiveCounted(pq0, grown,
      persist = false)
    val nCells = grown.router.allCells.size
    assert(reenc + carried == nCells.toLong)
    assert(reenc >= 1 && reenc <= 3, s"reencoded $reenc of $nCells")
    assert(carried >= nCells - 3L, s"carried $carried of $nCells")
    val baseDf = (all ++ batch).toDF("id", "vec")
    val qDf = (0 until 30).map(q => (q.toLong, vecFromHash(q + 90000L, 9L, 16)))
      .toDF("qid", "qvec")
    val fresh = HnswRoutedPq.fromRoutedWith(grown, pq0.codebook,
      persist = false)
    assert(knnRows(pq1, qDf, baseDf) == knnRows(fresh, qDf, baseDf))
  }

  test("rederive after float compact adopts the emptied tombstone set and carries untouched cells") {
    val all = corpus(1400)
    val baseDf = all.toDF("id", "vec")
    val routed = HnswRouted.build(baseDf, cfg, nCells = 8, persist = false)
    val pq0 = HnswRoutedPq.fromRouted(routed, persist = false)
    // 3 deleted ids live in at most 3 cells
    val delIds = Seq(10L, 500L, 1200L)
    val tombed = HnswRouted.delete(routed, delIds.toDF("id"))
    val compacted = HnswRouted.compact(tombed, persist = false)
    assert(compacted.tombstones.isEmpty)
    val (pq1, reenc, carried) = HnswRoutedPq.rederiveCounted(pq0, compacted,
      persist = false)
    assert(pq1.tombstones.isEmpty)
    assert(reenc >= 1 && reenc <= 3, s"reencoded $reenc")
    assert(carried >= compacted.router.allCells.size - 3L)
    val served = knnSet(pq1, qDf = (0 until 30)
      .map(q => (q.toLong, vecFromHash(q + 90000L, 9L, 16)))
      .toDF("qid", "qvec"), baseDf)
    assert(served.forall { case (_, id) => !delIds.contains(id) })
    val exact = ExactKnn.search(
        (0 until 30).map(q => (q.toLong, vecFromHash(q + 90000L, 9L, 16)))
          .toDF("qid", "qvec"),
        baseDf.filter(!col("id").isin(delIds: _*)), 10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact)
  }

  test("rederive after retrain (new router): content-keyed carry covers every cell + re-encode, rows equal a fresh derive") {
    val all = corpus(1200)
    val baseDf = all.toDF("id", "vec")
    val routed = HnswRouted.build(baseDf, cfg, nCells = 4, persist = false)
    val pq0 = HnswRoutedPq.fromRouted(routed, persist = false)
    val retrained = HnswRouted.retrain(routed, nCells = 6, persist = false)
    val (pq1, reenc, carried) = HnswRoutedPq.rederiveCounted(pq0, retrained,
      persist = false)
    // every new cell is accounted for: matched-by-content cells carry,
    // the rest re-encode (pre-round-16 the cross-layout path re-encoded
    // everything)
    assert(carried + reenc == retrained.router.allCells.size.toLong)
    assert(pq1.codebook eq pq0.codebook, "the codebook survives retrain")
    val qDf = (0 until 25).map(q => (q.toLong, vecFromHash(q + 90000L, 9L, 16)))
      .toDF("qid", "qvec")
    val fresh = HnswRoutedPq.fromRoutedWith(retrained, pq0.codebook,
      persist = false)
    assert(knnRows(pq1, qDf, baseDf) == knnRows(fresh, qDf, baseDf))
  }

  test("rederive across a retrain that re-converges: content-identical cells CARRY under new cell ids") {
    // two far-apart clusters, nCells = 2: k-means lands on the same
    // membership regardless of cell NUMBERING, so a retrain yields
    // content-identical cells under a fresh router/partitioner — the
    // regime the cross-layout fingerprint carry exists for
    def clusterVec(i: Long): Array[Float] = {
      val c = (i % 2).toInt
      val center = vecFromHash(77L + c, 5L, 16).map(_ * 30f)
      val noise = vecFromHash(i, 11L, 16)
      Array.tabulate(16)(d => center(d) + noise(d))
    }
    val all = (0 until 1000).map(i => (i.toLong, clusterVec(i.toLong)))
    val baseDf = all.toDF("id", "vec")
    val routed = HnswRouted.build(baseDf, cfg, nCells = 2, persist = false)
    val pq0 = HnswRoutedPq.fromRouted(routed, persist = false)
    val retrained = HnswRouted.retrain(routed, persist = false)
    val (pq1, reenc, carried) = HnswRoutedPq.rederiveCounted(pq0, retrained,
      persist = false)
    assert(carried > 0L,
      s"re-converged cells must carry by content fingerprint (carried=$carried reenc=$reenc)")
    assert(carried + reenc == retrained.router.allCells.size.toLong)
    val qDf = (0 until 25).map(q => (q.toLong, clusterVec(q + 90000L)))
      .toDF("qid", "qvec")
    val fresh = HnswRoutedPq.fromRoutedWith(retrained, pq0.codebook,
      persist = false)
    assert(knnRows(pq1, qDf, baseDf) == knnRows(fresh, qDf, baseDf))
  }

  test("content fingerprint is order-independent and content-sensitive") {
    val rows = (0 until 64).map(i => i.toLong -> vecFromHash(i.toLong, 3L, 8))
    def arena(rs: Seq[(Long, Array[Float])]) =
      graft.store.ArenaVectorStore.of("l2", rs.map(_._1).toArray, rs.map(_._2).toArray)
    val a = arena(rows)
    val b = arena(rows.reverse)
    assert(HnswRoutedPq.contentFingerprint(a) ==
      HnswRoutedPq.contentFingerprint(b))
    val changed = rows(5)._2.clone()
    changed(0) += 1e-4f
    val mutated = arena(rows.updated(5, (5L, changed)))
    assert(HnswRoutedPq.contentFingerprint(a) !=
      HnswRoutedPq.contentFingerprint(mutated))
    val dropped = arena(rows.drop(1))
    assert(HnswRoutedPq.contentFingerprint(a) !=
      HnswRoutedPq.contentFingerprint(dropped))
  }
}
