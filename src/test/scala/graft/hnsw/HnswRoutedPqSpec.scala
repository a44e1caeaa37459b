package graft.hnsw

import graft.HashData.vecFromHash
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn
import org.apache.spark.sql.functions._

/** Routed + PQ compose: per-cell ADC candidates + exact re-rank equals
  * brute force in the exhaustive regime at test scale, keeps recall in
  * the nProbe regime, and composes with tombstones. */
class HnswRoutedPqSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "l2", seed = 42L)

  test("exhaustive regime + generous candidates + exact re-rank equals brute force") {
    val n = 2000
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val baseDf = base.toDF("id", "vec")
    val qs = (0 until 40).map(q => (q.toLong, vecFromHash(q.toLong + 100000, 9L, 16)))
    val qDf = qs.toDF("qid", "qvec")
    val routed = HnswRouted.build(baseDf, cfg, nCells = 8, persist = false)
    val index = HnswRoutedPq.fromRouted(routed, persist = false)
    val served = HnswRoutedPq.search(index, qDf, baseDf, k = 10,
        nProbe = 8, candidates = 256)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf, baseDf, 10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact)
  }

  test("requires l2-built routed graphs (ADC order must agree with traversal order)") {
    val base = (0 until 200).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val routed = HnswRouted.build(base.toDF("id", "vec"),
      cfg.copy(metric = "cosine"), nCells = 2, persist = false)
    val e = intercept[IllegalArgumentException] {
      HnswRoutedPq.fromRouted(routed, persist = false)
    }
    assert(e.getMessage.contains("squared-L2"), e.getMessage)
  }

  test("clustered corpus: nProbe=2 of 16 keeps recall@10 >= 0.9 through codes + re-rank") {
    val dim = 16
    val centers = (0 until 16).map(c => vecFromHash(c.toLong, 77L, dim).map(_ * 10f))
    val base = (0 until 2000).map { i =>
      val c = i % 16
      val noise = vecFromHash(i.toLong, 3L, dim)
      (i.toLong, centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val baseDf = base.toDF("id", "vec")
    val qs = (0 until 100).map { q =>
      val c = q % 16
      val noise = vecFromHash(q.toLong + 50000, 5L, dim)
      (q.toLong, centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val qDf = qs.toDF("qid", "qvec")
    val routed = HnswRouted.build(baseDf, cfg, nCells = 16, persist = false)
    val index = HnswRoutedPq.fromRouted(routed, persist = false)
    val served = HnswRoutedPq.search(index, qDf, baseDf, k = 10,
        nProbe = 2, candidates = 64)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf, baseDf, 10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (served & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("distributed coarse routing is row-identical to the driver path (with tombstones)") {
    val n = 1500
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val baseDf = base.toDF("id", "vec")
    val qDf = (0 until 30).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val routed = HnswRouted.delete(
      HnswRouted.build(baseDf, cfg, nCells = 4, persist = false),
      (0 until n).filter(_ % 9 == 0).map(_.toLong).toDF("id"))
    val index = HnswRoutedPq.fromRouted(routed, persist = false)
    for (nProbe <- Seq(2, 4)) {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("qid"), col("id"), col("adc")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      val driver = rows(HnswRoutedPq.searchCoarse(index, qDf, 64, nProbe))
      val distrib = rows(HnswRoutedPq.searchCoarseDistributed(index, qDf, 64, nProbe))
      assert(distrib == driver, s"nProbe=$nProbe")
    }
  }

  test("tombstones carry over from the source index and are excluded from candidates") {
    val n = 1200
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val baseDf = base.toDF("id", "vec")
    val qs = (0 until 30).map(q => (q.toLong, vecFromHash(q.toLong + 100000, 9L, 16)))
    val qDf = qs.toDF("qid", "qvec")
    val deleted = (0 until n).filter(_ % 7 == 0).map(_.toLong)
    val routed = HnswRouted.delete(
      HnswRouted.build(baseDf, cfg, nCells = 4, persist = false),
      deleted.toDF("id"))
    val index = HnswRoutedPq.fromRouted(routed, persist = false)
    val survivorsDf = baseDf.filter(col("id") % 7 =!= 0)
    val served = HnswRoutedPq.search(index, qDf, baseDf, k = 10,
        nProbe = 4, candidates = 256)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served.forall { case (_, id) => id % 7 != 0 })
    val exact = ExactKnn.search(qDf, survivorsDf, 10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact)
  }
}
