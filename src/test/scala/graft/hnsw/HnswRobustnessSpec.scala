package graft.hnsw

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.store.InMemoryGraph

/** Regression pins for the round-5 robustness review of the engine core:
  * k > ef beam widening in the frontier search, duplicate-id builds, and
  * parameter-shape validation. */
class HnswRobustnessSpec extends SparkSpec {

  private val dim = 8
  private def mkRows(n: Int): Array[(Long, Array[Float])] =
    Array.tabulate(n) { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        (HnswParams.uniformFromHash(i.toLong * 31 + d, 5L) * 2.0 - 1.0).toFloat))
    }

  test("frontier search with k > ef returns the true ranking, not last-round rejects") {
    // k = n with a narrow ef: the widened beam must hold every vertex it
    // visits, so on a (connected) 50-vertex graph the result is the full
    // exact ranking. The pre-fix loop trimmed ranked to ef each round and
    // filled ranks ef+1..k with whatever the final round happened to
    // score — this exact comparison catches that.
    val n = 50
    val rows = mkRows(n)
    val cfg = BuildConfig(HnswParams.standard(32, 16, 8), "cosine", seed = 3L)
    val model = HnswDistributed.buildFromArray(spark, rows, cfg)
    import spark.implicits._
    val vecDf = spark.createDataset(rows.toSeq).toDF("id", "vec")
    val qDf = spark.createDataset(rows.take(5).toSeq).toDF("qid", "qvec")
    val links = GraphFrames.toLinksDF(spark, model.snapshot)

    val got = HnswFrontier.search(links, HnswFrontier.upperSnapshot(model.snapshot),
        vecDf, qDf, k = n, ef = 4)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet

    val exact = graft.operators.ExactKnn.search(qDf, vecDf, n, "cosine")
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got.size === 5 * n, s"expected the full ranking, got ${got.size} rows")
    assert(got === exact)
  }

  test("duplicate ids in a build insert once (same graph as the unique build)") {
    val rows = mkRows(40)
    val dup = rows ++ rows.take(15) // every duplicated id arrives twice
    val cfg = BuildConfig(HnswParams.standard(32, 16, 8), "cosine", seed = 3L)
    val a = HnswDistributed.buildFromArray(spark, rows, cfg)
    val b = HnswDistributed.buildFromArray(spark, dup, cfg)
    assert(InMemoryGraph.fromSnapshot(a.snapshot)
      .structurallyEquals(InMemoryGraph.fromSnapshot(b.snapshot)),
      "duplicate rows changed the built graph")

    import spark.implicits._
    val dupCodes = spark.createDataset(
      (0 until 40).map(i => (i.toLong, i.toLong * 0x9E37L)) ++
        (0 until 10).map(i => (i.toLong, i.toLong * 0x9E37L))).toDF("id", "code")
    val cm = HnswCodes.build(dupCodes, HnswParams.standard(32, 16, 8), seed = 3L)
    assert(cm.codes.size === 40)
  }

  test("HnswParams rejects arrays of the wrong shape at construction") {
    intercept[IllegalArgumentException] {
      HnswParams(
        m = Array(16, 16), // too short: getM(2) would crash mid-build
        mMax = Array.fill(HnswParams.NParamLayers)(32),
        efConstrSearch = Array.fill(HnswParams.NParamLayers)(1),
        efConstrInsert = Array.fill(HnswParams.NParamLayers)(64),
        efSearch = Array.fill(HnswParams.NParamLayers)(32),
        layerProbability = 1.0 / 16)
    }
  }

  test("a micro-batch delivering one id twice ingests it once (durable path)") {
    import spark.implicits._
    val rows = mkRows(24)
    val path = java.nio.file.Files.createTempDirectory("graft_dupingest_").toString
    val store = new graft.store.ParquetGraphStore(spark, path)
    val vecDf = spark.createDataset(rows.toSeq).toDF("id", "vec")
    val dupDf = spark.createDataset((rows ++ rows.take(8)).toSeq).toDF("id", "vec")
    val cfg = BuildConfig(HnswParams.standard(32, 16, 8), "cosine", seed = 3L,
      seedBatch = 8)
    HnswDurable.ingest(store, dupDf, vecDf, cfg)
    // one layer-0 row per vertex — a double insert would have merged
    // duplicate adjacency rows for the re-delivered ids
    val l0 = store.linksTable.filter(col("layer") === 0)
      .select("src").as[Long].collect()
    assert(l0.length === 24 && l0.toSet.size === 24,
      s"expected 24 unique layer-0 vertices, got ${l0.length}")
  }
}
