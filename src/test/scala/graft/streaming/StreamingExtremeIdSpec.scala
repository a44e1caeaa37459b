package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.hnsw.{HnswDistributed, HnswParams}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.store.{Metrics, ParquetGraphStore}
import graft.streaming.StreamingIngest.IncrementalIndex

/** Ids at the edges of the id space — -1, `Long.MinValue` (the empty-key
  * sentinel of the primitive id maps) and `Long.MaxValue` — through every
  * path of a streaming index: insert, duplicate match, serving the image
  * and the model, and restore from a mirror. */
class StreamingExtremeIdSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(efConstruction = 32, efSearch = 32, m = 6), metric = "cosine", seed = 3L)
  private val k = 5
  private val extremes = Seq(-1L, Long.MinValue, Long.MaxValue)

  private def vecFromHash(i: Long, seed: Long): Array[Float] =
    Array.tabulate(8)(j => (HnswParams.uniformFromHash(i * 31 + j, seed) * 2.0 - 1.0).toFloat)

  private val ordinary = (0L until 60L).map(i => (i, vecFromHash(i, 5L))).toArray
  private val special = extremes.zipWithIndex.map { case (id, i) => (id, vecFromHash(1000L + i, 6L)) }

  /** Each special vector nudged, so its true distance is not a self-match's. */
  private val queries: Seq[(Long, Array[Float])] = special.zipWithIndex.map { case ((_, v), i) =>
    (i.toLong, v.zipWithIndex.map { case (x, j) => x + (if (j == i) 0.05f else 0f) })
  }

  /** qid -> (id, dist bits) of the hits. */
  private def hits(df: DataFrame): Map[Long, Map[Long, Long]] =
    df.select("qid", "id", "dist").collect().groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => r.getLong(1) -> java.lang.Double.doubleToRawLongBits(r.getDouble(2))).toMap
    }

  /** Every special id is among its query's hits, at its true distance. */
  private def assertFound(got: Map[Long, Map[Long, Long]], what: String): Unit =
    queries.zip(special).foreach { case ((qid, q), (id, v)) =>
      val want = java.lang.Double.doubleToRawLongBits(Metrics.cosineDist(q, v))
      assert(got.get(qid).flatMap(_.get(id)).contains(want), s"$what: id $id")
    }

  test("ids -1, Long.MinValue and Long.MaxValue insert, match, serve and restore") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-extreme").toString
    val index = new IncrementalIndex(cfg, mirror = Some(new ParquetGraphStore(spark, dir)))
    index.insertRows(ordinary ++ special)
    assert(index.size == 63)
    extremes.foreach(id => assert(index.model.vectors.contains(id), s"id $id"))

    // each is matched as a duplicate under a new id
    val (ins, skip) = index.insertIfNoMatch(special.zipWithIndex.map { case ((_, v), i) => (500L + i, v) }.toArray)
    assert(ins == 0 && skip == 3)
    // and a redelivered id is not inserted twice
    index.insertRows(special.toArray)
    assert(index.size == 63)

    val qDf = queries.toDF("id", "vec")
    assertFound(hits(StreamingSearch.searchBatch(qDf, index, k)), "searchBatch")
    assertFound(hits(HnswDistributed.search(qDf.toDF("qid", "qvec"), index.model, k)), "index.model")

    val restored = StreamingIngest.restoreIndex(spark, cfg, dir)
    assert(restored.size == 63)
    special.foreach { case (id, v) => assert(restored.model.vectors(id).toSeq == v.toSeq, s"id $id") }
    assertFound(hits(StreamingSearch.searchBatch(qDf, restored, k)), "restored searchBatch")
  }
}
