package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.hnsw.{HnswModel, HnswParams, HnswSearcher}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.store.{ArrayVectorStore, Metrics, ParquetGraphStore}
import graft.streaming.StreamingIngest.IncrementalIndex

/** The serving image a streaming index broadcasts after each mutation:
  * `searchBatch` over it must return, row for row and bit for bit, what
  * the engine returns over the index's id-keyed model — with ids arriving
  * out of order across batches (a permuted image) and exact duplicate
  * vectors (distance ties). */
class StreamingImageSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(efConstruction = 32, efSearch = 16, m = 6), metric = "cosine", seed = 9L)
  private val k = 10

  private def vecFromHash(i: Long, seed: Long): Array[Float] =
    Array.tabulate(12)(j =>
      (HnswParams.uniformFromHash(i * 31 + j, seed) * 2.0 - 1.0).toFloat)

  private def rowsOf(ids: Seq[Long]): Array[(Long, Array[Float])] =
    ids.map(i => (i, vecFromHash(i, 3L))).toArray

  /** Ascending ids, then lower ids, then higher ids plus exact copies of
    * earlier vectors under new ids. */
  private val batches: Seq[Array[(Long, Array[Float])]] = {
    val a = rowsOf(500L until 620L)
    val b = rowsOf(0L until 90L)
    val c = rowsOf(300L until 340L) ++ a.take(12).map { case (i, v) => (i + 5000L, v) }
    Seq(a, b, c)
  }

  /** Random queries plus the duplicated vectors (ties at the head). */
  private val queries: Seq[(Long, Array[Float])] =
    (0 until 25).map(q => (q.toLong, vecFromHash(q + 90000L, 5L))) ++
      batches.head.take(4).zipWithIndex.map { case ((_, v), i) => (100L + i, v) }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** qid -> (id, dist bits) in rank order. */
  private def served(index: IncrementalIndex): Map[Long, List[(Long, Long)]] =
    rowsByQuery(StreamingSearch.searchBatch(queries.toDF("id", "vec"), index, k))

  private def rowsByQuery(df: DataFrame): Map[Long, List[(Long, Long)]] =
    df.select("qid", "id", "dist", "rank").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), bits(r.getDouble(2)))).toList
      }

  /** The engine over the model's id-keyed store, as searchBatch calls it. */
  private def reference(m: HnswModel): Map[Long, List[(Long, Long)]] = {
    val store = new ArrayVectorStore(Metrics.byName(m.metricName), base = m.vectors)
    val searcher = new HnswSearcher(m.params)
    queries.map { case (qid, v) =>
      val q = store.prepareQueryWithId(Long.MinValue, v)
      qid -> searcher.searchWithEf(store, m.snapshot, q, k, 0).iterator
        .map(nb => (nb.dst, bits(nb.dist))).toList
    }.toMap
  }

  test("searchBatch over the image equals the engine over index.model, ties and out-of-order ids included") {
    val index = new IncrementalIndex(cfg)
    var tied = 0
    batches.foreach { rows =>
      index.insertRows(rows)
      val got = served(index)
      assert(got == reference(index.model))
      assert(got.size == queries.size && got.values.forall(_.length == k))
      tied += got.values.count(_.sliding(2).exists { case Seq(a, b) => a._2 == b._2; case _ => false })
    }
    assert(tied > 0, "no result list held a distance tie")
    assert(index.image.size == index.size)
  }

  test("the image and its broadcast are rebuilt on an insert, not on a skipped or redelivered batch") {
    val index = new IncrementalIndex(cfg)
    index.insertRows(batches.head)
    val image = index.image
    val bcast = index.modelBroadcast(spark)
    assert((index.image eq image) && (index.modelBroadcast(spark) eq bcast))
    index.insertRows(batches.head) // redelivered
    assert((index.image eq image) && (index.modelBroadcast(spark) eq bcast))
    val (ins, skip) = index.insertIfNoMatch(batches.head.take(20).map { case (i, v) => (i + 7000L, v) })
    assert(ins == 0 && skip == 20)
    assert((index.image eq image) && (index.modelBroadcast(spark) eq bcast))
    index.insertRows(batches(1))
    assert(!(index.image eq image) && !(index.modelBroadcast(spark) eq bcast))
    assert(index.modelBroadcast(spark).value.size == index.size)
  }

  test("a restored index serves the rows of the index it was mirrored from") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-image").toString
    val first = new IncrementalIndex(cfg, mirror = Some(new ParquetGraphStore(spark, dir)))
    batches.foreach(first.insertRows)
    val restored = StreamingIngest.restoreIndex(spark, cfg, dir)
    assert(restored.size == first.size)
    assert(served(restored) == served(first))
    assert(served(restored) == reference(first.model))
  }
}
