package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.hnsw.{HnswDistributed, HnswDurable}
import graft.streaming.StreamingIngest.IncrementalIndex
import graft.store.ParquetGraphStore

/** Structured-Streaming ANN *serving* — the query-side complement of
  * [[StreamingIngest]]. Ingest, CDC, and compaction already run as
  * streams; this closes the index lifecycle by answering a stream of
  * query vectors per micro-batch, so insert and search streams can
  * interleave against one live index (the reference's coroutine
  * interleave — `src/coroutine.rs:218-304` drives insert and search ops
  * through one channel — lifted to two Structured Streams).
  *
  * Serving is STATELESS per batch: a result depends only on the batch's
  * queries and the index state at batch time, so redelivered batches
  * recompute the same rows (no dedup state to carry). The two tiers
  * mirror the batch serving tiers:
  *
  *  - [[attach]]: the index lives on the driver ([[IncrementalIndex]]);
  *    each batch broadcasts the index's serving image (rebuilt only after
  *    a mutation), queries fan out over executors
  *    ([[HnswDistributed.searchBroadcast]]).
  *  - [[attachDurable]]: beyond-driver-memory serving from a
  *    [[ParquetGraphStore]] — upper layers broadcast, layer 0 via
  *    frontier joins, tombstones honored ([[HnswDurable.searchExcluding]]),
  *    so a search stream can run against the same store a durable ingest
  *    or CDC stream is growing.
  */
object StreamingSearch {

  /** Result schema shared by both tiers (and by the empty-index case,
    * which must emit a typed empty frame, not crash). */
  val resultSchema: StructType = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false),
    StructField("rank", IntegerType, nullable = false)))

  private def emptyResult(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], resultSchema)

  /** One serving micro-batch against a live [[IncrementalIndex]]. The
    * serving image AND its broadcast are memoized by the index's
    * mutation count, so an idle index pays neither the image copy nor a
    * re-broadcast per batch — only a changed index re-ships. An
    * empty index serves an empty result — a search stream may
    * legitimately start before its ingest stream has delivered
    * anything. */
  def searchBatch(batch: DataFrame, index: IncrementalIndex, k: Int): DataFrame = {
    val qs = batch.select(col("id").as("qid"), col("vec").as("qvec"))
    if (index.size == 0) emptyResult(batch.sparkSession)
    else HnswDistributed.searchBroadcast(
      qs, index.modelBroadcast(batch.sparkSession), k)
  }

  /** Attach a query stream to a live index; each micro-batch's results
    * go to `sink` (batch DataFrame + batch id — a caller typically
    * writes them to a topic/table keyed by batch id). */
  def attach(queryStream: DataFrame, index: IncrementalIndex, k: Int)
            (sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(searchBatch(batch, index, k), batchId)
      }
      .start()

  /** One durable serving micro-batch: answered from the parquet-backed
    * graph with tombstones excluded. `vectorsOf` is a thunk because the
    * vectors table GROWS while ingest/CDC streams run — re-reading per
    * batch picks up files an earlier read's file listing pinned out. */
  def searchDurableBatch(batch: DataFrame, store: ParquetGraphStore,
                         vectorsOf: () => DataFrame, k: Int, ef: Int,
                         metricName: String = "cosine"): DataFrame = {
    if (store.getEntryPoint.isEmpty) return emptyResult(batch.sparkSession)
    val qs = batch.select(col("id").as("qid"), col("vec").as("qvec"))
    HnswDurable.searchExcluding(store, vectorsOf(), qs, k, ef, metricName)
      .select(col("qid"), col("id"), col("dist").cast("double"),
        col("rank").cast("int"))
  }

  /** Attach a query stream to a durable store (beyond-driver-memory
    * serving; safe to run concurrently with a durable ingest stream —
    * each batch re-resolves the LSM state and the tombstone set). */
  def attachDurable(queryStream: DataFrame, store: ParquetGraphStore,
                    vectorsOf: () => DataFrame, k: Int, ef: Int,
                    metricName: String = "cosine")
                   (sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(searchDurableBatch(batch, store, vectorsOf, k, ef, metricName), batchId)
      }
      .start()

  /** One routed serving micro-batch: answered from the live
    * [[StreamingRouted.Handle]] — search reads the handle's CURRENT
    * index (volatile), so a query batch interleaved with CDC
    * ingest/delete batches sees the state at batch time, tombstones
    * excluded by the predicated kernel. An empty batch serves nothing;
    * an index is always non-empty here (the handle wraps a built
    * index). */
  def searchRoutedBatch(batch: DataFrame, handle: StreamingRouted.Handle,
                        k: Int, nProbe: Int): DataFrame = {
    val qs = batch.select(col("id").as("qid"), col("vec").as("qvec"))
    graft.hnsw.HnswRouted.search(handle.index, qs, k, nProbe)
      .select(col("qid"), col("id"), col("dist").cast("double"),
        col("rank").cast("int"))
  }

  /** Attach a query stream to a live routed handle — the serving
    * complement of [[StreamingRouted.attachCdc]]: insert, delete, and
    * query streams interleave against one routed index (the scale
    * tier's coroutine interleave). */
  def attachRouted(queryStream: DataFrame, handle: StreamingRouted.Handle,
                   k: Int, nProbe: Int)
                  (sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(searchRoutedBatch(batch, handle, k, nProbe), batchId)
      }
      .start()
}
