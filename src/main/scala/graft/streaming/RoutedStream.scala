package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.hnsw.{LocalRoutedTier, RoutedCell, RoutedHandle, RoutedOps, RoutedTier}

/** The routed index a streaming loop evolves, shared across
  * micro-batches; volatile so serving threads see the latest fold. */
class RoutedStreamHandle[S <: RoutedCell, I <: RoutedHandle[S, I]](@volatile var index: I) {
  /** Per-cell occupancy (cell, rows): each cell's member count. */
  def cellStats: Array[(Int, Long)] = RoutedOps.cellStats(index.shards)(_.form.size)
}

/** The CDC step and checkpoint-cadence loop shared by the three routed
  * streaming tiers ([[StreamingRouted]], [[StreamingRoutedCodes]],
  * [[StreamingRoutedPq]]), over the tier object itself. */
private[streaming] object RoutedStream {

  /** Covering-probe a fresh image off the serving path: a fold or an
    * attach leaves an image whose first serve pays the cold tax (6x on
    * the warm-up rung); ledger-tracked as one-time. */
  def warmed(t: RoutedTier)(index: t.I): t.I = {
    graft.BuildLedger.timed(s"${t.tierName.replace('-', '_')}_warm_probe")(t.warmProbe(index))
    index
  }

  /** One CDC micro-batch `(id, payload, op)`, op `"insert"` (alias
    * `"upsert"`) or `"delete"`. Returns (next index, number of mutating
    * ops applied: 0 when the batch was a full no-op, e.g. all-
    * redelivered inserts). Per batch:
    *
    *  1. deletes fold into the tombstone set (O(set) metadata, serving
    *     excludes them immediately);
    *  2. inserts land through the tier's ingest, minus same-batch
    *     deletes (the CDC "net effect" convention: a delete wins over an
    *     insert of the same id in one batch), minus currently
    *     TOMBSTONED ids (dead until compaction folds them out), minus
    *     ids already LIVE in the index (a redelivered insert is an
    *     idempotent no-op where batch ingest fail-fasts);
    *  3. when tombstones reach `compactThreshold` of the index's rows,
    *     `compact` folds them out mid-stream (affected cells only) —
    *     after which those ids are REUSABLE;
    *  4. an overlay stack at `maxOverlayDepth` or deeper folds to one
    *     full image (results identical — spec-pinned; the threshold-
    *     compaction pattern applied to patch depth; <= 0 disables). */
  def cdcStep(t: RoutedTier)(index0: t.I, batch: DataFrame, compactThreshold: Double,
                             maxOverlayDepth: Int)(compact: t.I => t.I): (t.I, Int) = {
    var index = index0
    var n = 0
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dels = b.filter(col("op") === "delete")
        .select(col("id").cast("long").as("id")).dropDuplicates("id")
      val delIds = dels.collect().map(_.getLong(0))
      java.util.Arrays.sort(delIds)
      if (delIds.nonEmpty) {
        index = t.delete(index, dels)
        n += 1
      }
      val insAll = b.filter(col("op") =!= "delete")
        .select(col("id").cast("long").as("id"), col(t.payloadCol))
        .dropDuplicates("id")
      val insIds = insAll.select(col("id")).collect().map(_.getLong(0))
      java.util.Arrays.sort(insIds)
      val dead = index.tombstones
      val live = t.presentIds(index, insIds)
      val dropId: Long => Boolean = id =>
        java.util.Arrays.binarySearch(delIds, id) >= 0 ||
          java.util.Arrays.binarySearch(dead, id) >= 0 ||
          java.util.Arrays.binarySearch(live, id) >= 0
      val keep = insIds.filterNot(dropId)
      if (keep.nonEmpty) {
        // filter DataFrame-side by the kept id set (batch-sized)
        val keepDf = insAll.sparkSession.createDataset(keep.toSeq)(
          Encoders.scalaLong).toDF("id")
        index = t.streamIngest(index, insAll.join(broadcast(keepDf), Seq("id")))
        n += 1
      }
      // threshold compaction: tombstones vs total graph rows (one
      // nCells-row stats collect, only on batches that deleted)
      if (delIds.nonEmpty && compactThreshold > 0 &&
          index.tombstones.length >= compactThreshold * math.max(1L,
            t.cellStats(index).map(_._2).sum)) {
        index = compact(index)
        n += 1
      }
      // overlay-depth fold: a compaction above already materializes a
      // full image when it fires, so this only triggers on streams whose
      // handle accumulated patches (e.g. entered the stream patched by
      // remediateMergedCells' default) without crossing the threshold
      if (maxOverlayDepth > 0 && index.overlay.length >= maxOverlayDepth) {
        index = warmed(t)(t.foldOverlay(index))
        n += 1
      }
      (index, n)
    } finally { b.unpersist(); () }
  }

  /** Save `prior` as a new version and REBASE onto it. The save-while-
    * attached hazard this closes: a handle attached from a PRIOR
    * version (the restart posture), or descended from one through a
    * chain of ingest cogroups, still reads that version's parquet
    * through its RDD lineage whenever an evicted/lost block recomputes
    * — and the save's version reclaim would delete those files under
    * it. Discipline: every streaming save keeps 2 versions (the prior
    * version survives THIS save) and immediately rebases the handle onto
    * the newest version, so by the time the NEXT save reclaims that
    * prior version no live lineage reads it. Also truncates the
    * otherwise-unbounded ingest-cogroup lineage chain a long-running
    * stream accumulates (a deep recompute after executor loss would
    * otherwise replay every micro-batch merge). */
  def rebase(t: RoutedTier)(prior: t.I, spark: SparkSession, path: String): t.I = {
    t.save(prior, path, keepVersions = 2)
    val next = t.attach(spark, path, storage = prior.storage)
    prior.unpersist()
    warmed(t)(next)
  }

  /** Insert-only ingest of `stream` into `handle` through the tier's
    * ingest, checkpointed by [[rebase]] on the [[loop]] cadence. */
  def attach(t: LocalRoutedTier)(stream: DataFrame, handle: RoutedStreamHandle[t.S, t.I],
                                 checkpoint: Option[(String, Int)]): StreamingQuery =
    loop(stream, checkpoint) { batch =>
      handle.index = t.ingest(handle.index, batch)
      1
    } { (spark, path) => handle.index = rebase(t)(handle.index, spark, path) }

  /** CDC micro-batches into `handle` ([[cdcStep]] with the tier's own
    * compaction), checkpointed by [[rebase]] on the [[loop]] cadence. */
  def attachCdc(t: LocalRoutedTier)(stream: DataFrame, handle: RoutedStreamHandle[t.S, t.I],
                                    checkpoint: Option[(String, Int)], compactThreshold: Double,
                                    maxOverlayDepth: Int): StreamingQuery =
    loop(stream, checkpoint) { batch =>
      val (next, n) = cdcStep(t)(handle.index, batch, compactThreshold,
        maxOverlayDepth)(t.compact(_))
      handle.index = next
      n
    } { (spark, path) => handle.index = rebase(t)(handle.index, spark, path) }

  /** Wire `stream` into `step` via foreachBatch (single-writer
    * contract: one callback at a time, so plain vars are safe). Empty
    * batches skip the step (no index churn) but still advance the
    * checkpoint cadence — tracked as batches-since-last-save, so an
    * empty micro-batch landing on the boundary defers the save at most
    * until the next non-empty batch instead of silently stretching the
    * restart replay window by a full cadence. `checkpoint(spark, path)`
    * runs once the cadence has elapsed AND there is anything new to
    * persist (a window of only empty batches checkpoints nothing;
    * unsaved ops from earlier in the window still save even when the
    * boundary batch itself is empty). */
  def loop(stream: DataFrame, every: Option[(String, Int)])(
      step: DataFrame => Int)(
      checkpoint: (SparkSession, String) => Unit): StreamingQuery = {
    var sinceSave = 0
    var unsaved = 0
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) unsaved += step(batch)
        sinceSave += 1
        every.foreach { case (path, n) =>
          if (n > 0 && sinceSave >= n && unsaved > 0) {
            checkpoint(batch.sparkSession, path)
            sinceSave = 0
            unsaved = 0
          }
        }
      }
      .start()
  }
}
