package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.hnsw.{RoutedLifecycle, RoutedOps, RoutedTier}

/** One routed tier's binding into the shared streaming loop
  * ([[RoutedStream]]): beside the tier's lifecycle surface (deletes,
  * tombstones, row counts, overlays), the ops the CDC step and the
  * checkpoint rebase call, the batch's payload column ("vec" /
  * "code"), and the ledger label of the covering-probe warm-up.
  * `warmAfterCompact` also probes the image the threshold fold leaves
  * (the PQ solo tier, whose fold rebuilds cells from the raw-vector
  * table). `save` must keep the prior version (see [[RoutedStream.rebase]]). */
private[streaming] final case class RoutedStreamOps[S, I](
    tier: RoutedTier[S, I],
    payload: String,
    presentIds: (I, Array[Long]) => Array[Long],
    ingest: (I, DataFrame) => I,
    compact: I => I,
    foldOverlay: I => I,
    warmProbe: I => Long,
    warmLabel: String,
    warmAfterCompact: Boolean,
    save: (I, String) => Unit,
    attach: (SparkSession, String) => I,
    unpersist: I => Unit)

/** The CDC step and checkpoint-cadence loop shared by the three routed
  * streaming tiers ([[StreamingRouted]], [[StreamingRoutedCodes]],
  * [[StreamingRoutedPq]]). */
private[streaming] object RoutedStream {

  /** Covering-probe a fresh image off the serving path: a fold or an
    * attach leaves an image whose first serve pays the cold tax (6x on
    * the warm-up rung); ledger-tracked as one-time. */
  def warm[I](ops: RoutedStreamOps[_, I], index: I): I = {
    graft.BuildLedger.timed(ops.warmLabel)(ops.warmProbe(index))
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
    *     the tier's compaction folds them out mid-stream (affected cells
    *     only) — after which those ids are REUSABLE;
    *  4. an overlay stack at `maxOverlayDepth` or deeper folds to one
    *     full image (results identical — spec-pinned; the threshold-
    *     compaction pattern applied to patch depth; <= 0 disables). */
  def cdcStep[S, I](ops: RoutedStreamOps[S, I])(index0: I, batch: DataFrame,
      compactThreshold: Double, maxOverlayDepth: Int): (I, Int) = {
    val t = ops.tier
    var index = index0
    var n = 0
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dels = b.filter(col("op") === "delete")
        .select(col("id").cast("long").as("id")).dropDuplicates("id")
      val delIds = dels.collect().map(_.getLong(0))
      java.util.Arrays.sort(delIds)
      if (delIds.nonEmpty) {
        index = RoutedLifecycle.delete(t)(index, dels)
        n += 1
      }
      val insAll = b.filter(col("op") =!= "delete")
        .select(col("id").cast("long").as("id"), col(ops.payload))
        .dropDuplicates("id")
      val insIds = insAll.select(col("id")).collect().map(_.getLong(0))
      java.util.Arrays.sort(insIds)
      val dead = t.tombstones(index)
      val live = ops.presentIds(index, insIds)
      val dropId: Long => Boolean = id =>
        java.util.Arrays.binarySearch(delIds, id) >= 0 ||
          java.util.Arrays.binarySearch(dead, id) >= 0 ||
          java.util.Arrays.binarySearch(live, id) >= 0
      val keep = insIds.filterNot(dropId)
      if (keep.nonEmpty) {
        // filter DataFrame-side by the kept id set (batch-sized)
        val keepDf = insAll.sparkSession.createDataset(keep.toSeq)(
          Encoders.scalaLong).toDF("id")
        index = ops.ingest(index, insAll.join(broadcast(keepDf), Seq("id")))
        n += 1
      }
      // threshold compaction: tombstones vs total graph rows (one
      // nCells-row stats collect, only on batches that deleted)
      if (delIds.nonEmpty && compactThreshold > 0 &&
          t.tombstones(index).length >= compactThreshold * math.max(1L,
            RoutedOps.cellStats(t.shards(index))(t.memberCount).map(_._2).sum)) {
        index = ops.compact(index)
        n += 1
        if (ops.warmAfterCompact) warm(ops, index)
      }
      // overlay-depth fold: a compaction above already materializes a
      // full image when it fires, so this only triggers on streams whose
      // handle accumulated patches (e.g. entered the stream patched by
      // remediateMergedCells' default) without crossing the threshold
      if (maxOverlayDepth > 0 && t.overlays(index).length >= maxOverlayDepth) {
        index = warm(ops, ops.foldOverlay(index))
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
  def rebase[I](ops: RoutedStreamOps[_, I])(prior: I, spark: SparkSession,
                                            path: String): I = {
    ops.save(prior, path)
    val next = ops.attach(spark, path)
    ops.unpersist(prior)
    warm(ops, next)
  }

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
