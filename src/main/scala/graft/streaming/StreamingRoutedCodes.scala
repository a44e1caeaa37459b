package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.hnsw.HnswRoutedCodes
import graft.hnsw.HnswRoutedCodes.{CodeCellShard, RoutedCodeIndex}

/** Structured-Streaming ingest + CDC for the routed-CODES serving tier
  * — [[StreamingRouted]]'s contract on the u64-Hamming representation
  * (the 1e8-decade tier): micro-batches route by anchor and merge per
  * cell through [[HnswRoutedCodes.ingest]]; only the batch shuffles.
  * Checkpointing persists the versioned parquet image (tombstones
  * included) on a batches-since-last-save cadence; restart =
  * [[HnswRoutedCodes.attach]] + source replay.
  */
object StreamingRoutedCodes {

  /** Mutable routed-code-index handle shared across micro-batches;
    * volatile so serving threads see the latest fold. */
  type Handle = RoutedStreamHandle[CodeCellShard, RoutedCodeIndex]

  /** Wire `stream` (id: long, code: long) into the handle via
    * foreachBatch — insert-only ([[StreamingRouted.attach]]'s shape:
    * empty batches skip the ingest but advance the checkpoint
    * cadence). */
  def attach(stream: DataFrame, handle: Handle,
             checkpoint: Option[(String, Int)] = None): StreamingQuery =
    RoutedStream.attach(HnswRoutedCodes)(stream, handle, checkpoint)

  /** CDC micro-batches `(id, code, op)` with op `"insert"`/`"upsert"`
    * or `"delete"` — [[StreamingRouted.attachCdc]]'s semantics on the
    * code representation ([[RoutedStream.cdcStep]]): deletes fold into
    * the tombstone set first (net-effect convention), inserts drop
    * same-batch deletes, tombstoned ids (dead until compaction), and
    * already-live ids (idempotent redelivery); compaction triggers when
    * tombstones reach `compactThreshold` of the index's rows and frees
    * the ids for genuine reuse; overlay stacks fold at
    * `maxOverlayDepth` (<= 0 disables). */
  def attachCdc(stream: DataFrame, handle: Handle,
                checkpoint: Option[(String, Int)] = None,
                compactThreshold: Double = 0.2,
                maxOverlayDepth: Int =
                  StreamingRouted.DefaultMaxOverlayDepth): StreamingQuery =
    RoutedStream.attachCdc(HnswRoutedCodes)(stream, handle, checkpoint, compactThreshold,
      maxOverlayDepth)
}
