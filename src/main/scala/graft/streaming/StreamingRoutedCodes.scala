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
  final class Handle(@volatile var index: RoutedCodeIndex) {
    def cellStats: Array[(Int, Long)] =
      graft.hnsw.RoutedOps.cellStats(index.shards)(_.codes.size)
  }

  private val ops = RoutedStreamOps[CodeCellShard, RoutedCodeIndex](
    tier = HnswRoutedCodes.CodeTier,
    payload = "code",
    presentIds = HnswRoutedCodes.presentIds,
    ingest = (i, df) => HnswRoutedCodes.ingest(i, df),
    compact = i => HnswRoutedCodes.compact(i),
    foldOverlay = i => HnswRoutedCodes.foldOverlay(i),
    warmProbe = i => HnswRoutedCodes.warmProbe(i),
    warmLabel = "routed_codes_warm_probe",
    warmAfterCompact = false,
    save = (i, path) => HnswRoutedCodes.save(i, path, keepVersions = 2),
    attach = (spark, path) => HnswRoutedCodes.attach(spark, path),
    unpersist = _.unpersist())

  /** Wire `stream` (id: long, code: long) into the handle via
    * foreachBatch — insert-only ([[StreamingRouted.attach]]'s shape:
    * empty batches skip the ingest but advance the checkpoint
    * cadence). */
  def attach(stream: DataFrame, handle: Handle,
             checkpoint: Option[(String, Int)] = None): StreamingQuery =
    RoutedStream.loop(stream, checkpoint) { batch =>
      handle.index = HnswRoutedCodes.ingest(handle.index, batch)
      1
    } { (spark, path) =>
      handle.index = RoutedStream.rebase(ops)(handle.index, spark, path)
    }

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
    RoutedStream.loop(stream, checkpoint) { batch =>
      val (next, n) = RoutedStream.cdcStep(ops)(handle.index, batch,
        compactThreshold, maxOverlayDepth)
      handle.index = next
      n
    } { (spark, path) =>
      handle.index = RoutedStream.rebase(ops)(handle.index, spark, path)
    }
}
