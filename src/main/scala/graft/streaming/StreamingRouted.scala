package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.hnsw.HnswRouted
import graft.hnsw.HnswRouted.{CellShard, RoutedIndex}

/** Structured-Streaming ingest for the IVF-ROUTED serving tier: each
  * micro-batch routes by cell and merges per cell through
  * [[HnswRouted.ingest]] — the batch shuffles once on the cell id, the
  * index side never moves (narrow dependency on its pinned
  * partitioner). The evolving index lives in a [[Handle]] the serving
  * path reads between batches (single-writer foreachBatch contract,
  * same shape as [[StreamingIngest.IncrementalIndex]]).
  *
  * Durability composes with the versioned save: pass a checkpoint
  * (path, everyNBatches) and the handle persists a complete
  * [[HnswRouted.save]] version on that cadence — restart =
  * [[HnswRouted.attach]] + source replay from the last saved batch.
  * (Each save is O(index) write volume — a checkpoint cadence, not a
  * per-batch delta; the O(batch)-per-batch durable discipline lives in
  * the single-graph LSM tier, [[StreamingIngest.attachDurable]].)
  */
object StreamingRouted {

  /** Mutable routed-index handle shared across micro-batches; volatile
    * so serving threads see the latest fold. */
  type Handle = RoutedStreamHandle[CellShard, RoutedIndex]

  /** Wire `stream` (id: long, vec: array<float>) into the handle via
    * foreachBatch, insert-only; checkpoint cadence and empty-batch
    * handling as [[RoutedStream.loop]], save + rebase as
    * [[RoutedStream.rebase]]. */
  def attach(stream: DataFrame, handle: Handle,
             checkpoint: Option[(String, Int)] = None): StreamingQuery =
    RoutedStream.attach(HnswRouted)(stream, handle, checkpoint)

  /** CDC streaming against the routed tier: `(id, vec, op)` micro-
    * batches ([[RoutedStream.cdcStep]]), the
    * [[StreamingIngest.attachCdcDurable]] contract re-expressed on the
    * routed lifecycle primitives. Compacted-away ids are REUSABLE
    * (unlike the durable tier's permanent deleted_log: the routed
    * tier's compaction genuinely erases the id from its cell, so a
    * later insert of it is a fresh row). Checkpoint cadence as
    * [[attach]]; the tombstone set rides the saved image, so restart +
    * replay reconstructs deletes too. */
  def attachCdc(stream: DataFrame, handle: Handle,
                checkpoint: Option[(String, Int)] = None,
                compactThreshold: Double = 0.2): StreamingQuery =
    RoutedStream.attachCdc(HnswRouted)(stream, handle, checkpoint, compactThreshold,
      DefaultMaxOverlayDepth)

  /** Patch stacks deeper than this fold to one full image inside the
    * CDC loop ([[HnswRouted.foldOverlay]]) — before round 16 the stack
    * was bounded only by caller discipline: a handle entering the
    * stream already patched (e.g. from [[HnswRouted
    * .remediateMergedCells]]'s default) kept its overlays until some
    * caller remembered to fold. Each overlay adds one per-partition
    * branch to every serving action and pins its blocks; four is deep
    * enough to amortize folds and shallow enough that the composite
    * never dominates a serve. */
  val DefaultMaxOverlayDepth = 4

  /** One CDC micro-batch against a routed index ([[RoutedStream.cdcStep]]
    * with the float tier's compaction) — also the float-source step of
    * [[StreamingRoutedPq.attachCdc]]. Returns (next index, mutating ops
    * applied). */
  private[streaming] def cdcStep(index0: RoutedIndex, batch: DataFrame,
                                 compactThreshold: Double,
                                 maxOverlayDepth: Int = DefaultMaxOverlayDepth): (RoutedIndex, Int) =
    RoutedStream.cdcStep(HnswRouted)(index0, batch, compactThreshold,
      maxOverlayDepth)(HnswRouted.compact(_))
}
