package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.hnsw.{HnswRouted, HnswRoutedPq}
import graft.hnsw.HnswRouted.RoutedIndex
import graft.hnsw.HnswRoutedPq.RoutedPqIndex

/** CDC streaming for the routed+PQ serving tier: the PQ index is
  * DERIVED state (per-cell ADC codes over the float tier's cell
  * graphs), so the stream mutates the FLOAT source through the exact
  * [[StreamingRouted]] CDC semantics — delete-wins nets, tombstone and
  * redelivery filters, threshold compaction — and then re-derives the
  * PQ tier incrementally ([[HnswRoutedPq.rederive]]): cells the batch
  * never touched carry their codes over by reference (the content
  * fingerprint gates it), so the per-batch PQ cost is O(touched cells)
  * encode work, not O(index).
  *
  * Delete-only batches never touch any shard on either tier: the float
  * step is O(set) tombstone metadata, and the PQ handle just adopts
  * the new tombstone set (detected by the float shards RDD being
  * unchanged — zero jobs).
  *
  * Durability composes exactly like [[StreamingRouted.attachCdc]]: the
  * checkpoint persists the FLOAT image ([[HnswRouted.save]], which
  * carries the tombstone set); restart = [[HnswRouted.attach]] +
  * [[HnswRoutedPq.fromRoutedWith]] with the codebook + source replay.
  * The codebook itself is a few KB of driver state — the caller owns
  * persisting it beside the checkpoint (it is plain float arrays;
  * any serialization works), or re-trains via [[HnswRoutedPq
  * .fromRouted]] accepting a one-time recall drift on restart.
  */
object StreamingRoutedPq {

  /** Mutable two-tier handle shared across micro-batches; volatile so
    * serving threads see the latest fold of either tier. Serving reads
    * `pq` (the compressed tier); `float` is the lifecycle source. */
  final class Handle(@volatile var float: RoutedIndex,
                     @volatile var pq: RoutedPqIndex)

  /** SOLO handle: the PQ tier alone — no float source anywhere (the
    * attached-image posture). Serving threads read `pq` volatile. */
  final class SoloHandle(@volatile var pq: RoutedPqIndex)

  /** The solo threshold fold: [[HnswRoutedPq.compactSolo]] over
    * `vectors`, releasing the prior image (`floatExact` false takes the
    * buildSolo-kernel rebuild — the serving-cadence choice, BASELINE
    * round-18: solo build-serve geometry at 0.94x plain, 7x cheaper
    * rebuild; default true preserves the float-exact graph contract),
    * then a covering probe of the folded image. */
  private def soloCompact(vectors: DataFrame, floatExact: Boolean)(
      i: RoutedPqIndex): RoutedPqIndex =
    RoutedStream.warmed(HnswRoutedPq)(HnswRoutedPq.compactSolo(i, vectors,
      unpersistPrior = true, floatExact = floatExact))

  /** SOLO CDC — the float-source-free streaming loop for an attached
    * PQ tier: `(id, vec, op)` micro-batches mutate the compressed
    * index DIRECTLY through its solo lifecycle. Semantics are
    * [[RoutedStream.cdcStep]]'s exactly (delete-wins nets in-batch,
    * tombstone + redelivery + already-live insert filters — the
    * lenient CDC posture where batch [[HnswRoutedPq.ingest]]
    * fail-fasts), with [[HnswRoutedPq.compactSolo]] as the threshold
    * fold: touched cells rebuild from `vectors`, the raw-vector table
    * the exact re-rank already reads — which must therefore cover
    * every id the index serves, INCLUDING streamed inserts (in a real
    * pipeline the upstream store; the caller owns that contract, and
    * compactSolo fail-fasts loudly on a gap).
    *
    * Durability: the checkpoint persists the PQ image itself
    * ([[HnswRoutedPq.save]] — codebook, codes, graphs, fingerprints,
    * tombstones); restart = [[HnswRoutedPq.attach]] + source replay.
    * No float image exists at any point in the loop. In THIS loop
    * attach is the sole serving source, so the live handle's lineage
    * reads a version dir by construction — the rebase-after-save
    * ([[RoutedStream.rebase]]) is what keeps the next save's reclaim
    * from deleting the files that lineage recomputes from. */
  def attachCdcSolo(stream: DataFrame, handle: SoloHandle,
                    vectors: DataFrame,
                    checkpoint: Option[(String, Int)] = None,
                    compactThreshold: Double = 0.2,
                    maxOverlayDepth: Int =
                      StreamingRouted.DefaultMaxOverlayDepth,
                    floatExact: Boolean = true): StreamingQuery = {
    RoutedStream.loop(stream, checkpoint) { batch =>
      val (next, n) = RoutedStream.cdcStep(HnswRoutedPq)(handle.pq, batch,
        compactThreshold, maxOverlayDepth)(soloCompact(vectors, floatExact))
      handle.pq = next
      n
    } { (spark, path) =>
      handle.pq = RoutedStream.rebase(HnswRoutedPq)(handle.pq, spark, path)
    }
  }

  /** Wire a CDC stream — `(id, vec, op)` rows, op `"insert"`/`"upsert"`
    * or `"delete"` — into the two-tier handle via foreachBatch. */
  def attachCdc(stream: DataFrame, handle: Handle,
                checkpoint: Option[(String, Int)] = None,
                compactThreshold: Double = 0.2): StreamingQuery =
    RoutedStream.loop(stream, checkpoint) { batch =>
      val before = handle.float
      val (next, n) = StreamingRouted.cdcStep(before, batch, compactThreshold)
      handle.float = next
      if (n > 0) {
        handle.pq =
          // tombstone-only batch: no cell changed — adopt the set, keep
          // every code block (zero jobs)
          if (next.shards eq before.shards)
            handle.pq.copy(tombstones = next.tombstones)
          else HnswRoutedPq.rederive(handle.pq, next, unpersistPrior = true)
      }
      n
    } { (spark, path) =>
      // the float source rebases onto the just-written image, and the
      // PQ tier re-roots via fromRoutedWith — a full re-encode rather
      // than the fingerprint-carry rederive, ON PURPOSE: the carry
      // path's zipPartitions keeps the OLD pq shards (and through them
      // the pre-rebase float chain) in the new handle's lineage, which
      // is exactly the reclaimed-version recompute hazard this rebase
      // exists to cut. One narrow encode pass per save cadence, O(index)
      // like the save itself.
      val priorPq = handle.pq
      handle.float = RoutedStream.rebase(HnswRouted)(handle.float, spark, path)
      handle.pq = HnswRoutedPq.fromRoutedWith(handle.float, priorPq.codebook)
      priorPq.unpersist()
      RoutedStream.warmed(HnswRoutedPq)(handle.pq)
      ()
    }
}
