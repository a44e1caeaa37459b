package graft.store

import graft.functions.PqKernels

/** Asymmetric-distance vector store: persisted vectors exist only as
  * packed PQ codes (8 bytes each), queries stay full-precision and carry a
  * per-query ADC lookup table — the id-keyed reference for the
  * DiskANN/FAISS "graph + codes in memory, raw vectors only for re-rank"
  * serving tier (reference analog: the store swap the trait split of
  * src/traits.rs:18-95 exists to allow). The PQ tiers build and serve on
  * the ordinal engine over a [[CodeArena]] whose ADC queries measure
  * exactly these distances ([[CodeQuery.adc]], [[CodeQuery.quantized]]);
  * the specs run [[graft.hnsw.HnswSearcher]] over this store to check
  * them.
  *
  * Memory per indexed vector: 8 B code vs dim x 4 B raw (32x at dim=64,
  * 384x at dim=3072) — the difference between one executor holding 10^8
  * vs 10^6 vectors of search state at 100 TB corpus scale.
  *
  * Distances are squared L2 (what ADC reconstructs); build the graph with
  * the l2 metric so traversal order agrees with the serving order.
  *
  * Staged queries keep their raw array so query-vs-query distances (never
  * issued by the search path, but part of the [[VectorStore]] contract)
  * stay exact rather than failing.
  */
final class AdcVectorStore(
    codebook: Array[Array[Array[Float]]],
    base: Long => Long, // any code source: a scala Map, a LongLongMap
    matchThreshold: Double = 1e-12
) extends VectorStore {
  type Raw = Array[Float]

  private final class Staged(val raw: Array[Float], val lut: Array[Double])
  private val staged = scala.collection.mutable.LongMap.empty[Staged]
  // points persisted THROUGH this store (incremental inserts): codes only,
  // exactly like `base` — the graph must never see raw precision
  private val inserted = scala.collection.mutable.LongMap.empty[Long]
  private var nextId = 0L

  def prepareQueryWithId(id: Long, raw: Array[Float]): Long = {
    staged(id) = new Staged(raw, PqKernels.lutFor(raw, codebook))
    if (id >= nextId) nextId = id + 1
    id
  }
  override def prepareQuery(raw: Array[Float]): Long =
    prepareQueryWithId(nextId, raw)

  /** Persisting a staged query QUANTIZES it: the raw array is encoded and
    * dropped, so from this call on the point is searchable at code
    * precision only — the same footing as every `base` point, in-session
    * or after a restart (an inserted point that kept serving exact
    * distances would rank differently before and after a reload). */
  override def insert(q: Long): Long = {
    val sq = staged(q)
    inserted(q) = PqKernels.encodeArray(sq.raw, codebook)
    staged.remove(q)
    q
  }

  private def codeOf(v: Long): Long =
    inserted.getOrElse(v, base(v))

  override def evalDistance(q: Long, v: Long): Double =
    staged.get(q) match {
      case Some(sq) =>
        staged.get(v) match {
          case Some(sv) => Metrics.l2Sq(sq.raw, sv.raw) // query-vs-query: exact
          case None     => PqKernels.adcLut(sq.lut, codeOf(v))
        }
      case None =>
        staged.get(v) match {
          case Some(sv) => PqKernels.adcLut(sv.lut, codeOf(q))
          case None => // code-vs-code (SDC): both sides reconstruct
            PqKernels.adcLut(lutOfCode(codeOf(q)), codeOf(v))
        }
    }

  private def lutOfCode(code: Long): Array[Double] = {
    val dim = PqKernels.trainedDim(codebook)
    val sd = PqKernels.subDim(dim)
    val rec = new Array[Float](dim)
    var s = 0
    while (s < PqKernels.NumSub) {
      val cent = codebook(s)(((code >>> (4 * s)) & 15L).toInt)
      val off = s * sd
      var i = 0
      val n = math.min(cent.length, math.max(dim - off, 0))
      while (i < n) { rec(off + i) = cent(i); i += 1 }
      s += 1
    }
    PqKernels.lutFor(rec, codebook)
  }

  override def isMatch(d: Double): Boolean = d <= matchThreshold
}
