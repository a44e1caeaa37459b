package graft.store

import graft.functions.PqKernels
import graft.hnsw.LongLongMap

/** The representation contract of [[graft.hnsw.OrdinalGraph]]: points on
  * dense ordinals in insertion order, `ids(o)` the id of ordinal `o`, and
  * a query type `Q` that a search prepares once, then measures against one
  * ordinal ([[dist]]) or a run of them ([[measure]]). Two implementations,
  * so the engine's call sites stay at most bimorphic: [[ArenaVectorStore]]
  * (float vectors) and [[CodeArena]] (u64 codes). The id -> ordinal map is
  * built from `ids` on first lookup and never serialized; a search reads
  * `ids` only, so a store that only serves never builds it.
  */
abstract class OrdinalStore[Q] extends Serializable {
  type Prepared
  private[store] var n = 0
  private[graft] var ids = new Array[Long](0)
  @transient private[this] var idMap: LongLongMap = null

  private[this] def ordinals: LongLongMap = {
    if (idMap == null) {
      val m = new LongLongMap(n)
      var o = 0
      while (o < n) { m.put(ids(o), o); o += 1 }
      idMap = m
    }
    idMap
  }

  def size: Int = n

  /** Whether the id -> ordinal map has been built. */
  private[graft] def idMapBuilt: Boolean = idMap != null

  /** The stored ids in ordinal order. */
  private[graft] def idIterator: Iterator[Long] = ids.iterator.take(n)

  /** The stored ordinal of `id`, or -1. */
  private[graft] def ordinalOf(id: Long): Int = ordinals.getOrElse(id, -1L).toInt

  /** The stored ordinals in ascending id order. */
  private[graft] def idOrder: Array[Int] = {
    val sorted = java.util.Arrays.copyOf(ids, n)
    java.util.Arrays.sort(sorted)
    sorted.map(ordinalOf)
  }

  /** Record `id` at ordinal `n` (point written, `ids` slot allocated). */
  protected final def append(id: Long): Int = {
    ids(n) = id
    ordinals.put(id, n)
    n += 1
    n - 1
  }

  /** Shrink every array to the stored points. */
  private[graft] def trim(): Unit = ids = java.util.Arrays.copyOf(ids, n)

  /** Whether two points at distance `d` are duplicates. */
  def isMatch(d: Double): Boolean
  /** Store `q`'s point under `id`; returns its ordinal. */
  def insert(id: Long, q: Q): Int
  def prepare(q: Q): Prepared
  def dist(p: Prepared, o: Int): Double
  /** Distances from `p` to ordinals `os(0 until m)` into `out(0 until m)`. */
  def measure(p: Prepared, os: Array[Int], m: Int, out: Array[Double]): Unit
}

/** A [[CodeArena]] query: a code measured by Hamming distance or, with
  * `lut` set, a PQ lookup table measured by asymmetric distance. An insert
  * stores `code`. */
final class CodeQuery(val code: Long, val lut: Array[Double])

object CodeQuery {
  def hamming(code: Long): CodeQuery = new CodeQuery(code, null)
  /** A serve-only query: `q`'s table, no code to store. */
  def adc(q: Array[Float], codebook: Array[Array[Array[Float]]]): CodeQuery =
    new CodeQuery(0L, PqKernels.lutFor(q, codebook))
  /** `v` measured through its own table and stored as its code: quantized
    * on insert. */
  def quantized(v: Array[Float], codebook: Array[Array[Array[Float]]]): CodeQuery =
    new CodeQuery(PqKernels.encodeArray(v, codebook), PqKernels.lutFor(v, codebook))
}

/** u64 codes on dense ordinals, the store of the Hamming and PQ tiers. A
  * Hamming query measures `bitCount(q ^ code)`; a table query measures
  * [[PqKernels.adcLut]], bit for bit what the reference [[AdcVectorStore]]
  * returns for a staged query against a stored code. Distance 0 is a
  * match. */
final class CodeArena extends OrdinalStore[CodeQuery] {
  type Prepared = CodeQuery
  private[graft] var codes = new Array[Long](0)

  def isMatch(d: Double): Boolean = d <= 0.0
  def prepare(q: CodeQuery): CodeQuery = q

  /** The stored codes in ordinal order, under their ids. */
  def rows: Iterator[(Long, Long)] = Iterator.range(0, n).map(o => (ids(o), codes(o)))

  /** A copy trimmed to the stored codes; its id map is rebuilt on first
    * lookup. */
  def copy(): CodeArena = CodeArena.of(java.util.Arrays.copyOf(ids, n), java.util.Arrays.copyOf(codes, n))

  override private[graft] def trim(): Unit = {
    super.trim()
    codes = java.util.Arrays.copyOf(codes, n)
  }

  /** Append `q.code` under `id`, which must be new. */
  def insert(id: Long, q: CodeQuery): Int = {
    if (n == ids.length) {
      val cap = math.max(n + 1, ids.length + ids.length / 2)
      ids = java.util.Arrays.copyOf(ids, cap)
      codes = java.util.Arrays.copyOf(codes, cap)
    }
    codes(n) = q.code
    append(id)
  }

  def dist(q: CodeQuery, o: Int): Double =
    if (q.lut == null) java.lang.Long.bitCount(q.code ^ codes(o)).toDouble
    else PqKernels.adcLut(q.lut, codes(o))

  def measure(q: CodeQuery, os: Array[Int], m: Int, out: Array[Double]): Unit = {
    var i = 0
    while (i < m) { out(i) = dist(q, os(i)); i += 1 }
  }
}

object CodeArena {
  /** `codes(i)` under `ids(i)` at ordinal `i`; the ids must be distinct. */
  def of(ids: Array[Long], codes: Array[Long]): CodeArena = {
    val a = new CodeArena
    a.ids = ids
    a.codes = codes
    a.n = ids.length
    a
  }
}
