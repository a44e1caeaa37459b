package graft.hnsw

/** Open-addressing primitive long -> Array[Float] map: the id-keyed view
  * of a float holder's vectors, derived on demand
  * ([[HnswModel.vectors]]), and the upper-layer vectors of the durable
  * build's phase 1a.
  *
  * Why not `scala.collection.mutable.LongMap`: that class carries a
  * `defaultEntry` closure field and chill registers default serializers
  * for scala collection types, and the combination deserialized CORRUPT
  * under Spark's KryoSerializer when cached shard state round-tripped
  * through disk — the round-16 PqCellShard SIGSEGV (hs_err frame inside
  * `LongMap.foreachKey` after a DISK_ONLY eviction at the 1e7 rung).
  * This class is the shape of [[LongLongMap]]: pure data fields
  * (primitive key array + value array, no closures, no scala-collection
  * supertype for chill to claim), safe under Kryo's FieldSerializer by
  * construction, pinned by KryoRoundTripSpec's forced
  * serialize -> deserialize cycle.
  *
  * Same design as [[LongSet]]/[[LongLongMap]]: linear probing,
  * power-of-two table, growth at 2/3 load, no removal. `Long.MinValue`
  * marks empty slots with a side flag so any id is a valid key. Extends
  * `Long => Array[Float]` so it drops into `ArrayVectorStore(base = ...)`
  * directly.
  */
final class LongVecMap(initialCapacity: Int = 64)
    extends (Long => Array[Float]) with Serializable {
  private[this] val Empty = Long.MinValue
  private[this] var mask = {
    var cap = 16
    while (cap < initialCapacity * 2) cap <<= 1
    cap - 1
  }
  private[this] var ks = {
    val t = new Array[Long](mask + 1)
    java.util.Arrays.fill(t, Empty)
    t
  }
  private[this] var vs = new Array[Array[Float]](mask + 1)
  private[this] var n = 0
  private[this] var hasEmptyKey = false
  private[this] var emptyKeyVal: Array[Float] = null

  @inline private[this] def slot(x: Long): Int = {
    var h = x
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    (h ^ (h >>> 31)).toInt & mask
  }

  def put(k: Long, v: Array[Float]): Unit =
    if (k == Empty) { hasEmptyKey = true; emptyKeyVal = v }
    else {
      var i = slot(k)
      var kk = ks(i)
      while (kk != Empty && kk != k) { i = (i + 1) & mask; kk = ks(i) }
      if (kk != k) {
        ks(i) = k
        n += 1
        vs(i) = v
        if (n * 3 > ks.length * 2) grow()
      } else vs(i) = v
    }

  /** `m(id) = v` sugar at the build/ingest call sites. */
  @inline def update(k: Long, v: Array[Float]): Unit = put(k, v)

  def contains(k: Long): Boolean =
    if (k == Empty) hasEmptyKey
    else {
      var i = slot(k)
      var kk = ks(i)
      while (kk != Empty && kk != k) { i = (i + 1) & mask; kk = ks(i) }
      kk == k
    }

  /** Lookup; throws on absent key (the stores' contract for unknown
    * ids) — this backs every distance eval of the serving paths, so it
    * is allocation-free. */
  def apply(k: Long): Array[Float] =
    if (k == Empty) {
      if (hasEmptyKey) emptyKeyVal
      else throw new NoSuchElementException(s"key $k")
    } else {
      var i = slot(k)
      var kk = ks(i)
      while (kk != Empty && kk != k) { i = (i + 1) & mask; kk = ks(i) }
      if (kk == k) vs(i) else throw new NoSuchElementException(s"key $k")
    }

  def size: Int = n + (if (hasEmptyKey) 1 else 0)

  def isEmpty: Boolean = size == 0

  def foreach[U](f: ((Long, Array[Float])) => U): Unit = {
    if (hasEmptyKey) f((Empty, emptyKeyVal))
    var j = 0
    while (j < ks.length) {
      if (ks(j) != Empty) f((ks(j), vs(j)))
      j += 1
    }
  }

  /** Key-only walk, no tuple allocation (the census path). */
  def foreachKey(f: Long => Unit): Unit = {
    if (hasEmptyKey) f(Empty)
    var j = 0
    while (j < ks.length) {
      if (ks(j) != Empty) f(ks(j))
      j += 1
    }
  }

  def iterator: Iterator[(Long, Array[Float])] =
    keysIterator.map(k => (k, apply(k)))

  def keysIterator: Iterator[Long] = new Iterator[Long] {
    private[this] var j = 0
    private[this] var emitEmpty = hasEmptyKey
    private[this] def advance(): Unit =
      while (j < ks.length && ks(j) == Empty) j += 1
    advance()
    def hasNext: Boolean = emitEmpty || j < ks.length
    def next(): Long =
      if (emitEmpty) { emitEmpty = false; Empty }
      else { val k = ks(j); j += 1; advance(); k }
  }

  def valuesIterator: Iterator[Array[Float]] = {
    val base = Iterator.range(0, ks.length)
      .filter(j => ks(j) != Empty).map(vs(_))
    if (hasEmptyKey) Iterator.single(emptyKeyVal) ++ base else base
  }

  def keySet: Set[Long] = keysIterator.toSet

  def toArray: Array[(Long, Array[Float])] = {
    val out = new Array[(Long, Array[Float])](size)
    var o = 0
    foreach { kv => out(o) = kv; o += 1 }
    out
  }

  private[this] def grow(): Unit = {
    val ok = ks
    val ov = vs
    mask = (mask << 1) | 1
    ks = new Array[Long](mask + 1)
    java.util.Arrays.fill(ks, Empty)
    vs = new Array[Array[Float]](mask + 1)
    n = 0
    var j = 0
    while (j < ok.length) {
      val k = ok(j)
      if (k != Empty) {
        var i = slot(k)
        while (ks(i) != Empty) i = (i + 1) & mask
        ks(i) = k
        vs(i) = ov(j)
        n += 1
      }
      j += 1
    }
  }
}

object LongVecMap {
  def from(pairs: IterableOnce[(Long, Array[Float])],
           sizeHint: Int = 64): LongVecMap = {
    val m = new LongVecMap(sizeHint)
    pairs.iterator.foreach { case (k, v) => m.put(k, v) }
    m
  }
}
