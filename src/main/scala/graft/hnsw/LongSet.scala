package graft.hnsw

/** Minimal open-addressing primitive long hash set (linear probing,
  * power-of-two table, growth at 2/3 load, no removal) — the visited
  * set of the search kernel. `scala.collection.mutable.HashSet[Long]`
  * boxes every element; a 100k-vector build performs on the order of
  * 1e8 visited-set operations, so boxing is measurable allocation +
  * cache pressure in the kernel's hottest loop.
  *
  * `Long.MinValue` marks empty slots; that one value is tracked by a
  * side flag so ANY long is a valid member (vertex ids are normally
  * nonnegative, but the set must not silently corrupt if they aren't).
  */
/** Open-addressing primitive long -> long map (same design notes as
  * [[LongSet]]): a store's id -> ordinal map, and the id-keyed view of a
  * code holder's codes, derived on demand — `mutable.LongMap[Long]`
  * boxes its values and its getOrElse allocates an Option per lookup.
  * No removal. */
final class LongLongMap(initialCapacity: Int = 64) extends Serializable {
  private[this] val Empty = Long.MinValue
  private[this] var mask = {
    var cap = 16
    while (cap < initialCapacity * 2) cap <<= 1
    cap - 1
  }
  private[this] var keys = {
    val t = new Array[Long](mask + 1)
    java.util.Arrays.fill(t, Empty)
    t
  }
  private[this] var vals = new Array[Long](mask + 1)
  private[this] var n = 0
  private[this] var hasEmptyKey = false
  private[this] var emptyKeyVal = 0L

  @inline private[this] def slot(x: Long): Int = {
    var h = x
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    (h ^ (h >>> 31)).toInt & mask
  }

  def put(k: Long, v: Long): Unit =
    if (k == Empty) { hasEmptyKey = true; emptyKeyVal = v }
    else {
      var i = slot(k)
      var kk = keys(i)
      while (kk != Empty && kk != k) { i = (i + 1) & mask; kk = keys(i) }
      if (kk != k) {
        keys(i) = k
        n += 1
        vals(i) = v
        if (n * 3 > keys.length * 2) grow()
      } else vals(i) = v
    }

  def contains(k: Long): Boolean =
    if (k == Empty) hasEmptyKey
    else {
      var i = slot(k)
      var kk = keys(i)
      while (kk != Empty && kk != k) { i = (i + 1) & mask; kk = keys(i) }
      kk == k
    }

  /** Lookup with a fallback for an absent key (allocation-free). */
  def getOrElse(k: Long, default: Long): Long =
    if (k == Empty) { if (hasEmptyKey) emptyKeyVal else default }
    else {
      var i = slot(k)
      var kk = keys(i)
      while (kk != Empty && kk != k) { i = (i + 1) & mask; kk = keys(i) }
      if (kk == k) vals(i) else default
    }

  /** Lookup; throws on absent key (the stores' contract for unknown ids). */
  def apply(k: Long): Long =
    if (k == Empty) {
      if (hasEmptyKey) emptyKeyVal
      else throw new NoSuchElementException(s"key $k")
    } else {
      var i = slot(k)
      var kk = keys(i)
      while (kk != Empty && kk != k) { i = (i + 1) & mask; kk = keys(i) }
      if (kk == k) vals(i) else throw new NoSuchElementException(s"key $k")
    }

  def size: Int = n + (if (hasEmptyKey) 1 else 0)

  def isEmpty: Boolean = size == 0

  def toSeq: Seq[(Long, Long)] = {
    val b = Seq.newBuilder[(Long, Long)]
    b.sizeHint(size)
    foreach((k, v) => b += ((k, v)))
    b.result()
  }

  def foreach(f: (Long, Long) => Unit): Unit = {
    if (hasEmptyKey) f(Empty, emptyKeyVal)
    var j = 0
    while (j < keys.length) {
      if (keys(j) != Empty) f(keys(j), vals(j))
      j += 1
    }
  }

  /** Lazy key walk (the [[LongVecMap.keysIterator]] shape) — lets
    * callers early-exit (`exists`, `take`) without paying a full-table
    * foreach; the shared lifecycle's touched-cell detection and ingest
    * clash scans run on this. */
  def keysIterator: Iterator[Long] = new Iterator[Long] {
    private[this] var j = 0
    private[this] var emitEmpty = hasEmptyKey
    private[this] def advance(): Unit =
      while (j < keys.length && keys(j) == Empty) j += 1
    advance()
    def hasNext: Boolean = emitEmpty || j < keys.length
    def next(): Long =
      if (emitEmpty) { emitEmpty = false; Empty }
      else { val k = keys(j); j += 1; advance(); k }
  }

  private[this] def grow(): Unit = {
    val ok = keys
    val ov = vals
    mask = (mask << 1) | 1
    keys = new Array[Long](mask + 1)
    java.util.Arrays.fill(keys, Empty)
    vals = new Array[Long](mask + 1)
    n = 0
    var j = 0
    while (j < ok.length) {
      val k = ok(j)
      if (k != Empty) {
        var i = slot(k)
        while (keys(i) != Empty) i = (i + 1) & mask
        keys(i) = k
        vals(i) = ov(j)
        n += 1
      }
      j += 1
    }
  }
}

object LongLongMap {
  def from(pairs: Iterator[(Long, Long)], sizeHint: Int = 64): LongLongMap = {
    val m = new LongLongMap(sizeHint)
    pairs.foreach { case (k, v) => m.put(k, v) }
    m
  }
}

final class LongSet(initialCapacity: Int = 64) extends Serializable {
  private[this] val Empty = Long.MinValue
  private[this] var mask = {
    var cap = 16
    while (cap < initialCapacity * 2) cap <<= 1
    cap - 1
  }
  private[this] var table = {
    val t = new Array[Long](mask + 1)
    java.util.Arrays.fill(t, Empty)
    t
  }
  private[this] var n = 0
  private[this] var hasEmptySentinel = false

  /** Mix the id into a table slot (finalizer from splitmix64). */
  @inline private[this] def slot(x: Long): Int = {
    var h = x
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    (h ^ (h >>> 31)).toInt & mask
  }

  /** Add; returns true iff `x` was not already present. */
  def add(x: Long): Boolean =
    if (x == Empty) {
      val fresh = !hasEmptySentinel
      hasEmptySentinel = true
      fresh
    } else {
      var i = slot(x)
      var v = table(i)
      while (v != Empty && v != x) {
        i = (i + 1) & mask
        v = table(i)
      }
      if (v == x) false
      else {
        table(i) = x
        n += 1
        if (n * 3 > table.length * 2) grow()
        true
      }
    }

  def contains(x: Long): Boolean =
    if (x == Empty) hasEmptySentinel
    else {
      var i = slot(x)
      var v = table(i)
      while (v != Empty && v != x) {
        i = (i + 1) & mask
        v = table(i)
      }
      v == x
    }

  def size: Int = n + (if (hasEmptySentinel) 1 else 0)

  private[this] def grow(): Unit = {
    val old = table
    mask = (mask << 1) | 1
    table = new Array[Long](mask + 1)
    java.util.Arrays.fill(table, Empty)
    n = 0
    var j = 0
    while (j < old.length) {
      val v = old(j)
      if (v != Empty) {
        var i = slot(v)
        while (table(i) != Empty) i = (i + 1) & mask
        table(i) = v
        n += 1
      }
      j += 1
    }
  }
}
