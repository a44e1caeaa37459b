package graft.hnsw

/** One graph edge / search candidate: target vertex and its distance. */
final case class Neighbor(dst: Long, dist: Double)

/** Distance-ascending bounded candidate list — the HNSW working set
  * (reference: src/data_structures/queue.rs:12-114). Insertion keeps the
  * list sorted via binary search (queue.rs:162-182); ties are broken by id
  * so every queue state is a deterministic function of its contents
  * (the reference leaves tie order to insertion order — we strengthen to a
  * total order for reproducible distributed builds).
  *
  * Storage is two primitive parallel arrays, not a boxed
  * ArrayBuffer[Neighbor]: this queue is the innermost data structure of
  * every kernel path (layer search admits, connect_bidir re-trims), so
  * per-element object headers and pointer-chasing compares were the
  * largest remaining allocation source after the CSR snapshots. The
  * public API still speaks [[Neighbor]]; the non-allocating accessors
  * ([[furthestDist]], [[dstAt]]/[[distAt]]) exist for the hot loops.
  */
final class FurthestQueue private (
    private var ds: Array[Long],
    private var dd: Array[Double],
    private var n: Int
) extends Serializable {

  def this() = this(new Array[Long](8), new Array[Double](8), 0)

  def size: Int = n
  def isEmpty: Boolean = n == 0
  def nonEmpty: Boolean = n > 0

  /** Binary search for the ascending insertion index of (dist, id)
    * (reference queue.rs:162-182 `search_sorted`). Double.compare gives
    * a TOTAL order with NaN greatest — a corrupt (NaN) distance sorts to
    * the tail where trimming evicts it, never to the head where it would
    * become a permanent false "nearest". */
  private def insertionIndex(dist: Double, dst: Long): Int = {
    var left = 0
    var right = n
    while (left < right) {
      val mid = left + (right - left) / 2
      val c = java.lang.Double.compare(dd(mid), dist)
      if (c < 0 || (c == 0 && ds(mid) < dst)) left = mid + 1
      else right = mid
    }
    left
  }

  private def ensure(cap: Int): Unit =
    if (cap > ds.length) {
      val next = math.max(cap, ds.length * 2)
      ds = java.util.Arrays.copyOf(ds, next)
      dd = java.util.Arrays.copyOf(dd, next)
    }

  /** Ordered insert (reference queue.rs:30-45). */
  def insert(dst: Long, dist: Double): Unit = {
    val i = insertionIndex(dist, dst)
    ensure(n + 1)
    System.arraycopy(ds, i, ds, i + 1, n - i)
    System.arraycopy(dd, i, dd, i + 1, n - i)
    ds(i) = dst
    dd(i) = dist
    n += 1
  }

  /** Head = best candidate (reference queue.rs:47-49). */
  def getNearest: Option[Neighbor] =
    if (n == 0) None else Some(Neighbor(ds(0), dd(0)))

  /** Last = worst candidate (reference queue.rs:51-53). */
  def getFurthest: Option[Neighbor] =
    if (n == 0) None else Some(Neighbor(ds(n - 1), dd(n - 1)))

  /** Worst distance without the Option/Neighbor boxing — kernel hot
    * path; requires nonEmpty. */
  def furthestDist: Double = dd(n - 1)

  /** Positional reads for allocation-free iteration (0 <= i < size). */
  def dstAt(i: Int): Long = ds(i)
  def distAt(i: Int): Double = dd(i)

  /** Drop and return the worst candidate (reference queue.rs:55-57). */
  def popFurthest(): Option[Neighbor] =
    if (n == 0) None
    else {
      n -= 1
      Some(Neighbor(ds(n), dd(n)))
    }

  /** [[popFurthest]] without the Option/Neighbor result — the beam
    * eviction of every layer search; no-op when empty. */
  def dropFurthest(): Unit = if (n > 0) n -= 1

  /** Empty the queue, keeping its arrays (per-partition scratch reuse). */
  def clear(): Unit = n = 0

  /** First k in ascending order (reference queue.rs:59-61). */
  def kNearest(k: Int): Seq[Neighbor] = {
    val m = math.min(k, n)
    (0 until m).map(i => Neighbor(ds(i), dd(i)))
  }

  /** Keep only the k best (reference queue.rs:63-65). */
  def trimToKNearest(k: Int): Unit = if (k < n) n = k

  /** Element-wise remap preserving order (reference queue.rs:68-85; order
    * preservation assumes the maps don't change the metric). */
  def map(vectorMap: Long => Long, distMap: Double => Double): FurthestQueue = {
    val nds = new Array[Long](n)
    val ndd = new Array[Double](n)
    var i = 0
    while (i < n) { nds(i) = vectorMap(ds(i)); ndd(i) = distMap(dd(i)); i += 1 }
    new FurthestQueue(nds, ndd, n)
  }

  def toArray: Array[Neighbor] = Array.tabulate(n)(i => Neighbor(ds(i), dd(i)))
  def iterator: Iterator[Neighbor] =
    (0 until n).iterator.map(i => Neighbor(ds(i), dd(i)))
  /** A copy with room for `extra` more entries before its arrays grow. */
  def copy(extra: Int = 0): FurthestQueue =
    new FurthestQueue(java.util.Arrays.copyOf(ds, n + extra),
      java.util.Arrays.copyOf(dd, n + extra), n)

  override def equals(o: Any): Boolean = o match {
    case q: FurthestQueue =>
      // element-wise (dst, dist ==) — the ArrayBuffer[Neighbor] contract
      // this class replaced (case-class Double equality, so NaN != NaN)
      q.n == n && {
        var i = 0
        var same = true
        while (same && i < n) {
          same = q.ds(i) == ds(i) && q.dd(i) == dd(i)
          i += 1
        }
        same
      }
    case _ => false
  }
  override def hashCode(): Int = {
    var h = scala.util.hashing.MurmurHash3.arraySeed
    var i = 0
    while (i < n) {
      h = scala.util.hashing.MurmurHash3.mix(h, ds(i).##)
      h = scala.util.hashing.MurmurHash3.mix(h, dd(i).##)
      i += 1
    }
    scala.util.hashing.MurmurHash3.finalizeHash(h, n)
  }
  override def toString: String =
    s"FurthestQueue(${iterator.mkString(", ")})"
}

object FurthestQueue {
  def empty: FurthestQueue = new FurthestQueue()

  /** Wrap an already-ascending list (reference queue.rs:23-25). */
  def fromAscending(ns: Seq[Neighbor]): FurthestQueue = {
    val n = ns.size
    val ds = new Array[Long](math.max(n, 1))
    val dd = new Array[Double](math.max(n, 1))
    var i = 0
    val it = ns.iterator
    while (it.hasNext) { val x = it.next(); ds(i) = x.dst; dd(i) = x.dist; i += 1 }
    new FurthestQueue(ds, dd, n)
  }

  /** Sort arbitrary candidates into a queue. */
  def fromUnsorted(ns: Seq[Neighbor]): FurthestQueue =
    fromAscending(ns.sortBy(n => (n.dist, n.dst)))
}

/** Distance-descending list with fast pop of the best candidate — the
  * traversal frontier of layer search (reference queue.rs:116-159).
  * Same primitive-parallel-array storage as [[FurthestQueue]]. */
final class NearestQueue private (
    private var ds: Array[Long],
    private var dd: Array[Double],
    private var n: Int
) {

  def size: Int = n
  def nonEmpty: Boolean = n > 0

  /** Ordered insert, descending (reference queue.rs:132-149).
    * Double.compare: total order, NaN greatest -> a NaN candidate sits
    * at the far (popped-last) end. */
  def insert(dst: Long, dist: Double): Unit = {
    var left = 0
    var right = n
    // descending by dist, then by id descending, so pop order is (dist, id) asc
    while (left < right) {
      val mid = left + (right - left) / 2
      val c = java.lang.Double.compare(dd(mid), dist)
      if (c > 0 || (c == 0 && ds(mid) > dst)) left = mid + 1
      else right = mid
    }
    if (n == ds.length) {
      val next = math.max(8, ds.length * 2)
      ds = java.util.Arrays.copyOf(ds, next)
      dd = java.util.Arrays.copyOf(dd, next)
    }
    System.arraycopy(ds, left, ds, left + 1, n - left)
    System.arraycopy(dd, left, dd, left + 1, n - left)
    ds(left) = dst
    dd(left) = dist
    n += 1
  }

  /** Pop the best (smallest-distance) candidate (reference queue.rs:156-158). */
  def popNearest(): Option[Neighbor] =
    if (n == 0) None
    else {
      n -= 1
      Some(Neighbor(ds(n), dd(n)))
    }

  /** Non-allocating split of popNearest for the kernel: read the best
    * distance, then pop its id. Requires nonEmpty. */
  def nearestDist: Double = dd(n - 1)
  def popNearestDst(): Long = { n -= 1; ds(n) }

  /** Replace the contents with `q` reversed into visit order (reference
    * queue.rs:123-127), reusing this queue's arrays when they fit. */
  def loadFrom(q: FurthestQueue): Unit = {
    val m = q.size
    if (m > ds.length) {
      ds = new Array[Long](m)
      dd = new Array[Double](m)
    }
    var i = 0
    while (i < m) {
      ds(i) = q.dstAt(m - 1 - i)
      dd(i) = q.distAt(m - 1 - i)
      i += 1
    }
    n = m
  }
}

object NearestQueue {
  def empty: NearestQueue = new NearestQueue(new Array[Long](8), new Array[Double](8), 0)

  /** Reverse a FurthestQueue into visit order (reference queue.rs:123-127). */
  def fromFurthestQueue(q: FurthestQueue): NearestQueue = {
    val c = new NearestQueue(new Array[Long](math.max(q.size, 1)),
      new Array[Double](math.max(q.size, 1)), 0)
    c.loadFrom(q)
    c
  }
}
