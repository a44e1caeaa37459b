package graft.store

import graft.hnsw.LongVecMap

/** Append-only float-arena vector store: the live store of a streaming
  * index ([[graft.streaming.StreamingIngest.IncrementalIndex]]) and of
  * every float build, and the store an [[graft.hnsw.OrdinalGraph]] view
  * serves a frozen model from — the float [[OrdinalStore]].
  *
  *  - every stored vector back to back in one float arena, vector `o` in
  *    `[offsets(o), offsets(o + 1))` — ordinals in insertion order;
  *  - each vector's squared norm, summed in [[Metrics.cosineDist]]'s
  *    order, so a cosine distance reads only the dot product per pair.
  *
  * A query is prepared with its own squared norm ([[prepare]]) and
  * measured against ordinals with [[dist]] and [[measure]]; every distance
  * equals [[Metrics.cosineDist]]/[[Metrics.l2Sq]]/[[Metrics.negDot]] with
  * the query as left operand, bit for bit. Re-inserting a stored id (an
  * orphan restored from a mirror) overwrites its vector in place.
  *
  * @param matchThreshold distance at/below which two vectors are duplicates
  */
final class ArenaVectorStore(val metricName: String, matchThreshold: Double = 1e-12)
    extends OrdinalStore[Array[Float]] {
  import ArenaVectorStore._

  type Prepared = Query

  private[graft] val metric = metricCode(metricName)
  private[graft] var data = new Array[Float](0)
  private[graft] var offsets = new Array[Int](1)
  private[graft] var norms = new Array[Double](0)

  /** A copy of `id`'s stored vector. */
  def vector(id: Long): Array[Float] = {
    val o = ordinalOf(id)
    if (o < 0) throw new NoSuchElementException(s"key not found: $id")
    java.util.Arrays.copyOfRange(data, offsets(o), offsets(o + 1))
  }

  /** Copies of the stored vectors in ordinal order, under their ids. */
  def rows: Iterator[(Long, Array[Float])] =
    Iterator.range(0, n).map(o => (ids(o), java.util.Arrays.copyOfRange(data, offsets(o), offsets(o + 1))))

  /** Id -> copy of the vector, for every stored vector, put in ordinal
    * order. */
  def toLongVecMap: LongVecMap = LongVecMap.from(rows, n)

  /** A copy trimmed to the stored vectors. The id map stays behind: the
    * copy rebuilds it on its first lookup. */
  def copy(): ArenaVectorStore = {
    val c = new ArenaVectorStore(metricName, matchThreshold)
    c.n = n
    c.ids = java.util.Arrays.copyOf(ids, n)
    c.offsets = java.util.Arrays.copyOf(offsets, n + 1)
    c.data = java.util.Arrays.copyOf(data, offsets(n))
    c.norms = java.util.Arrays.copyOf(norms, n)
    c
  }

  override private[graft] def trim(): Unit = {
    super.trim()
    offsets = java.util.Arrays.copyOf(offsets, n + 1)
    data = java.util.Arrays.copyOf(data, offsets(n))
    norms = java.util.Arrays.copyOf(norms, n)
  }

  /** Room for one more vector of `floats` floats, growing by half. */
  private[this] def grow(floats: Int): Unit = {
    if (n == ids.length) {
      val cap = math.max(n + 1, ids.length + ids.length / 2)
      ids = java.util.Arrays.copyOf(ids, cap)
      norms = java.util.Arrays.copyOf(norms, cap)
      offsets = java.util.Arrays.copyOf(offsets, cap + 1)
    }
    val need = offsets(n).toLong + floats
    if (need > data.length) {
      require(need <= MaxFloats, s"vector arena of $need floats exceeds one array")
      val cap = math.min(MaxFloats.toLong, math.max(need, data.length + data.length / 2L))
      data = java.util.Arrays.copyOf(data, cap.toInt)
    }
  }

  /** Store `v` under `id` and return its ordinal: append it, or
    * overwrite the vector of an id already stored (which must keep its
    * length). */
  def insert(id: Long, v: Array[Float]): Int = {
    val o = ordinalOf(id)
    if (o >= 0) {
      require(offsets(o + 1) - offsets(o) == v.length,
        s"id $id re-inserted with ${v.length} floats, stored with ${offsets(o + 1) - offsets(o)}")
      System.arraycopy(v, 0, data, offsets(o), v.length)
      norms(o) = squaredNorm(v)
      o
    } else {
      grow(v.length)
      System.arraycopy(v, 0, data, offsets(n), v.length)
      offsets(n + 1) = offsets(n) + v.length
      norms(n) = squaredNorm(v)
      append(id)
    }
  }

  def isMatch(d: Double): Boolean = d <= matchThreshold

  def prepare(q: Array[Float]): Query = new Query(q, squaredNorm(q))

  // the contract's entry points forward to bodies that take the query's
  // parts as arguments: with a Spark session up, bodies that read them
  // from the Query ran the streaming insert ~20% slower
  def dist(p: Query, o: Int): Double = dist(p.v, p.normSq, o)
  def measure(p: Query, os: Array[Int], m: Int, out: Array[Double]): Unit =
    measure(p.v, p.normSq, os, m, out)

  /** Distance from `q` (squared norm `qNormSq`) to stored ordinal `o`. */
  def dist(q: Array[Float], qNormSq: Double, o: Int): Double = {
    val data = this.data
    val from = offsets(o)
    val len = offsets(o + 1) - from
    val n = math.min(q.length, len)
    var acc = 0.0
    var i = 0
    if (metric == Cosine) {
      // the cached norms cover whole vectors; a length mismatch sums
      // norms over the common prefix instead
      if (len != q.length)
        return Metrics.cosineDist(q, java.util.Arrays.copyOfRange(data, from, from + len))
      while (i < n) { acc += q(i).toDouble * data(from + i).toDouble; i += 1 }
      cosine(acc, qNormSq, norms(o))
    } else if (metric == L2) {
      while (i < n) { val d = q(i).toDouble - data(from + i).toDouble; acc += d * d; i += 1 }
      acc
    } else {
      while (i < n) { acc += q(i).toDouble * data(from + i).toDouble; i += 1 }
      -acc
    }
  }

  /** Distances from `q` to stored ordinals `os(0 until m)` into
    * `out(0 until m)`. Four vectors of the query's length are measured per
    * pass over the query, each pair with its own sequential accumulator;
    * the rest one at a time. */
  def measure(q: Array[Float], qNormSq: Double, os: Array[Int], m: Int,
              out: Array[Double]): Unit = {
    val data = this.data
    val offsets = this.offsets
    val norms = this.norms
    val n = q.length
    var i = 0
    while (i + 4 <= m) {
      val o0 = os(i); val o1 = os(i + 1); val o2 = os(i + 2); val o3 = os(i + 3)
      val f0 = offsets(o0); val f1 = offsets(o1); val f2 = offsets(o2); val f3 = offsets(o3)
      if (offsets(o0 + 1) - f0 != n || offsets(o1 + 1) - f1 != n ||
          offsets(o2 + 1) - f2 != n || offsets(o3 + 1) - f3 != n) {
        var j = i
        while (j < i + 4) { out(j) = dist(q, qNormSq, os(j)); j += 1 }
      } else {
        var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
        var k = 0
        if (metric == L2) {
          while (k < n) {
            val x = q(k).toDouble
            val d0 = x - data(f0 + k).toDouble; a0 += d0 * d0
            val d1 = x - data(f1 + k).toDouble; a1 += d1 * d1
            val d2 = x - data(f2 + k).toDouble; a2 += d2 * d2
            val d3 = x - data(f3 + k).toDouble; a3 += d3 * d3
            k += 1
          }
          out(i) = a0; out(i + 1) = a1; out(i + 2) = a2; out(i + 3) = a3
        } else {
          while (k < n) {
            val x = q(k).toDouble
            a0 += x * data(f0 + k).toDouble
            a1 += x * data(f1 + k).toDouble
            a2 += x * data(f2 + k).toDouble
            a3 += x * data(f3 + k).toDouble
            k += 1
          }
          if (metric == Cosine) {
            out(i) = cosine(a0, qNormSq, norms(o0))
            out(i + 1) = cosine(a1, qNormSq, norms(o1))
            out(i + 2) = cosine(a2, qNormSq, norms(o2))
            out(i + 3) = cosine(a3, qNormSq, norms(o3))
          } else {
            out(i) = -a0; out(i + 1) = -a1; out(i + 2) = -a2; out(i + 3) = -a3
          }
        }
      }
      i += 4
    }
    while (i < m) { out(i) = dist(q, qNormSq, os(i)); i += 1 }
  }
}

object ArenaVectorStore {
  /** A float query and its squared norm. */
  final class Query(val v: Array[Float], val normSq: Double)

  private[graft] final val Cosine = 0
  private[graft] final val L2 = 1
  private[graft] final val Dot = 2

  /** The largest float array the JVM allocates: the arena's cap. */
  private final val MaxFloats = Int.MaxValue - 8

  private[graft] def metricCode(name: String): Int = name match {
    case "cosine" => Cosine
    case "l2"     => L2
    case "dot"    => Dot
    case other    => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  /** Sum of squares in index order — the norm term of [[Metrics.cosineDist]]. */
  def squaredNorm(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    s
  }

  @inline private def cosine(dot: Double, na: Double, nb: Double): Double =
    if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / math.sqrt(na * nb)

  /** An arena holding `vecs(i)` under `ids(i)` at ordinal `i`, its arrays
    * sized to fit; the ids must be distinct. */
  private[graft] def of(metricName: String, ids: Array[Long],
                        vecs: Array[Array[Float]]): ArenaVectorStore = {
    val a = new ArenaVectorStore(metricName)
    val n = ids.length
    val offsets = new Array[Int](n + 1)
    var i = 0
    while (i < n) {
      val end = offsets(i).toLong + vecs(i).length
      require(end <= MaxFloats, s"vector arena of $end floats exceeds one array")
      offsets(i + 1) = end.toInt
      i += 1
    }
    a.data = new Array[Float](offsets(n))
    a.norms = new Array[Double](n)
    i = 0
    while (i < n) {
      System.arraycopy(vecs(i), 0, a.data, offsets(i), vecs(i).length)
      a.norms(i) = squaredNorm(vecs(i))
      i += 1
    }
    a.n = n
    a.ids = ids
    a.offsets = offsets
    a
  }
}
