package graft.hnsw

import graft.store.{ArrayVectorStore, Metrics}

/** Read-only, ordinal-indexed image of a frozen [[HnswModel]] — the
  * serving layout behind [[LayoutKernel]]. The engine reads vectors only
  * through the store contract ("is a or b closer to c"), so the layout
  * may differ from the broadcast payload's id-keyed maps:
  *
  *  - `ids` sorted ascending: a vertex's ordinal is the rank of its id,
  *    so `(dist, ordinal)` ties order exactly like `(dist, id)`;
  *  - every vector back to back in `data`, vector `o` in
  *    `[offsets(o), offsets(o + 1))` — unequal lengths keep the metrics'
  *    common-prefix semantics;
  *  - `normSq`: each vector's squared norm, summed in the same order as
  *    [[Metrics.cosineDist]] sums it, so cached norms are bit-identical;
  *  - per layer an Int-ordinal CSR (`layerOffsets(lc)` has n + 1 entries,
  *    `layerLinks(lc)` the neighbor ordinals in the snapshot's order).
  *
  * Built once per JVM from the model (never serialized); a model whose
  * graph names an id without a vector is rejected here.
  */
final class ServingLayout private (
    val ids: Array[Long],
    private[hnsw] val offsets: Array[Int],
    private[hnsw] val data: Array[Float],
    private[hnsw] val normSq: Array[Double],
    private[hnsw] val layerOffsets: Array[Array[Int]],
    private[hnsw] val layerLinks: Array[Array[Int]],
    /** entry ordinal, -1 for an empty graph */
    private[hnsw] val entry: Int,
    private[hnsw] val entryLayer: Int
) {
  def size: Int = ids.length
}

object ServingLayout {
  def of(model: HnswModel): ServingLayout = {
    val vecs = model.vectors
    val ids = vecs.keysIterator.toArray
    java.util.Arrays.sort(ids)
    val n = ids.length
    def ordinal(id: Long): Int = {
      val o = java.util.Arrays.binarySearch(ids, id)
      if (o < 0) throw new IllegalStateException(
        s"graph vertex $id has no vector in the model")
      o
    }

    val offsets = new Array[Int](n + 1)
    var total = 0L
    var o = 0
    while (o < n) {
      offsets(o) = total.toInt
      total += vecs(ids(o)).length
      o += 1
    }
    require(total <= Int.MaxValue,
      s"serving layout of $total floats exceeds one array")
    offsets(n) = total.toInt
    val data = new Array[Float](total.toInt)
    val normSq = new Array[Double](n)
    o = 0
    while (o < n) {
      val v = vecs(ids(o))
      System.arraycopy(v, 0, data, offsets(o), v.length)
      normSq(o) = squaredNorm(v)
      o += 1
    }

    val layers = model.snapshot.layers
    val layerOffsets = new Array[Array[Int]](layers.length)
    val layerLinks = new Array[Array[Int]](layers.length)
    var lc = 0
    while (lc < layers.length) {
      // srcs and ids both ascend: one merge walk assigns each src its row
      val l = layers(lc)
      val off = new Array[Int](n + 1)
      val links = new Array[Int](l.edgeCount)
      var s = 0
      o = 0
      while (o < n) {
        off(o) = l.offsets(s)
        if (s < l.size && l.srcs(s) == ids(o)) {
          var j = l.offsets(s)
          while (j < l.offsets(s + 1)) { links(j) = ordinal(l.dsts(j)); j += 1 }
          s += 1
        }
        o += 1
      }
      off(n) = l.offsets(s)
      if (s < l.size) ordinal(l.srcs(s)) // throws: a src without a vector
      layerOffsets(lc) = off
      layerLinks(lc) = links
      lc += 1
    }

    val (entry, entryLayer) = model.snapshot.entryPoint match {
      case Some(ep) => (ordinal(ep.point), ep.layer)
      case None     => (-1, -1)
    }
    new ServingLayout(ids, offsets, data, normSq, layerOffsets, layerLinks,
      entry, entryLayer)
  }

  /** Sum of squares in index order — the norm term of [[Metrics.cosineDist]]. */
  private[hnsw] def squaredNorm(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    s
  }
}

/** Per-partition k-NN over one [[HnswModel]]: built once per task
  * partition by [[HnswModel.kernel]], then reused for every query of the
  * partition (single-threaded). Both implementations return the same
  * `(id, dist)` lists as [[HnswSearcher.searchWithEf]] over an
  * [[ArrayVectorStore]]. */
sealed trait ModelKernel {
  /** The k nearest ids, layer-0 beam floored at `ef0` (see
    * [[HnswSearcher.searchWithEf]]; `ef0 = 0` is plain search). */
  def search(qvec: Array[Float], k: Int, ef0: Int): FurthestQueue

  /** Exact top-k, by `(dist, id)`, among the model's vectors whose id
    * passes `keep`. */
  def exactTopK(qvec: Array[Float], k: Int, keep: Long => Boolean): FurthestQueue
}

/** The generic path: the engine's [[HnswSearcher]] over the model's
  * id-keyed vectors and graph snapshot. Serves models that are replaced
  * after every mutation, where building a layout per snapshot would cost
  * more than it saves. */
private[hnsw] final class StoreKernel(m: HnswModel) extends ModelKernel {
  private[this] val searcher = new HnswSearcher(m.params)
  // the -1 query slot is re-staged per query
  private[this] val store =
    new ArrayVectorStore(Metrics.byName(m.metricName), base = m.vectors)

  def search(qvec: Array[Float], k: Int, ef0: Int): FurthestQueue =
    searcher.searchWithEf(store, m.snapshot,
      store.prepareQueryWithId(-1L, qvec), k, ef0)

  def exactTopK(qvec: Array[Float], k: Int, keep: Long => Boolean): FurthestQueue = {
    val q = store.prepareQueryWithId(-1L, qvec)
    val out = FurthestQueue.empty
    m.vectors.foreachKey { id =>
      if (keep(id)) {
        out.insert(id, store.evalDistance(q, id))
        if (out.size > k) out.dropFurthest()
      }
    }
    out
  }
}

/** [[HnswSearcher.searchWithEf]] over a [[ServingLayout]]: the same
  * descent, beam and admission order, on ordinals. A visited set is an
  * epoch stamp per ordinal, the beam and frontier queues are reused
  * across queries, a query's squared norm is summed once, and a stored
  * vector's comes from the layout. Distances equal
  * [[Metrics.cosineDist]]/[[Metrics.l2Sq]]/[[Metrics.negDot]] bit for
  * bit: the same terms summed in the same order. */
private[hnsw] final class LayoutKernel(l: ServingLayout, params: HnswParams,
                                       metricName: String) extends ModelKernel {
  private[this] val metric = metricName match {
    case "cosine" => 0
    case "l2"     => 1
    case "dot"    => 2
    case other    => throw new IllegalArgumentException(s"unknown metric: $other")
  }
  private[this] val marks = new Array[Int](l.size)
  private[this] var epoch = 0
  private[this] val w = FurthestQueue.empty
  private[this] val c = NearestQueue.empty
  private[this] var q: Array[Float] = Array.emptyFloatArray
  private[this] var qNormSq = 0.0

  private[this] def stage(qvec: Array[Float]): Unit = {
    q = qvec
    qNormSq = ServingLayout.squaredNorm(qvec)
  }

  /** Distance from the staged query to ordinal `o` — the query is the
    * metrics' left operand, as [[ArrayVectorStore.evalDistance]] passes it. */
  private[this] def dist(o: Int): Double = {
    val a = q
    val b = l.data
    val from = l.offsets(o)
    val len = l.offsets(o + 1) - from
    val n = math.min(a.length, len)
    var acc = 0.0
    var i = 0
    if (metric == 0) {
      // the cached norms cover whole vectors; a length mismatch sums
      // norms over the common prefix instead
      if (len != a.length)
        return Metrics.cosineDist(a, java.util.Arrays.copyOfRange(b, from, from + len))
      while (i < n) { acc += a(i).toDouble * b(from + i).toDouble; i += 1 }
      val na = qNormSq
      val nb = l.normSq(o)
      if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - acc / math.sqrt(na * nb)
    } else if (metric == 1) {
      while (i < n) { val d = a(i).toDouble - b(from + i).toDouble; acc += d * d; i += 1 }
      acc
    } else {
      while (i < n) { acc += a(i).toDouble * b(from + i).toDouble; i += 1 }
      -acc
    }
  }

  /** [[HnswSearcher.searchLayer]] on ordinals: neighbors are marked,
    * measured and admitted one at a time, which admits exactly what the
    * engine's mark-all / measure-all / admit-all batches admit. */
  private[this] def searchLayer(ef: Int, lc: Int): Unit = {
    if (epoch == Int.MaxValue) { java.util.Arrays.fill(marks, 0); epoch = 0 }
    epoch += 1
    var vi = 0
    while (vi < w.size) { marks(w.dstAt(vi).toInt) = epoch; vi += 1 }
    c.loadFrom(w)
    var fq = w.furthestDist
    val hasLayer = lc < l.layerOffsets.length
    val off = if (hasLayer) l.layerOffsets(lc) else null
    val links = if (hasLayer) l.layerLinks(lc) else null
    var continue = true
    while (continue && c.nonEmpty) {
      val cq = c.nearestDist
      val cand = c.popNearestDst().toInt
      if (fq < cq) continue = false
      else if (hasLayer) {
        var j = off(cand)
        val end = off(cand + 1)
        while (j < end) {
          val e = links(j)
          if (marks(e) != epoch) {
            marks(e) = epoch
            val eq = dist(e)
            var admit = true
            if (w.size >= ef) {
              if (eq < fq) w.dropFurthest()
              else admit = false
            }
            if (admit) {
              c.insert(e, eq)
              w.insert(e, eq)
              fq = w.furthestDist
            }
          }
          j += 1
        }
      }
    }
  }

  def search(qvec: Array[Float], k: Int, ef0: Int): FurthestQueue = {
    stage(qvec)
    w.clear()
    if (l.entry >= 0) {
      w.insert(l.entry, dist(l.entry))
      var lc = l.entryLayer
      while (lc >= 1) { searchLayer(params.getEfSearch(lc), lc); lc -= 1 }
      searchLayer(math.max(params.getEfSearch(0), ef0), 0)
    }
    w.trimToKNearest(k)
    val ids = l.ids
    w.map(o => ids(o.toInt), d => d)
  }

  def exactTopK(qvec: Array[Float], k: Int, keep: Long => Boolean): FurthestQueue = {
    stage(qvec)
    val out = FurthestQueue.empty
    var o = 0
    while (o < l.size) {
      val id = l.ids(o)
      if (keep(id)) {
        out.insert(id, dist(o))
        if (out.size > k) out.dropFurthest()
      }
      o += 1
    }
    out
  }
}
