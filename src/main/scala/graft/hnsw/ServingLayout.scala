package graft.hnsw

import graft.store.{ArenaVectorStore, ArrayVectorStore, Metrics}

/** Read-only, ordinal-indexed serving image of an HNSW graph and its
  * vectors — the layout behind [[LayoutKernel]]. The engine reads vectors
  * only through the store contract ("is a or b closer to c"), so the
  * layout may differ from the id-keyed maps it was built from:
  *
  *  - `ids` sorted ascending: a vertex's ordinal is the rank of its id,
  *    so `(dist, ordinal)` ties order exactly like `(dist, id)`;
  *  - every vector back to back in `data`, vector `o` in
  *    `[offsets(o), offsets(o + 1))` — unequal lengths keep the metrics'
  *    common-prefix semantics;
  *  - `normSq`: each vector's squared norm, summed in the same order as
  *    [[Metrics.cosineDist]] sums it, so cached norms are bit-identical;
  *  - per layer an Int-ordinal CSR (`layerOffsets(lc)` has n + 1 entries,
  *    `layerLinks(lc)` the neighbor ordinals in the graph's order).
  *
  * Two sources build it: an [[HnswModel]] ([[ServingLayout.of]], once
  * per JVM, never serialized) and a streaming index's arena and ordinal
  * graph (once per mutation, broadcast as a [[ServingImage]]). The layout
  * owns its arrays. A model graph that names an id without a vector is
  * rejected.
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
) extends Serializable {
  def size: Int = ids.length
}

object ServingLayout {
  def of(model: HnswModel): ServingLayout = {
    val vecs = model.vectors
    val ids = vecs.keysIterator.toArray
    java.util.Arrays.sort(ids)
    val n = ids.length

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
      normSq(o) = ArenaVectorStore.squaredNorm(v)
      o += 1
    }

    val ranks = new LongLongMap(n)
    o = 0
    while (o < n) { ranks.put(ids(o), o); o += 1 }
    val ordinal = (id: Long) => vertex(id, ranks.getOrElse(id, -1L).toInt)
    val snap = model.snapshot
    val csr = snap.layers.map { l =>
      // srcs and ids both ascend: one merge walk finds each rank's row
      val row = new Array[Int](n)
      var s = 0
      o = 0
      while (o < n) {
        if (s < l.size && l.srcs(s) == ids(o)) { row(o) = s; s += 1 }
        else row(o) = -1
        o += 1
      }
      if (s < l.size) ordinal(l.srcs(s)) // throws: a src without a vector
      linkCsr(n, ordinal,
        r => { val i = row(r); if (i < 0) 0 else l.offsets(i + 1) - l.offsets(i) },
        (r, k) => l.dsts(l.offsets(row(r)) + k))
    }
    new ServingLayout(ids, offsets, data, normSq, csr.map(_._1), csr.map(_._2),
      snap.entryPoint.fold(-1)(ep => ordinal(ep.point)),
      snap.entryPoint.fold(-1)(_.layer))
  }

  /** The image of a streaming index: its arena's vectors and its live
    * graph's rows, copied, so the index may keep mutating both. Arena
    * ordinals are in insertion order; vectors and rows are permuted into
    * rank order, and each link maps to its rank through one `Int` array. */
  def of(arena: ArenaVectorStore, graph: OrdinalGraph): ServingLayout = {
    val n = arena.size
    val perm = arena.idOrder // rank -> arena ordinal
    val ids = perm.map(a => arena.ids(a))
    val rank = new Array[Int](n)
    val offsets = new Array[Int](n + 1)
    val normSq = new Array[Double](n)
    var r = 0
    while (r < n) {
      val a = perm(r)
      rank(a) = r
      offsets(r + 1) = offsets(r) + arena.offsets(a + 1) - arena.offsets(a)
      normSq(r) = arena.norms(a)
      r += 1
    }
    val data = new Array[Float](offsets(n))
    r = 0
    while (r < n) {
      val a = perm(r)
      System.arraycopy(arena.data, arena.offsets(a), data, offsets(r), offsets(r + 1) - offsets(r))
      r += 1
    }

    val layerOffsets = new Array[Array[Int]](graph.numLayers)
    val layerLinks = new Array[Array[Int]](graph.numLayers)
    var lc = 0
    while (lc < graph.numLayers) {
      val rows = graph.rows(lc)
      val deg = graph.degrees(lc)
      val off = new Array[Int](n + 1)
      r = 0
      while (r < n) {
        val a = perm(r)
        off(r + 1) = off(r) + (if (a < rows.length && rows(a) != null) deg(a) else 0)
        r += 1
      }
      val links = new Array[Int](off(n))
      r = 0
      while (r < n) {
        var j = off(r)
        if (j < off(r + 1)) {
          val row = rows(perm(r))
          var k = 0
          while (j < off(r + 1)) { links(j) = rank(row(k)); j += 1; k += 1 }
        }
        r += 1
      }
      layerOffsets(lc) = off
      layerLinks(lc) = links
      lc += 1
    }
    new ServingLayout(ids, offsets, data, normSq, layerOffsets, layerLinks,
      if (graph.entry < 0) -1 else rank(graph.entry), graph.entryLayer)
  }

  private def vertex(id: Long, o: Int): Int =
    if (o < 0) throw new IllegalStateException(s"graph vertex $id has no vector")
    else o

  /** One layer's Int-ordinal CSR in rank order: rank `r`'s row holds
    * `ordinal(dst(r, k))` for `k < degree(r)` — the one id -> ordinal
    * pass behind both sources. */
  private def linkCsr(n: Int, ordinal: Long => Int, degree: Int => Int,
                      dst: (Int, Int) => Long): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    var r = 0
    while (r < n) { off(r + 1) = off(r) + degree(r); r += 1 }
    val links = new Array[Int](off(n))
    r = 0
    while (r < n) {
      var j = off(r)
      var k = 0
      while (j < off(r + 1)) { links(j) = ordinal(dst(r, k)); j += 1; k += 1 }
      r += 1
    }
    (off, links)
  }
}

/** What [[HnswDistributed.searchBroadcast]] serves: a broadcast value
  * that builds a per-partition [[ModelKernel]]. */
trait KernelSource extends Serializable {
  def kernel(): ModelKernel
}

/** A [[ServingLayout]] with the parameters and metric its kernel needs —
  * what a streaming index broadcasts after each mutation in place of its
  * id-keyed [[HnswModel]]. */
final case class ServingImage(params: HnswParams, metricName: String,
                              layout: ServingLayout) extends KernelSource {
  def size: Int = layout.size
  def kernel(): ModelKernel = new LayoutKernel(layout, params, metricName)
}

/** Per-partition k-NN over one [[HnswModel]]: built once per task
  * partition by [[HnswModel.kernel]], then reused for every query of the
  * partition (single-threaded). It returns the same `(id, dist)` lists
  * as [[HnswSearcher.searchWithEf]] over an [[ArrayVectorStore]]. */
sealed trait ModelKernel {
  /** The k nearest ids, layer-0 beam floored at `ef0` (see
    * [[HnswSearcher.searchWithEf]]; `ef0 = 0` is plain search). */
  def search(qvec: Array[Float], k: Int, ef0: Int): FurthestQueue

  /** Exact top-k, by `(dist, id)`, among the model's vectors whose id
    * passes `keep`. */
  def exactTopK(qvec: Array[Float], k: Int, keep: Long => Boolean): FurthestQueue
}

/** [[HnswSearcher.searchWithEf]] over a [[ServingLayout]]: the same
  * descent, beam and admission order, on ordinals. A visited set is an
  * epoch stamp per ordinal, the beam and frontier queues are reused
  * across queries, a query's squared norm is summed once, and a stored
  * vector's comes from the layout. Distances equal
  * [[Metrics.cosineDist]]/[[Metrics.l2Sq]]/[[Metrics.negDot]] bit for
  * bit ([[ArenaVectorStore.measure]]). */
private[hnsw] final class LayoutKernel(l: ServingLayout, params: HnswParams,
                                       metricName: String) extends ModelKernel {
  private[this] val metric = ArenaVectorStore.metricCode(metricName)
  private[this] val marks = new Array[Int](l.size)
  private[this] var epoch = 0
  private[this] val w = FurthestQueue.empty
  private[this] val c = NearestQueue.empty
  private[this] var q: Array[Float] = Array.emptyFloatArray
  private[this] var qNormSq = 0.0
  // one expansion's unvisited neighbors and their distances
  private[this] var fresh = new Array[Int](64)
  private[this] var freshDist = new Array[Double](64)

  private[this] def stage(qvec: Array[Float]): Unit = {
    q = qvec
    qNormSq = ArenaVectorStore.squaredNorm(qvec)
  }

  /** Distance from the staged query to ordinal `o` — the query is the
    * metrics' left operand, as [[ArrayVectorStore.evalDistance]] passes it. */
  private[this] def dist(o: Int): Double =
    ArenaVectorStore.dist(metric, q, qNormSq, l.data, l.offsets, l.normSq, o)

  /** [[HnswSearcher.searchLayer]] on ordinals: an expansion marks its
    * unvisited neighbors, measures them four per pass, then admits them
    * in link order, as the engine's mark-all / measure-all / admit-all
    * batches do. */
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
        val end = off(cand + 1)
        if (fresh.length < end - off(cand)) {
          fresh = new Array[Int](end - off(cand))
          freshDist = new Array[Double](end - off(cand))
        }
        var m = 0
        var j = off(cand)
        while (j < end) {
          val e = links(j)
          if (marks(e) != epoch) { marks(e) = epoch; fresh(m) = e; m += 1 }
          j += 1
        }
        ArenaVectorStore.measure(metric, q, qNormSq, l.data, l.offsets, l.normSq,
          fresh, m, freshDist)
        var i = 0
        while (i < m) {
          val eq = freshDist(i)
          var admit = true
          if (w.size >= ef) {
            if (eq < fq) w.dropFurthest()
            else admit = false
          }
          if (admit) {
            c.insert(fresh(i), eq)
            w.insert(fresh(i), eq)
            fq = w.furthestDist
          }
          i += 1
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
