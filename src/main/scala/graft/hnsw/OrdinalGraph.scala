package graft.hnsw

import graft.store.{ArenaVectorStore, CodeArena, CodeQuery, EntryPoint, GraphSnapshot, LayerCsr,
  OrdinalStore}

/** The HNSW graph of every index on the ordinals of its
  * [[OrdinalStore]] — the one engine that builds and serves float vectors
  * ([[ArenaVectorStore]]) and u64 codes under Hamming distance or PQ ADC
  * ([[graft.store.CodeArena]]). A live graph (a streaming index, a build,
  * a routed cell's grow) runs the engine's two-phase insert
  * ([[HnswSearcher.searchToInsert]], [[HnswSearcher.isMatch]],
  * [[HnswSearcher.insertFromSearchResults]]); a read-only view over
  * [[OrdinalRows]] serves k-NN ([[search]], [[exactTopK]]) for a frozen
  * model, a shard, a routed cell or a streaming image, with no id lookup
  * per edge walked. A frozen graph keeps the form it was grown in
  * ([[OrdinalForm]]): its store and rows, shared by every view.
  *
  *  - per layer and ordinal, an `Int` neighbour row and its `Double`
  *    distances (null: no row at that layer; a view has no distances);
  *  - the entry point as an ordinal;
  *  - visited marks as an epoch stamp per ordinal;
  *  - a query prepared once per search, then measured against each
  *    expansion's unvisited neighbours in one [[OrdinalStore.measure]].
  *
  * Store ordinals need not follow id order, so every row and beam here
  * breaks distance ties by the ordinal's id, as [[FurthestQueue]] and
  * [[NearestQueue]] do: each row, entry point, beam and result list is
  * the one [[HnswSearcher]] builds or returns over an id-keyed store and
  * an [[graft.store.InMemoryGraph]] fed the same inserts. Ids cross into
  * ordinals only at the edges: [[OrdinalForm.of]] and
  * [[OrdinalForm.snapshot]], the rows a mirror reads ([[foreachTouched]])
  * and the results of a search.
  *
  * One graph or view serves one thread at a time.
  */
final class OrdinalGraph[Q](params: HnswParams, store: OrdinalStore[Q]) extends Serializable {
  // per layer, indexed by ordinal: neighbour ordinals, their distances,
  // the row's length
  private[hnsw] var rows = Array.empty[Array[Array[Int]]]
  private[hnsw] var rowDists = Array.empty[Array[Array[Double]]]
  private[hnsw] var degrees = Array.empty[Array[Int]]
  /** entry ordinal, -1 for an empty graph */
  private[hnsw] var entry = -1
  private[hnsw] var entryLayer = -1

  private[this] var marks = new Array[Int](0)
  private[this] var epoch = 0
  private[this] val frontier = new OrdinalFrontier
  private[this] val beam = new OrdinalQueue
  // one expansion's unvisited neighbours and their distances
  private[this] var fresh = new Array[Int](64)
  private[this] var freshDist = new Array[Double](64)

  // rows and entry written since the last clearTouched, for a mirror
  private[this] var recording = false
  private[this] var touchedKeys = new LongSet()
  private[this] var touched = new Array[Long](64)
  private[this] var nTouched = 0
  private[this] var entryTouched = false

  /** A read-only view of `copy` over `store` with marks, a frontier and a
    * beam of its own: it serves [[searchToInsert]], [[search]] and
    * [[exactTopK]]; without distances it cannot connect. */
  def this(params: HnswParams, store: OrdinalStore[Q], copy: OrdinalRows) = {
    this(params, store)
    rows = copy.rows; degrees = copy.degrees; entry = copy.entry; entryLayer = copy.entryLayer
  }

  def numLayers: Int = rows.length

  /** Whether ordinal `o`'s insertion completed: it has a row or is the entry. */
  def contains(o: Int): Boolean = o == entry || {
    var lc = 0
    while (lc < rows.length && !(o < rows(lc).length && rows(lc)(o) != null)) lc += 1
    lc < rows.length
  }

  /** Grow the layer stack to `n` layers without moving the entry point. */
  private[this] def ensureLayers(n: Int): Unit =
    while (rows.length < n) {
      rows :+= new Array[Array[Int]](0)
      rowDists :+= new Array[Array[Double]](0)
      degrees :+= new Array[Int](0)
    }

  /** Room for ordinal `o` at layer `lc`, growing by half. */
  private[this] def reserve(lc: Int, o: Int): Unit =
    if (o >= rows(lc).length) {
      val cap = math.max(o + 1, rows(lc).length + rows(lc).length / 2)
      rows(lc) = java.util.Arrays.copyOf(rows(lc), cap)
      rowDists(lc) = java.util.Arrays.copyOf(rowDists(lc), cap)
      degrees(lc) = java.util.Arrays.copyOf(degrees(lc), cap)
    }

  /** Record every write from now on, for [[foreachTouched]]. */
  def recordTouches(): Unit = recording = true

  private[this] def touch(o: Int, lc: Int): Unit =
    if (recording && touchedKeys.add((o.toLong << 8) | lc)) {
      if (nTouched == touched.length) touched = java.util.Arrays.copyOf(touched, nTouched * 2)
      touched(nTouched) = (o.toLong << 8) | lc
      nTouched += 1
    }

  /** `f(ordinal, layer)` for each row written since [[clearTouched]]. */
  def foreachTouched(f: (Int, Int) => Unit): Unit = {
    var i = 0
    while (i < nTouched) { f((touched(i) >>> 8).toInt, (touched(i) & 0xff).toInt); i += 1 }
  }

  def entryPointTouched: Boolean = entryTouched

  /** The entry point by id. */
  def entryPoint: Option[EntryPoint] =
    if (entry < 0) None else Some(EntryPoint(store.ids(entry), entryLayer))

  def clearTouched(): Unit = {
    if (nTouched > 0) touchedKeys = new LongSet()
    nTouched = 0
    entryTouched = false
  }

  /** The entry point; a new one must be on a strictly higher layer. */
  private[this] def setEntry(o: Int, layer: Int): Unit = {
    require(entry < 0 || entryLayer < layer,
      s"a new entry point must be on a higher layer ($entryLayer -> $layer)")
    ensureLayers(layer + 1)
    entry = o
    entryLayer = layer
    entryTouched = recording
  }

  /** Replace `o`'s row at layer `lc` with `m` neighbours. */
  private[this] def setRow(o: Int, lc: Int, os: Array[Int], ds: Array[Double], m: Int): Unit = {
    require(lc < rows.length, s"layer $lc not initialized (have ${rows.length})")
    reserve(lc, o)
    rows(lc)(o) = java.util.Arrays.copyOf(os, m)
    rowDists(lc)(o) = java.util.Arrays.copyOf(ds, m)
    degrees(lc)(o) = m
    touch(o, lc)
  }

  /** [[HnswSearcher.connectBidir]]'s reverse edge: insert `(q, d)` into
    * `n`'s row at `lc` in `(dist, id)` order, then keep the first
    * `maxLinks`. */
  private[this] def addLink(n: Int, lc: Int, q: Int, d: Double, maxLinks: Int): Unit = {
    reserve(lc, n)
    if (rows(lc)(n) == null) {
      rows(lc)(n) = new Array[Int](0)
      rowDists(lc)(n) = new Array[Double](0)
    }
    var row = rows(lc)(n)
    var dist = rowDists(lc)(n)
    val cnt = degrees(lc)(n)
    val ids = store.ids
    val qid = ids(q)
    var left = 0
    var right = cnt
    while (left < right) {
      val mid = (left + right) >>> 1
      val c = java.lang.Double.compare(dist(mid), d)
      if (c < 0 || (c == 0 && ids(row(mid)) < qid)) left = mid + 1
      else right = mid
    }
    val next = math.min(cnt + 1, maxLinks)
    if (next > row.length) {
      // grow by a quarter, up to maxLinks: a row fills in a few steps
      // and keeps little unused room
      val cap = math.min(maxLinks, math.max(next, row.length + row.length / 4 + 2))
      row = java.util.Arrays.copyOf(row, cap)
      dist = java.util.Arrays.copyOf(dist, cap)
      rows(lc)(n) = row
      rowDists(lc)(n) = dist
    }
    if (left < next) {
      System.arraycopy(row, left, row, left + 1, next - 1 - left)
      System.arraycopy(dist, left, dist, left + 1, next - 1 - left)
      row(left) = q
      dist(left) = d
    }
    degrees(lc)(n) = next
    touch(n, lc)
  }

  /** [[HnswSearcher.searchLayer]] on ordinals: an expansion marks its
    * unvisited neighbours, measures them in one pass, then admits them in
    * row order. */
  private[this] def searchLayer(p: store.Prepared, w: OrdinalQueue, ef: Int, lc: Int): Unit = {
    if (marks.length < store.size)
      marks = java.util.Arrays.copyOf(marks, math.max(store.size, marks.length + marks.length / 2))
    if (epoch == Int.MaxValue) { java.util.Arrays.fill(marks, 0); epoch = 0 }
    epoch += 1
    var vi = 0
    while (vi < w.size) { marks(w.ordAt(vi)) = epoch; vi += 1 }
    val ids = store.ids
    val c = frontier
    c.loadFrom(w)
    var fq = w.furthestDist
    val layer = if (lc < rows.length) rows(lc) else Array.empty[Array[Int]]
    var continue = true
    while (continue && c.nonEmpty) {
      val cq = c.nearestDist
      val cand = c.popNearest()
      if (fq < cq) continue = false
      else if (cand < layer.length && layer(cand) != null) {
        val row = layer(cand)
        val deg = degrees(lc)(cand)
        if (fresh.length < deg) {
          fresh = new Array[Int](deg)
          freshDist = new Array[Double](deg)
        }
        var m = 0
        var j = 0
        while (j < deg) {
          val e = row(j)
          if (marks(e) != epoch) { marks(e) = epoch; fresh(m) = e; m += 1 }
          j += 1
        }
        store.measure(p, fresh, m, freshDist)
        var i = 0
        while (i < m) {
          val eq = freshDist(i)
          var admit = true
          if (w.size >= ef) {
            if (eq < fq) w.dropFurthest()
            else admit = false
          }
          if (admit) {
            c.insert(fresh(i), eq, ids)
            w.insert(fresh(i), eq, ids)
            fq = w.furthestDist
          }
          i += 1
        }
      }
    }
  }

  /** [[HnswSearcher.searchToInsert]]: the beam of query `q` at every layer
    * at or below `insertionLayer` (index = layer; empty above the graph's
    * top). */
  def searchToInsert(q: Q, insertionLayer: Int): Array[OrdinalQueue] = {
    val p = store.prepare(q)
    val found = new Array[OrdinalQueue](insertionLayer + 1)
    val w = new OrdinalQueue
    if (entry >= 0) w.insert(entry, store.dist(p, entry), store.ids)
    var lc = if (entry >= 0) entryLayer else -1
    while (lc >= 0) {
      val ef = if (lc > insertionLayer) params.getEfConstrSearch(lc)
               else params.getEfConstrInsert(lc)
      searchLayer(p, w, ef, lc)
      if (lc <= insertionLayer) found(lc) = if (lc == 0) w else w.copy()
      lc -= 1
    }
    var l = 0
    while (l <= insertionLayer) { if (found(l) == null) found(l) = new OrdinalQueue; l += 1 }
    found
  }

  /** [[HnswSearcher.searchWithEf]] on ordinals: the k nearest ids of `q`
    * by `(dist, id)`, the layer-0 beam floored at `ef0` (0: plain
    * search). */
  def search(q: Q, k: Int, ef0: Int): FurthestQueue = {
    val p = store.prepare(q)
    val ids = store.ids
    val w = beam
    w.clear()
    if (entry >= 0) {
      w.insert(entry, store.dist(p, entry), ids)
      var lc = entryLayer
      while (lc >= 1) { searchLayer(p, w, params.getEfSearch(lc), lc); lc -= 1 }
      searchLayer(p, w, math.max(params.getEfSearch(0), ef0), 0)
    }
    val out = FurthestQueue.empty
    var i = 0
    while (i < math.min(k, w.size)) { out.insert(ids(w.ordAt(i)), w.distAt(i)); i += 1 }
    out
  }

  /** Exact top-k of `q` by `(dist, id)` among the stored points whose id
    * passes `keep`. */
  def exactTopK(q: Q, k: Int, keep: Long => Boolean): FurthestQueue = {
    val p = store.prepare(q)
    val ids = store.ids
    val out = FurthestQueue.empty
    var o = 0
    while (o < store.size) {
      if (keep(ids(o))) {
        out.insert(ids(o), store.dist(p, o))
        if (out.size > k) out.dropFurthest()
      }
      o += 1
    }
    out
  }

  /** `q`'s distance to the stored point of an ordinal. */
  def distances(q: Q): Int => Double = {
    val p = store.prepare(q)
    o => store.dist(p, o)
  }

  /** [[HnswSearcher.insert]]: store `q`'s point under `id` and connect it
    * at every layer up to `insertionLayer`. Returns its ordinal. */
  def insert(id: Long, q: Q, insertionLayer: Int): Int = {
    val found = searchToInsert(q, insertionLayer)
    val o = store.insert(id, q)
    connect(o, found)
    o
  }

  /** [[HnswSearcher.isMatch]]: the nearest bottom-layer hit is within the
    * store's match threshold. */
  def isMatch(found: Array[OrdinalQueue]): Boolean =
    found(0).nonEmpty && store.isMatch(found(0).distAt(0))

  /** [[HnswSearcher.insertFromSearchResults]] for stored ordinal `q`: it
    * becomes the entry point when it tops the graph, then connects layer
    * by layer top-down. */
  def connect(q: Int, found: Array[OrdinalQueue]): Unit = {
    if (found.length - 1 > entryLayer) setEntry(q, found.length - 1)
    var lc = found.length - 1
    while (lc >= 0) {
      val nb = found(lc)
      nb.trimTo(params.getM(lc))
      val maxLinks = params.getMMax(lc)
      var i = 0
      while (i < nb.size) { addLink(nb.ordAt(i), lc, q, nb.distAt(i), maxLinks); i += 1 }
      setRow(q, lc, nb.ordinals, nb.dists, nb.size)
      lc -= 1
    }
  }

  /** `o`'s row at `lc` as an id-keyed queue (empty without a row). */
  def linksOf(o: Int, lc: Int): FurthestQueue = {
    val q = FurthestQueue.empty
    if (lc < rows.length && o < rows(lc).length && rows(lc)(o) != null) {
      val ids = store.ids
      var k = 0
      while (k < degrees(lc)(o)) { q.insert(ids(rows(lc)(o)(k)), rowDists(lc)(o)(k)); k += 1 }
    }
    q
  }

  /** Load `f`'s rows into this empty graph, copied: its store must hold
    * `f`'s points at the same ordinals (a copy of `f.store`, grown or
    * not, or a store encoded from it). Writes nothing to the record of
    * touched rows. */
  def restore(f: OrdinalForm[_, _]): Unit = {
    require(entry < 0 && rows.isEmpty, "restore needs an empty graph")
    require(f.size <= store.size, s"a form of ${f.size} points over a store of ${store.size}")
    rows = f.links.rows.map(_.map(r => if (r == null) null else r.clone()))
    rowDists = f.dists.map(_.map(d => if (d == null) null else d.clone()))
    degrees = f.links.degrees.map(_.clone())
    entry = f.links.entry
    entryLayer = f.links.entryLayer
    ensureLayers(entryLayer + 1)
  }

  /** What [[searchToInsert]] reads, copied: each row trimmed to its
    * length, the lengths and the entry point. Without distances it
    * serializes at about 4 bytes per edge. */
  def rowCopy: OrdinalRows = {
    val n = store.size
    OrdinalRows(Array.tabulate(rows.length) { lc =>
      Array.tabulate(math.min(n, rows(lc).length)) { o =>
        val row = rows(lc)(o)
        if (row == null) null else java.util.Arrays.copyOf(row, degrees(lc)(o))
      }
    }, degrees.map(d => java.util.Arrays.copyOf(d, math.min(n, d.length))), entry, entryLayer)
  }

  /** The graph frozen over `over`, which holds this graph's points at the
    * same ordinals (the graph's own store, or a copy of it): [[rowCopy]]
    * and each row's distances, trimmed likewise. */
  def form[S <: OrdinalStore[Q]](over: S with OrdinalStore[Q]): OrdinalForm[Q, S] = {
    require(over.size == store.size, s"a graph of ${store.size} points frozen over ${over.size}")
    val links = rowCopy
    OrdinalForm[Q, S](over, links, Array.tabulate(links.rows.length) { lc =>
      Array.tabulate(links.rows(lc).length) { o =>
        val d = rowDists(lc)(o)
        if (d == null) null else java.util.Arrays.copyOf(d, degrees(lc)(o))
      }
    })
  }

  /** The id-keyed image of the graph: rows in id order, `ids(o)` for
    * every ordinal. */
  def snapshot: GraphSnapshot =
    OrdinalForm[Q, OrdinalStore[Q]](store, OrdinalRows(rows, degrees, entry, entryLayer), rowDists).snapshot
}

/** [[OrdinalGraph.rowCopy]]: per layer and ordinal, the neighbour
  * ordinals (null: no row) and their count, and the entry point. */
final case class OrdinalRows(rows: Array[Array[Array[Int]]], degrees: Array[Array[Int]],
                             entry: Int, entryLayer: Int)

object OrdinalGraph {
  /** The grow path of every sequential build and routed cell kernel: load
    * `prior`, whose points `store` holds at the same ordinals, then insert
    * `rows` in order at their hashed layers. Returns the grown graph's
    * form over `store`, trimmed. */
  def grow[Q, S <: OrdinalStore[Q]](params: HnswParams, seed: Long, store: S with OrdinalStore[Q],
                                    prior: Option[OrdinalForm[_, _]],
                                    rows: Iterator[(Long, Q)]): OrdinalForm[Q, S] = {
    val graph = new OrdinalGraph(params, store)
    prior.foreach(graph.restore)
    rows.foreach { case (id, q) => graph.insert(id, q, params.selectLayerByHash(id, seed)) }
    store.trim()
    graph.form[S](store)
  }
}

/** A frozen graph in the form it was grown in, the serving form of every
  * holder (a model, a shard, a routed cell): its store, and on the
  * store's ordinals every row ([[OrdinalRows]]) with its distances.
  * Views share the rows ([[view]]); a grow restores them by array copy
  * ([[OrdinalGraph.restore]]). Serialized as is, at about 12 bytes per
  * edge; nothing is rebuilt after a round trip. The distances stay
  * because neither a PQ cell encoded from a float cell (float distances
  * that its codes cannot recompute) nor a solo-built cell (ADC distances
  * from raw vectors it no longer holds) could derive them again, and the
  * id-keyed image carries them. */
final case class OrdinalForm[Q, S <: OrdinalStore[Q]](store: S, links: OrdinalRows,
                                                      dists: Array[Array[Array[Double]]]) {
  def size: Int = store.size

  /** A fresh read-only view, for one thread. */
  def view(params: HnswParams): OrdinalGraph[Q] = new OrdinalGraph(params, store, links)

  /** The same graph over `s`, which holds this form's ids at the same
    * ordinals (the codes a PQ tier encodes from a float form). */
  def over[Q2, S2 <: OrdinalStore[Q2]](s: S2 with OrdinalStore[Q2]): OrdinalForm[Q2, S2] = {
    require(s.size == size, s"a form of $size points over a store of ${s.size}")
    OrdinalForm[Q2, S2](s, links, dists)
  }

  def entryPoint: Option[EntryPoint] =
    if (links.entry < 0) None else Some(EntryPoint(store.ids(links.entry), links.entryLayer))

  /** The id-keyed image: rows in id order, `ids(o)` for every ordinal.
    * Only the id-keyed edges derive it: the parquet image, the links
    * table and the frontier setup. */
  def snapshot: GraphSnapshot = {
    val order = store.idOrder
    val ids = store.ids
    GraphSnapshot(entryPoint,
      Array.tabulate(links.rows.length) { lc =>
        val layer = links.rows(lc)
        val deg = links.degrees(lc)
        val present = order.filter(o => o < layer.length && layer(o) != null)
        val offsets = new Array[Int](present.length + 1)
        var i = 0
        while (i < present.length) { offsets(i + 1) = offsets(i) + deg(present(i)); i += 1 }
        val dsts = new Array[Long](offsets(present.length))
        val ds = new Array[Double](dsts.length)
        i = 0
        while (i < present.length) {
          val o = present(i)
          var j = offsets(i)
          var k = 0
          while (k < deg(o)) { dsts(j) = ids(layer(o)(k)); j += 1; k += 1 }
          System.arraycopy(dists(lc)(o), 0, ds, offsets(i), deg(o))
          i += 1
        }
        LayerCsr(present.map(o => ids(o)), offsets, dsts, ds)
      })
  }
}

object OrdinalForm {
  type Floats = OrdinalForm[Array[Float], ArenaVectorStore]
  type Codes = OrdinalForm[CodeQuery, CodeArena]

  /** `snap` on the ordinals of `store`, which must hold every vertex:
    * how an id-keyed graph (a parquet image, a compacted links table, a
    * mirror) becomes a serving form. */
  def of[Q, S <: OrdinalStore[Q]](store: S with OrdinalStore[Q], snap: GraphSnapshot): OrdinalForm[Q, S] = {
    def ordinal(id: Long): Int = {
      val o = store.ordinalOf(id)
      if (o < 0) throw new IllegalStateException(s"graph vertex $id has no vector")
      o
    }
    val n = store.size
    val rows = snap.layers.map(_ => new Array[Array[Int]](n))
    val dists = snap.layers.map(_ => new Array[Array[Double]](n))
    snap.layers.zipWithIndex.foreach { case (l, lc) =>
      var i = 0
      while (i < l.size) {
        val from = l.offsets(i)
        val o = ordinal(l.srcs(i))
        rows(lc)(o) = Array.tabulate(l.offsets(i + 1) - from)(k => ordinal(l.dsts(from + k)))
        dists(lc)(o) = java.util.Arrays.copyOfRange(l.dists, from, l.offsets(i + 1))
        i += 1
      }
    }
    OrdinalForm[Q, S](store, OrdinalRows(rows, rows.map(_.map(r => if (r == null) 0 else r.length)),
      snap.entryPoint.fold(-1)(ep => ordinal(ep.point)), snap.entryPoint.fold(-1)(_.layer)), dists)
  }
}

/** What [[HnswDistributed.searchBroadcast]] serves: a broadcast value
  * that gives each task partition a fresh [[OrdinalGraph]] view. */
trait KernelSource extends Serializable {
  def kernel(): OrdinalGraph[Array[Float]]
}

/** What a streaming index broadcasts after each mutation in place of its
  * id-keyed [[HnswModel]]: a trimmed copy of its arena, whose id map
  * stays behind and is rebuilt on first lookup, and its rows without
  * distances ([[OrdinalGraph.rowCopy]]). */
final case class ServingImage(params: HnswParams, arena: ArenaVectorStore,
                              rows: OrdinalRows) extends KernelSource {
  def size: Int = arena.size
  def kernel(): OrdinalGraph[Array[Float]] = new OrdinalGraph(params, arena, rows)
}

/** `(dist, id)`-ascending list of arena ordinals — [[FurthestQueue]] on
  * ordinals, ties broken by each ordinal's id in the `ids` passed to
  * [[insert]]. */
final class OrdinalQueue private (
    private[hnsw] var ordinals: Array[Int],
    private[hnsw] var dists: Array[Double],
    private var n: Int) extends Serializable {

  def this() = this(new Array[Int](8), new Array[Double](8), 0)

  def size: Int = n
  def nonEmpty: Boolean = n > 0
  def ordAt(i: Int): Int = ordinals(i)
  def distAt(i: Int): Double = dists(i)
  /** Requires nonEmpty. */
  def furthestDist: Double = dists(n - 1)

  def insert(o: Int, d: Double, ids: Array[Long]): Unit = {
    val id = ids(o)
    var left = 0
    var right = n
    while (left < right) {
      val mid = (left + right) >>> 1
      val c = java.lang.Double.compare(dists(mid), d)
      if (c < 0 || (c == 0 && ids(ordinals(mid)) < id)) left = mid + 1
      else right = mid
    }
    if (n == ordinals.length) {
      ordinals = java.util.Arrays.copyOf(ordinals, n * 2)
      dists = java.util.Arrays.copyOf(dists, n * 2)
    }
    System.arraycopy(ordinals, left, ordinals, left + 1, n - left)
    System.arraycopy(dists, left, dists, left + 1, n - left)
    ordinals(left) = o
    dists(left) = d
    n += 1
  }

  def dropFurthest(): Unit = if (n > 0) n -= 1
  def trimTo(k: Int): Unit = if (k < n) n = k
  def clear(): Unit = n = 0
  def copy(): OrdinalQueue = new OrdinalQueue(
    java.util.Arrays.copyOf(ordinals, math.max(n, 1)), java.util.Arrays.copyOf(dists, math.max(n, 1)), n)
}

/** The traversal frontier of an ordinal layer search — [[NearestQueue]]
  * on ordinals: pops in `(dist, id)`-ascending order. */
private[hnsw] final class OrdinalFrontier extends Serializable {
  private[this] var os = new Array[Int](8)
  private[this] var ds = new Array[Double](8)
  private[this] var n = 0

  def nonEmpty: Boolean = n > 0
  /** Requires nonEmpty. */
  def nearestDist: Double = ds(n - 1)
  def popNearest(): Int = { n -= 1; os(n) }

  def insert(o: Int, d: Double, ids: Array[Long]): Unit = {
    val id = ids(o)
    var left = 0
    var right = n
    while (left < right) {
      val mid = (left + right) >>> 1
      val c = java.lang.Double.compare(ds(mid), d)
      if (c > 0 || (c == 0 && ids(os(mid)) > id)) left = mid + 1
      else right = mid
    }
    if (n == os.length) {
      os = java.util.Arrays.copyOf(os, n * 2)
      ds = java.util.Arrays.copyOf(ds, n * 2)
    }
    System.arraycopy(os, left, os, left + 1, n - left)
    System.arraycopy(ds, left, ds, left + 1, n - left)
    os(left) = o
    ds(left) = d
    n += 1
  }

  /** Replace the contents with `w` in visit order. */
  def loadFrom(w: OrdinalQueue): Unit = {
    val m = w.size
    if (m > os.length) {
      os = new Array[Int](m)
      ds = new Array[Double](m)
    }
    var i = 0
    while (i < m) { os(i) = w.ordAt(m - 1 - i); ds(i) = w.distAt(m - 1 - i); i += 1 }
    n = m
  }
}
