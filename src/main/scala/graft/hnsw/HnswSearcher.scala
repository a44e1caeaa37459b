package graft.hnsw

import graft.store.{GraphStore, VectorStore}

/** The HNSW engine (arXiv:1603.09320), operating purely through the
  * pluggable [[graft.store.VectorStore]] / [[graft.store.GraphStore]]
  * contracts — the Spark-native counterpart of the reference's
  * HawkSearcher (src/hawk_searcher.rs:132-429).
  *
  * This is the engine's id-keyed reference implementation: every build
  * and serve site runs the same algorithm on dense ordinals
  * ([[OrdinalGraph]]), and the specs hold those graphs and result lists
  * to this one, row for row. All loops here touch only in-memory state —
  * no Spark types.
  */
final class HnswSearcher(val params: HnswParams) extends Serializable {

  /** [[HnswParams.selectLayerByHash]]. */
  def selectLayerByHash(id: Long, seed: Long): Int = params.selectLayerByHash(id, seed)

  /** S4: seed the working set with the entry point and its distance;
    * returns (W, layer count); empty index -> (empty, 0)
    * (reference hawk_searcher.rs:192-208). */
  def searchInit(vectors: VectorStore, graph: GraphStore, q: Long): (FurthestQueue, Int) =
    graph.getEntryPoint match {
      case Some(ep) =>
        val w = FurthestQueue.empty
        w.insert(ep.point, vectors.evalDistance(q, ep.point))
        (w, ep.layer + 1)
      case None => (FurthestQueue.empty, 0)
    }

  /** S5 — the core kernel. Greedy best-first beam search within layer
    * `lc`: mutate `W` into the `ef` nearest neighbors of `q` among all
    * traversed vertices (reference hawk_searcher.rs:215-285). Early exit
    * when the nearest open candidate is further than the furthest result
    * (:236-239); each vertex visited at most once via the hash set
    * (:249-252); neighbor distances evaluated as a batch (:255).
    */
  def searchLayer(vectors: VectorStore, graph: GraphStore, q: Long,
                  w: FurthestQueue, ef: Int, lc: Int): Unit = {
    // primitive visited set + reusable scratch: this loop performs ~1e8
    // set ops per 100k-vector build — a boxing HashSet[Long] and a
    // fresh ArrayBuilder per expansion were measurable allocation churn
    val visited = new LongSet(math.max(64, ef * 4))
    var vi = 0
    while (vi < w.size) { visited.add(w.dstAt(vi)); vi += 1 }
    var scratch = new Array[Long](64)

    val c = NearestQueue.fromFurthestQueue(w)
    if (w.isEmpty) throw new IllegalStateException("W cannot be empty")
    var fq = w.furthestDist

    var continue = true
    while (continue && c.nonEmpty) {
      // non-allocating pop: read best dist, then pop its id
      val cq = c.nearestDist
      val _c = c.popNearestDst()

      // Nearest open candidate already worse than the furthest result.
      if (vectors.lessThan(fq, cq)) {
        continue = false
      } else {
        // no-copy neighbor iteration (read-only hot path)
        var m = 0
        graph.foreachLink(_c, lc) { e =>
          if (visited.add(e)) {
            if (m == scratch.length)
              scratch = java.util.Arrays.copyOf(scratch, m * 2)
            scratch(m) = e
            m += 1
          }
        }
        val unvisited = java.util.Arrays.copyOf(scratch, m)
        val dists = vectors.evalDistanceBatch(q, unvisited)

        var i = 0
        while (i < unvisited.length) {
          val e = unvisited(i)
          val eq = dists(i)
          var admit = true
          // >= not ==: a W that enters the layer wider than ef (legal
          // when per-layer ef shrinks while descending) must still be
          // bounded — the reference compares == because its parameter
          // shapes never shrink mid-descent.
          if (w.size >= ef) {
            // W full: replace the furthest, or prune this path.
            if (vectors.lessThan(eq, fq)) w.dropFurthest()
            else admit = false
          }
          if (admit) {
            c.insert(e, eq)
            w.insert(e, eq)
            fq = w.furthestDist
          }
          i += 1
        }
      }
    }
  }

  /** S6: public k-NN — descend from the top layer with ef_search(lc)
    * (greedy above layer 0 in the standard configuration), trim to k
    * (reference hawk_searcher.rs:288-306). */
  def search(vectors: VectorStore, graph: GraphStore, q: Long, k: Int): FurthestQueue =
    searchWithEf(vectors, graph, q, k, params.getEfSearch(0))

  /** [[search]] with a layer-0 beam floor: ef0 widens only the bottom
    * layer (upper layers stay at their configured, typically greedy,
    * widths — the HNSW convention for "ef must be >= k"). Overfetching
    * callers (filtered search, re-ranking) use this to pull k' > the
    * configured ef without touching the descent. */
  def searchWithEf(vectors: VectorStore, graph: GraphStore, q: Long,
                   k: Int, ef0: Int): FurthestQueue = {
    val (w, layerCount) = searchInit(vectors, graph, q)
    var lc = layerCount - 1
    while (lc >= 1) {
      searchLayer(vectors, graph, q, w, params.getEfSearch(lc), lc)
      lc -= 1
    }
    if (layerCount > 0)
      searchLayer(vectors, graph, q, w, math.max(params.getEfSearch(0), ef0), 0)
    w.trimToKNearest(k)
    w
  }

  /** S7: the read-only phase of insertion — descend all layers, recording
    * the beam for every layer at/below the insertion layer; beam width is
    * ef_constr_search above the insertion layer and ef_constr_insert at or
    * below it. Returns per-layer neighbor queues (index = layer, padded
    * with empty queues for fresh top layers) and whether this insertion
    * must become the new entry point (reference hawk_searcher.rs:350-389).
    */
  def searchToInsert(vectors: VectorStore, graph: GraphStore, q: Long,
                     insertionLayer: Int): (Vector[FurthestQueue], Boolean) = {
    val (w, nLayers) = searchInit(vectors, graph, q)
    val links = Vector.newBuilder[FurthestQueue]

    var lc = nLayers - 1
    while (lc >= 0) {
      val ef = if (lc > insertionLayer) params.getEfConstrSearch(lc)
               else params.getEfConstrInsert(lc)
      searchLayer(vectors, graph, q, w, ef, lc)
      if (lc <= insertionLayer) links += w.copy()
      lc -= 1
    }

    // Collected top-down; reverse so index = layer (bottom = 0), then pad
    // empty neighborhoods for any new top layers.
    var out = links.result().reverse
    val setEp = insertionLayer + 1 > nLayers
    while (out.size < insertionLayer + 1) out = out :+ FurthestQueue.empty
    (out, setEp)
  }

  /** S9: bidirectional connect at one layer — trim the forward neighbor
    * list to M, add the reverse edge n->q to every neighbor re-trimmed to
    * M_max, then set q's own links (reference hawk_searcher.rs:153-176). */
  def connectBidir(vectors: VectorStore, graph: GraphStore, q: Long,
                   neighbors: FurthestQueue, lc: Int): Unit = {
    val m = params.getM(lc)
    val maxLinks = params.getMMax(lc)
    neighbors.trimToKNearest(m)

    var i = 0
    while (i < neighbors.size) {
      val n = neighbors.dstAt(i)
      val nq = neighbors.distAt(i)
      val links = graph.getLinks(n, lc)
      links.insert(q, nq)
      links.trimToKNearest(maxLinks)
      graph.setLinks(n, links, lc)
      i += 1
    }
    graph.setLinks(q, neighbors, lc)
  }

  /** S8: the mutation phase of insertion — set the entry point if
    * required, then connect layer by layer top-down
    * (reference hawk_searcher.rs:394-415). */
  def insertFromSearchResults(vectors: VectorStore, graph: GraphStore,
                              inserted: Long, links: Vector[FurthestQueue],
                              setEp: Boolean): Unit = {
    if (setEp) graph.setEntryPoint(inserted, links.size - 1)
    var lc = links.size - 1
    while (lc >= 0) {
      connectBidir(vectors, graph, inserted, links(lc), lc)
      lc -= 1
    }
  }

  /** S10: full single-vector insert (reference hawk_searcher.rs:311-332).
    * The two-phase split (search, then mutate) stays public so callers can
    * interpose a dedup check between the phases, as the reference tests do
    * (hawk_searcher.rs:453-463). */
  def insert(vectors: VectorStore, graph: GraphStore, q: Long,
             insertionLayer: Int): Long = {
    val (neighbors, setEp) = searchToInsert(vectors, graph, q, insertionLayer)
    val inserted = vectors.insert(q)
    insertFromSearchResults(vectors, graph, inserted, neighbors, setEp)
    inserted
  }

  /** S11: duplicate test from search results — nearest hit of the bottom
    * layer within the store's match threshold; empty database -> false
    * (reference hawk_searcher.rs:417-429). */
  def isMatch(vectors: VectorStore, neighbors: Seq[FurthestQueue]): Boolean =
    neighbors.headOption.flatMap(_.getNearest) match {
      case None          => false
      case Some(nearest) => vectors.isMatch(nearest.dist)
    }
}
