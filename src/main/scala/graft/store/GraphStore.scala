package graft.store

import graft.hnsw.{FurthestQueue, Neighbor}

import scala.collection.mutable

/** The HNSW descent root: one (vertex, top layer) pair per index
  * (reference: src/graph_store/mod.rs:14-18). */
final case class EntryPoint(point: Long, layer: Int)

/** The pluggable graph-store contract: layered adjacency lists plus the
  * entry-point singleton (reference: src/traits.rs:99-117; op vocabulary
  * src/coroutine.rs:44-86). */
trait GraphStore extends Serializable {
  /** G1 (reference graph_mem.rs:79-83). */
  def getEntryPoint: Option[EntryPoint]

  /** G2: upsert; a new entry point must be on a strictly higher layer
    * (reference graph_mem.rs:85-98). */
  def setEntryPoint(point: Long, layer: Int): Unit

  /** G3: neighbor queue of `base` at `lc`; empty if absent
    * (reference graph_mem.rs:100-111). */
  def getLinks(base: Long, lc: Int): FurthestQueue

  /** G4: replace the neighbor queue of `(base, lc)` (reference
    * graph_mem.rs:113-121; requires the layer to exist). */
  def setLinks(base: Long, links: FurthestQueue, lc: Int): Unit

  /** G5 (reference traits.rs:116; NB the Postgres impl left this
    * unimplemented — graph_pg.rs:125-127 `todo!()` — ours derives it). */
  def numLayers: Int

  /** Read-only neighbor iteration — the search hot path. getLinks clones
    * the queue (matching the reference's `links.clone()`); the kernel only
    * iterates, so impls override this to skip the copy. */
  def foreachLink(base: Long, lc: Int)(f: Long => Unit): Unit =
    getLinks(base, lc).iterator.foreach(n => f(n.dst))
}

/** One layer's adjacency in CSR (compressed-sparse-row) form: `srcs`
  * sorted ascending; vertex `srcs(i)`'s neighbors — in the queue's
  * distance-ascending order — occupy `dsts`/`dists` in
  * `[offsets(i), offsets(i+1))`. Four primitive arrays per layer, zero
  * boxing: the per-batch snapshot broadcasts of the distributed HNSW
  * build serialize as bulk primitive-array writes instead of walking a
  * 100k-entry boxed Map (the measured GC-churn signature of the r8
  * n100k grid cell: 12.2 s GC, one 14.5 s full-pause straggler task). */
final case class LayerCsr(srcs: Array[Long], offsets: Array[Int],
                          dsts: Array[Long], dists: Array[Double]) {
  def size: Int = srcs.length
  @inline def indexOf(src: Long): Int = java.util.Arrays.binarySearch(srcs, src)
  def contains(src: Long): Boolean = indexOf(src) >= 0
  def keysIterator: Iterator[Long] = srcs.iterator
  /** (src, dst-slice, dist-slice) per vertex; slices are fresh copies. */
  def entriesIterator: Iterator[(Long, Array[Long], Array[Double])] =
    srcs.indices.iterator.map { i =>
      val from = offsets(i); val until = offsets(i + 1)
      (srcs(i), java.util.Arrays.copyOfRange(dsts, from, until),
        java.util.Arrays.copyOfRange(dists, from, until))
    }
  def toMap: Map[Long, (Array[Long], Array[Double])] =
    entriesIterator.map { case (s, d, t) => s -> (d, t) }.toMap
  def edgeCount: Int = dsts.length
}

object LayerCsr {
  val empty: LayerCsr = LayerCsr(Array.emptyLongArray, Array(0),
    Array.emptyLongArray, Array.emptyDoubleArray)

  /** The ONE two-pass CSR construction (sorted srcs -> prefix offsets ->
    * fill), shared by every import path so the layout and the
    * distance-ascending-per-vertex invariant live in a single place.
    * `emitEdges(src, emit)` must call `emit(dst, dist)` in the vertex's
    * neighbor order. */
  def build(srcsSorted: Array[Long], edgeCountOf: Long => Int,
            emitEdges: (Long, (Long, Double) => Unit) => Unit): LayerCsr = {
    val offsets = new Array[Int](srcsSorted.length + 1)
    var total = 0
    var i = 0
    while (i < srcsSorted.length) {
      offsets(i) = total; total += edgeCountOf(srcsSorted(i)); i += 1
    }
    offsets(srcsSorted.length) = total
    val dsts = new Array[Long](total)
    val dists = new Array[Double](total)
    i = 0
    while (i < srcsSorted.length) {
      var j = offsets(i)
      emitEdges(srcsSorted(i), (dst, dist) => {
        dsts(j) = dst; dists(j) = dist; j += 1
      })
      i += 1
    }
    LayerCsr(srcsSorted, offsets, dsts, dists)
  }

  /** Boxed-map import (DataFrame/parquet load paths — never the
    * per-batch build hot path). */
  def fromMap(m: Map[Long, (Array[Long], Array[Double])]): LayerCsr = {
    val srcs = m.keysIterator.toArray
    java.util.Arrays.sort(srcs)
    build(srcs, src => m(src)._1.length, (src, emit) => {
      val (d, t) = m(src)
      var k = 0
      while (k < d.length) { emit(d(k), t(k)); k += 1 }
    })
  }
}

/** Immutable, compact adjacency image of a graph for broadcasting to
  * executors: per layer, a [[LayerCsr]] of primitive arrays. */
final case class GraphSnapshot(
    entryPoint: Option[EntryPoint],
    layers: Array[LayerCsr]
) extends GraphStore {
  override def getEntryPoint: Option[EntryPoint] = entryPoint
  override def setEntryPoint(point: Long, layer: Int): Unit =
    throw new UnsupportedOperationException("snapshot is read-only")
  override def getLinks(base: Long, lc: Int): FurthestQueue =
    if (lc >= layers.length) FurthestQueue.empty
    else {
      val l = layers(lc)
      val i = l.indexOf(base)
      if (i < 0) FurthestQueue.empty
      else FurthestQueue.fromAscending(
        (l.offsets(i) until l.offsets(i + 1))
          .map(j => Neighbor(l.dsts(j), l.dists(j))))
    }
  override def setLinks(base: Long, links: FurthestQueue, lc: Int): Unit =
    throw new UnsupportedOperationException("snapshot is read-only")
  override def numLayers: Int = layers.length

  override def foreachLink(base: Long, lc: Int)(f: Long => Unit): Unit =
    if (lc < layers.length) {
      val l = layers(lc)
      val i = l.indexOf(base)
      if (i >= 0) {
        var j = l.offsets(i)
        val until = l.offsets(i + 1)
        while (j < until) { f(l.dsts(j)); j += 1 }
      }
    }

  /** Boxed-map view of one layer — test/compat surface, not a hot path. */
  def layerMap(lc: Int): Map[Long, (Array[Long], Array[Double])] =
    if (lc >= layers.length) Map.empty else layers(lc).toMap
  def layerMaps: Seq[Map[Long, (Array[Long], Array[Double])]] =
    layers.indices.map(layerMap)

  def vertexCount(lc: Int): Int = if (lc >= layers.length) 0 else layers(lc).size
  def edgeCount: Long = layers.iterator.map(_.edgeCount.toLong).sum
}

object GraphSnapshot {
  /** Boxed-map import twin of [[InMemoryGraph.snapshot]]. */
  def fromMaps(entryPoint: Option[EntryPoint],
               maps: Seq[Map[Long, (Array[Long], Array[Double])]]): GraphSnapshot =
    GraphSnapshot(entryPoint, maps.map(LayerCsr.fromMap).toArray)
}

/** In-memory mutable graph — the reference's GraphMem
  * (graph_mem.rs:11-156). The canonical build-time representation; convert
  * to [[GraphSnapshot]] for broadcast, to a links DataFrame for
  * persistence ([[graft.hnsw.GraphFrames]]). */
final class InMemoryGraph extends GraphStore {
  private var entry: Option[EntryPoint] = None
  private val layers = mutable.ArrayBuffer.empty[mutable.LongMap[FurthestQueue]]

  override def getEntryPoint: Option[EntryPoint] = entry

  override def setEntryPoint(point: Long, layer: Int): Unit = {
    entry.foreach { prev =>
      require(prev.layer < layer,
        s"a new entry point must be on a higher layer (${prev.layer} -> $layer)")
    }
    while (layers.size <= layer) layers += mutable.LongMap.empty
    entry = Some(EntryPoint(point, layer))
  }

  // room for the one reverse edge connect_bidir inserts before it trims
  // and stores the queue back: a full row would otherwise double its
  // arrays and keep the unused half for as long as the graph lives
  override def getLinks(base: Long, lc: Int): FurthestQueue =
    if (lc >= layers.size) FurthestQueue.empty
    else layers(lc).getOrElse(base, FurthestQueue.empty).copy(extra = 1)

  override def foreachLink(base: Long, lc: Int)(f: Long => Unit): Unit =
    if (lc < layers.size) layers(lc).get(base).foreach(_.iterator.foreach(n => f(n.dst)))

  override def setLinks(base: Long, links: FurthestQueue, lc: Int): Unit = {
    require(lc < layers.size, s"layer $lc not initialized (have ${layers.size})")
    layers(lc)(base) = links
  }

  override def numLayers: Int = layers.size

  /** G7: export the adjacency of one layer. */
  def layerLinks(lc: Int): Map[Long, FurthestQueue] = layers(lc).toMap

  /** CSR export, allocation-lean: the distributed build takes one
    * snapshot per micro-batch, so this runs ~n/maxBatch times per build
    * over a growing graph — primitive arrays only, no boxed maps
    * (construction shared with [[LayerCsr.fromMap]] via
    * [[LayerCsr.build]]). */
  def snapshot: GraphSnapshot = GraphSnapshot(
    entry,
    layers.map { layer =>
      val srcs = layer.keysIterator.toArray
      java.util.Arrays.sort(srcs)
      LayerCsr.build(srcs, src => layer(src).size, (src, emit) => {
        val q = layer(src)
        var k = 0
        while (k < q.size) { emit(q.dstAt(k), q.distAt(k)); k += 1 }
      })
    }.toArray
  )

  /** G6: rebuild this graph with vertex ids / distances rewritten,
    * preserving structure; the metric is assumed unchanged so order is
    * preserved (reference graph_mem.rs:43-76 `from_another`): the
    * same-type case of [[remapTo]]. */
  def remap(vectorMap: Long => Long, distMap: Double => Double = identity): InMemoryGraph =
    remapTo(vectorMap, distMap).toInMemory

  /** G6, type-GENERIC: the reference's `from_another` converts a graph
    * between vector-ref and distance-ref TYPES (`GraphMem<U> ->
    * GraphMem<V>` via `F1: U::VectorRef -> V::VectorRef`, `F2:
    * U::DistanceRef -> V::DistanceRef`, graph_mem.rs:46-76 — built to
    * move a plaintext graph into a secret-shared store's ref space).
    * Adjacency structure, layer count, and every queue's ORDER are
    * preserved verbatim; only the refs are rewritten (the metric is
    * assumed semantics-preserving, exactly the reference's WARNING). */
  def remapTo[V, D](vectorMap: Long => V, distMap: Double => D): TypedGraph[V, D] =
    TypedGraph(
      entry.map(ep => (vectorMap(ep.point), ep.layer)),
      layers.map { layer =>
        layer.iterator.map { case (src, q) =>
          vectorMap(src) -> q.toArray.toIndexedSeq
            .map(n => (vectorMap(n.dst), distMap(n.dist)))
        }.toMap
      }.toIndexedSeq
    )

  def structurallyEquals(other: InMemoryGraph): Boolean =
    entry == other.entry && layers.size == other.layers.size &&
      layers.zip(other.layers).forall { case (a, b) =>
        a.size == b.size && a.forall { case (k, q) => b.get(k).contains(q) }
      }
}

/** A graph image over ARBITRARY vertex-ref type `V` and distance-ref
  * type `D` — the target of type-changing `from_another` conversions
  * (reference graph_mem.rs:11-15: `GraphMem<V: VectorStore>` is generic
  * in `V::VectorRef` / `V::DistanceRef`; our runtime stores fix
  * Long/Double for Spark-friendliness, and this carrier holds every
  * other ref space). Each neighborhood is an ORDERED sequence — the
  * source queue's nearest-to-furthest order, which a conversion must
  * not disturb (graph_mem.rs:43-44's metric warning). */
final case class TypedGraph[V, D](
    entryPoint: Option[(V, Int)],
    layers: IndexedSeq[Map[V, IndexedSeq[(V, D)]]]) {

  def numLayers: Int = layers.length

  def links(base: V, lc: Int): IndexedSeq[(V, D)] =
    if (lc >= layers.length) IndexedSeq.empty
    else layers(lc).getOrElse(base, IndexedSeq.empty)

  /** Chain another ref-space conversion (from_another composes). */
  def map[V2, D2](vectorMap: V => V2, distMap: D => D2): TypedGraph[V2, D2] =
    TypedGraph(
      entryPoint.map { case (p, l) => (vectorMap(p), l) },
      layers.map(_.map { case (src, ns) =>
        vectorMap(src) -> ns.map { case (dst, d) => (vectorMap(dst), distMap(d)) }
      })
    )

  /** Land back in the runtime representation once refs are Long/Double
    * again (e.g. after a round-trip through an external ref space). */
  def toInMemory(implicit evV: V =:= Long, evD: D =:= Double): InMemoryGraph =
    InMemoryGraph.fromPrecomputed(
      entryPoint.map { case (p, l) => EntryPoint(evV(p), l) },
      layers.map(_.map { case (src, ns) =>
        evV(src) -> FurthestQueue.fromAscending(
          ns.map { case (dst, d) => Neighbor(evV(dst), evD(d)) })
      })
    )
}

object InMemoryGraph {
  /** G7: construct from raw layer maps (reference graph_mem.rs:25-40
    * `from_precomputed`). */
  def fromPrecomputed(entry: Option[EntryPoint],
                      layerMaps: Seq[Map[Long, FurthestQueue]]): InMemoryGraph = {
    val g = new InMemoryGraph
    entry.foreach(ep => g.setEntryPoint(ep.point, ep.layer))
    while (g.numLayers < layerMaps.size)
      g.layers += mutable.LongMap.empty
    layerMaps.zipWithIndex.foreach { case (m, lc) =>
      m.foreach { case (src, q) => g.setLinks(src, q, lc) }
    }
    g
  }

  def fromSnapshot(s: GraphSnapshot): InMemoryGraph =
    fromPrecomputed(
      s.entryPoint,
      s.layers.toIndexedSeq.map(_.entriesIterator.map {
        case (src, dsts, dists) =>
          src -> FurthestQueue.fromAscending(
            Array.tabulate(dsts.length)(i => Neighbor(dsts(i), dists(i))).toSeq)
      }.toMap)
    )
}
