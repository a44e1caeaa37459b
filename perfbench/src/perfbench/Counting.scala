package perfbench

import graft.hnsw.FurthestQueue
import graft.store.{GraphStore, VectorStore}

/** Counts the distance pairs the HNSW engine asks for — the paper's cost
  * unit. Used only by the traced run's in-process replays. */
final class CountingVectorStore(val inner: VectorStore) extends VectorStore {
  type Raw = inner.Raw
  var pairs = 0L

  override def prepareQuery(raw: Raw): Long = inner.prepareQuery(raw)
  override def insert(q: Long): Long = inner.insert(q)
  override def insertBatch(qs: Array[Long]): Array[Long] = inner.insertBatch(qs)
  override def evalDistance(q: Long, v: Long): Double = {
    pairs += 1
    inner.evalDistance(q, v)
  }
  override def evalDistanceBatch(q: Long, vs: Array[Long]): Array[Double] = {
    pairs += vs.length
    inner.evalDistanceBatch(q, vs)
  }
  override def isMatch(d: Double): Boolean = inner.isMatch(d)
  override def lessThan(d1: Double, d2: Double): Boolean = inner.lessThan(d1, d2)
  override def lessThanBatch(d: Double, ds: Array[Double]): Array[Boolean] =
    inner.lessThanBatch(d, ds)
}

/** Counts link expansions (`foreachLink` calls, one per vertex whose
  * neighbour list the beam search opens — the hops of a search). */
final class CountingGraphStore(inner: GraphStore) extends GraphStore {
  var expansions = 0L

  override def getEntryPoint = inner.getEntryPoint
  override def setEntryPoint(point: Long, layer: Int): Unit = inner.setEntryPoint(point, layer)
  override def getLinks(base: Long, lc: Int): FurthestQueue = inner.getLinks(base, lc)
  override def setLinks(base: Long, links: FurthestQueue, lc: Int): Unit =
    inner.setLinks(base, links, lc)
  override def numLayers: Int = inner.numLayers
  override def foreachLink(base: Long, lc: Int)(f: Long => Unit): Unit = {
    expansions += 1
    inner.foreachLink(base, lc)(f)
  }
}
