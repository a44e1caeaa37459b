package perfbench

import graft.hnsw.{HnswModel, HnswSearcher}
import graft.store.{ArrayVectorStore, InMemoryGraph, Metrics}

/** Single-thread in-process replays of a fixed query and insert sample through
  * [[HnswSearcher]]'s public calls, against a copy of a workload's model.
  * The counting pass gives the engine's cost in distance pairs and link
  * expansions; a separate pass without the decorators gives the time. */
object Replay {
  final case class Cost(evalsPerOp: Double, expansionsPerOp: Double, usPerOp: Double)

  private def store(model: HnswModel) =
    new ArrayVectorStore(Metrics.byName(model.metricName), base = model.vectors)

  /** Median of `reps` timings of `f` in microseconds per op. */
  private def timeUs(reps: Int, ops: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3 / ops
    })

  def search(model: HnswModel, queries: Inputs.Rows, k: Int): Cost = {
    val searcher = new HnswSearcher(model.params)
    val plain = store(model)
    val vs = new CountingVectorStore(plain)
    val gs = new CountingGraphStore(model.snapshot)
    queries.foreach { case (_, v) =>
      searcher.search(vs, gs, plain.prepareQueryWithId(-1L, v), k)
    }
    val us = timeUs(3, queries.length) {
      queries.foreach { case (_, v) =>
        searcher.search(plain, model.snapshot, plain.prepareQueryWithId(-1L, v), k)
      }
    }
    Cost(vs.pairs.toDouble / queries.length, gs.expansions.toDouble / queries.length, us)
  }

  /** Full inserts (search_to_insert + connect) of `rows`, whose ids must be
    * new to the model, each into a fresh copy of the model's graph. */
  def insert(model: HnswModel, rows: Inputs.Rows, layerSeed: Long): Cost = {
    val searcher = new HnswSearcher(model.params)
    def run(counting: Boolean): (Long, Long, Double) = {
      val plain = store(model)
      val graph = InMemoryGraph.fromSnapshot(model.snapshot)
      val vs = new CountingVectorStore(plain)
      val gs = new CountingGraphStore(graph)
      val t0 = System.nanoTime()
      rows.foreach { case (id, v) =>
        val q = plain.prepareQueryWithId(id, v)
        val layer = searcher.selectLayerByHash(id, layerSeed)
        if (counting) searcher.insert(vs, gs, q, layer)
        else searcher.insert(plain, graph, q, layer)
      }
      (vs.pairs, gs.expansions, (System.nanoTime() - t0) / 1e3 / rows.length)
    }
    val (pairs, expansions, _) = run(counting = true)
    val us = Stats.median((1 to 3).map(_ => run(counting = false)._3))
    Cost(pairs.toDouble / rows.length, expansions.toDouble / rows.length, us)
  }

  /** Nanoseconds per call of the store's cosine kernel over pairs of the
    * model's own vectors (median of three passes). */
  def cosineNsPerPair(model: HnswModel, pairs: Int): Double = {
    val vecs = model.vectors.iterator.map(_._2).take(4096).toArray
    val n = vecs.length
    var sink = 0.0
    val ns = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < pairs) { sink += Metrics.cosineDist(vecs(i % n), vecs((i * 7 + 1) % n)); i += 1 }
      (System.nanoTime() - t0).toDouble / pairs
    })
    if (sink.isNaN) System.err.println("cosine replay produced NaN")
    ns
  }
}
