package graft.store

import org.scalatest.funsuite.AnyFunSuite

import graft.hnsw.{HnswParams, HnswSearcher}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.streaming.StreamingIngest.IncrementalIndex

/** The arena store against the definitions it must reproduce: every
  * distance bit-identical to [[Metrics]], an id stored once, and an index
  * on the arena building the same graph as the engine over an
  * [[ArrayVectorStore]]. */
class ArenaVectorStoreSpec extends AnyFunSuite {

  private def vecFromHash(i: Long, seed: Long, d: Int): Array[Float] =
    Array.tabulate(d)(j =>
      (HnswParams.uniformFromHash(i * 31 + j, seed) * 2.0 - 1.0).toFloat)

  private val dim = 10
  private val metrics = Seq("cosine", "l2", "dot")

  /** 40 stored vectors under scattered ids: zero vectors, vectors
    * shorter and longer than the rest, and exact copies. */
  private val stored: Seq[(Long, Array[Float])] = (0 until 40).map { i =>
    val v =
      if (i % 13 == 4) new Array[Float](dim)
      else if (i % 11 == 3) vecFromHash(i.toLong, 2L, dim - 3)
      else if (i % 17 == 5) vecFromHash(i.toLong, 2L, dim + 4)
      else if (i % 9 == 8) vecFromHash((i / 2).toLong, 2L, dim)
      else vecFromHash(i.toLong, 2L, dim)
    (i * 5L - 70L, v)
  }

  private val queries: Seq[Array[Float]] =
    (0 until 6).map(q => vecFromHash(q + 900L, 4L, dim)) ++
      Seq(new Array[Float](dim), vecFromHash(901L, 4L, dim - 2),
        vecFromHash(902L, 4L, dim + 3), stored(1)._2, Array.emptyFloatArray)

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def arenaOf(metric: String): ArenaVectorStore = {
    val s = new ArenaVectorStore(metric)
    stored.foreach { case (id, v) => s.insert(id, v) }
    s
  }

  test("dist and measure are bit-identical to Metrics for batches of 0-9") {
    val pick = new scala.util.Random(3)
    metrics.foreach { metric =>
      val f = Metrics.byName(metric)
      val s = arenaOf(metric)
      queries.zipWithIndex.foreach { case (qvec, qi) =>
        val qn = ArenaVectorStore.squaredNorm(qvec)
        stored.foreach { case (id, v) =>
          assert(bits(s.dist(qvec, qn, s.ordinalOf(id))) == bits(f(qvec, v)), s"$metric q$qi id $id")
        }
        for (m <- 0 to 9; _ <- 0 until 4) {
          val batch = Array.fill(m)(stored(pick.nextInt(stored.size)))
          // room past m: measure must fill exactly the first m slots
          val out = Array.fill(m + 3)(-7.0)
          s.measure(qvec, qn, batch.map(r => s.ordinalOf(r._1)) ++ Array(0, 1, 2), m, out)
          assert(out.take(m).map(bits).toSeq == batch.map { case (_, v) => bits(f(qvec, v)) }.toSeq,
            s"$metric q$qi batch of $m")
          assert(out.drop(m).forall(_ == -7.0))
        }
        // a stored vector as the query
        val (id2, v2) = stored(2)
        assert(bits(s.dist(v2, ArenaVectorStore.squaredNorm(v2), s.ordinalOf(stored(7)._1))) ==
          bits(f(v2, stored(7)._2)))
        assert(s.ordinalOf(id2) == 2)
      }
    }
  }

  test("re-inserting a stored id overwrites it in place and adds no second ordinal") {
    val s = arenaOf("cosine")
    val (id, _) = stored(6)
    val ordinal = s.ordinalOf(id)
    val replacement = vecFromHash(555L, 8L, dim)
    assert(s.insert(id, replacement) == ordinal)
    assert(s.size == stored.size)
    assert(s.ordinalOf(id) == ordinal)
    assert(s.vector(id).toSeq == replacement.toSeq)
    val qn = ArenaVectorStore.squaredNorm(queries.head)
    assert(bits(s.dist(queries.head, qn, ordinal)) == bits(Metrics.cosineDist(queries.head, replacement)))
    // its neighbours in the arena are untouched
    assert(s.vector(stored(5)._1).toSeq == stored(5)._2.toSeq)
    assert(s.vector(stored(7)._1).toSeq == stored(7)._2.toSeq)
    // ordinals follow insertion order; idOrder lists them by id
    assert(s.ordinalOf(77777L) < 0)
    assert(s.idOrder.map(o => s.ids(o)).toSeq == stored.map(_._1).sorted)
  }

  /** Batches with ids out of order across batches, in-batch repeats and
    * exact copies under new ids. */
  private val batches: Seq[Array[(Long, Array[Float])]] = {
    def rowsOf(ids: Seq[Long]) = ids.map(i => (i, vecFromHash(i, 6L, 8))).toArray
    val a = rowsOf(200L until 260L)
    val b = rowsOf(100L until 150L)
    val c = rowsOf(300L until 330L) ++ a.take(5) ++
      a.slice(10, 20).map { case (i, v) => (i + 1000L, v) }
    Seq(a, b, c, b.take(10))
  }

  private val cfg = BuildConfig(HnswParams.standard(32, 32, 6), metric = "cosine", seed = 5L)

  /** The engine over an ArrayVectorStore and an InMemoryGraph, fed the
    * way the index feeds the arena. */
  private def replay(dedup: Boolean): GraphSnapshot = {
    val searcher = new HnswSearcher(cfg.params)
    val store = new ArrayVectorStore(Metrics.byName(cfg.metric), matchThreshold = 1e-9)
    val graph = new InMemoryGraph
    val done = scala.collection.mutable.Set.empty[Long]
    batches.foreach { rows =>
      rows.sortBy(_._1).distinctBy(_._1).filterNot(r => done(r._1)).foreach { case (id, v) =>
        val q = store.prepareQueryWithId(id, v)
        val layer = searcher.selectLayerByHash(id, cfg.seed)
        if (!dedup) { searcher.insert(store, graph, q, layer); done += id }
        else {
          val (neighbors, setEp) = searcher.searchToInsert(store, graph, q, layer)
          if (!searcher.isMatch(store, neighbors)) {
            store.insert(q)
            searcher.insertFromSearchResults(store, graph, q, neighbors, setEp)
            done += id
          }
        }
      }
    }
    graph.snapshot
  }

  private def sameGraph(a: GraphSnapshot, b: GraphSnapshot): Boolean =
    a.entryPoint == b.entryPoint && a.layers.length == b.layers.length &&
      a.layers.zip(b.layers).forall { case (x, y) =>
        x.srcs.sameElements(y.srcs) && x.offsets.sameElements(y.offsets) &&
          x.dsts.sameElements(y.dsts) && x.dists.map(bits).sameElements(y.dists.map(bits))
      }

  test("insertRows and insertIfNoMatch build the graph an ArrayVectorStore replay builds") {
    Seq(false, true).foreach { dedup =>
      val index = new IncrementalIndex(cfg)
      batches.foreach(rows => if (dedup) index.insertIfNoMatch(rows) else index.insertRows(rows))
      val got = index.model.snapshot
      val want = replay(dedup)
      assert(sameGraph(got, want), s"dedup=$dedup")
      assert(got.vertexCount(0) == (if (dedup) 140 else 150))
      assert(index.size == got.vertexCount(0))
    }
  }
}
