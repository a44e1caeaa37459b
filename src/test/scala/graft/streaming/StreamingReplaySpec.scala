package graft.streaming

import graft.SparkSpec
import graft.hnsw.{HnswParams, HnswSearcher}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.store.{ArrayVectorStore, GraphSnapshot, InMemoryGraph, Metrics, ParquetGraphStore}
import graft.streaming.StreamingIngest.IncrementalIndex

/** A streaming index's ordinal graph against the engine it must reproduce:
  * fed one sequence of batches, an [[IncrementalIndex]] and
  * [[HnswSearcher]] over an [[ArrayVectorStore]] and an [[InMemoryGraph]]
  * must hold the same rows — dst ids and distance bits in order — the
  * same entry point and the same layer count. The sequence holds what an
  * ordinal graph can get wrong: ids out of order across batches, exact
  * duplicate vectors (distance ties, whose order is by id while the
  * arena's ordinals are in insertion order), a redelivered batch, and a
  * restored index that keeps inserting. */
class StreamingReplaySpec extends SparkSpec {

  private val cfg = BuildConfig(
    HnswParams.standard(efConstruction = 24, efSearch = 16, m = 4), metric = "cosine", seed = 21L)

  private def vecFromHash(i: Long): Array[Float] =
    Array.tabulate(8)(j => (HnswParams.uniformFromHash(i * 31 + j, 4L) * 2.0 - 1.0).toFloat)

  private def rowsOf(ids: Seq[Long]): Array[(Long, Array[Float])] =
    ids.map(i => (i, vecFromHash(i))).toArray

  private val a = rowsOf(400L until 520L)

  /** Copies of `a`'s first rows under ids below and above theirs. */
  private def copies(from: Int, until: Int, shift: Long): Array[(Long, Array[Float])] =
    a.slice(from, until).map { case (i, v) => (i + shift, v) }

  /** (rows, dedup) per call, the restart after the fourth call. */
  private val before: Seq[(Array[(Long, Array[Float])], Boolean)] = Seq(
    (a, false),
    (rowsOf(0L until 80L), false),
    (rowsOf(300L until 340L) ++ copies(0, 20, -200L) ++ copies(20, 30, 5000L), false),
    (rowsOf(0L until 80L), false)) // redelivered
  private val after: Seq[(Array[(Long, Array[Float])], Boolean)] = Seq(
    (rowsOf(600L until 660L) ++ copies(30, 40, -390L) ++ copies(0, 5, 7000L), false),
    (rowsOf(660L until 700L) ++ copies(40, 50, 8000L), true))

  /** The engine fed the calls the way the index feeds its arena. */
  private def reference(calls: Seq[(Array[(Long, Array[Float])], Boolean)]): GraphSnapshot = {
    val searcher = new HnswSearcher(cfg.params)
    val store = new ArrayVectorStore(Metrics.byName(cfg.metric), matchThreshold = 1e-9)
    val graph = new InMemoryGraph
    val done = scala.collection.mutable.Set.empty[Long]
    calls.foreach { case (rows, dedup) =>
      rows.sortBy(_._1).distinctBy(_._1).filterNot(r => done(r._1)).foreach { case (id, v) =>
        val q = store.prepareQueryWithId(id, v)
        val (found, setEp) =
          searcher.searchToInsert(store, graph, q, searcher.selectLayerByHash(id, cfg.seed))
        if (!dedup || !searcher.isMatch(store, found)) {
          store.insert(q)
          searcher.insertFromSearchResults(store, graph, q, found, setEp)
          done += id
        }
      }
    }
    graph.snapshot
  }

  private def feed(index: IncrementalIndex,
                   calls: Seq[(Array[(Long, Array[Float])], Boolean)]): Unit =
    calls.foreach { case (rows, dedup) =>
      if (dedup) index.insertIfNoMatch(rows) else index.insertRows(rows)
    }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def assertSameGraph(got: GraphSnapshot, want: GraphSnapshot): Unit = {
    assert(got.entryPoint == want.entryPoint)
    assert(got.layers.length == want.layers.length)
    got.layers.zip(want.layers).zipWithIndex.foreach { case ((x, y), lc) =>
      assert(x.srcs.toSeq == y.srcs.toSeq, s"layer $lc vertices")
      assert(x.offsets.toSeq == y.offsets.toSeq, s"layer $lc degrees")
      assert(x.dsts.toSeq == y.dsts.toSeq, s"layer $lc dst ids")
      assert(x.dists.map(bits).toSeq == y.dists.map(bits).toSeq, s"layer $lc dist bits")
    }
  }

  /** Rows holding two neighbours at one distance. */
  private def tiedRows(s: GraphSnapshot): Int =
    s.layers.map(l => (0 until l.size).count { i =>
      (l.offsets(i) + 1 until l.offsets(i + 1)).exists(j => l.dists(j) == l.dists(j - 1))
    }).sum

  test("the ordinal graph is row-identical to HnswSearcher over ArrayVectorStore + InMemoryGraph") {
    val index = new IncrementalIndex(cfg)
    feed(index, before ++ after)
    val want = reference(before ++ after)
    assert(want.layers.length > 2, "the data must give a multi-layer graph")
    assert(tiedRows(want) > 20, "too few rows hold a distance tie")
    assertSameGraph(index.model.snapshot, want)
    assert(index.size == want.vertexCount(0))
  }

  test("a restored index keeps inserting row-identically to the reference") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-replay").toString
    val first = new IncrementalIndex(cfg, mirror = Some(new ParquetGraphStore(spark, dir)))
    feed(first, before)
    assertSameGraph(first.model.snapshot, reference(before))
    val restored = StreamingIngest.restoreIndex(spark, cfg, dir)
    assertSameGraph(restored.model.snapshot, reference(before))
    feed(restored, after)
    assertSameGraph(restored.model.snapshot, reference(before ++ after))
    // and what it mirrored meanwhile restores to the same graph again
    assertSameGraph(StreamingIngest.restoreIndex(spark, cfg, dir).model.snapshot,
      reference(before ++ after))
  }
}
