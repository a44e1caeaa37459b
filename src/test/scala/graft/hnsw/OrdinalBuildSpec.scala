package graft.hnsw

import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.store.{ArrayVectorStore, GraphSnapshot, InMemoryGraph, Metrics}

/** Every float build against the id-keyed engine it replaced:
  * [[HnswSearcher]] over an [[ArrayVectorStore]] and an [[InMemoryGraph]],
  * on the batched schedule for [[HnswDistributed.buildFromArray]] and
  * sequentially for a [[HnswDistributed.buildSharded]] shard and
  * [[HnswRouted.growCell]]. Each build must hold the same rows — dst ids
  * and distance bits in order — the same entry point and the same layer
  * count. The input holds what an ordinal build can get wrong: rows out of
  * id order (arena ordinal is not id rank), a repeated id, exact copies of
  * vectors under other ids (distance ties, ordered by id), and one vector
  * of another length. */
class OrdinalBuildSpec extends SparkSpec {
  import spark.implicits._

  private val params = HnswParams.standard(efConstruction = 24, efSearch = 16, m = 4)
  // a small schedule: doubling batches, then grown ones, then a short last
  // one; at seed 18 one batch holds two rows that top the graph at one
  // layer, so only the merge's id order picks the entry point
  private def cfgFor(metric: String) = BuildConfig(params, metric, seed = 18L,
    seedBatch = 8, maxBatch = 16, growthDenom = 2, batchCeiling = 4096)

  private def vecFromHash(i: Long, dim: Int = 8): Array[Float] =
    Array.tabulate(dim)(j => (HnswSearcher.uniformFromHash(i * 31 + j, 4L) * 2.0 - 1.0).toFloat)

  /** Distinct ids out of id order, 40 of them copies of earlier vectors,
    * one vector three floats longer. */
  private val distinctRows: Array[(Long, Array[Float])] = {
    val base = (0 until 260).map { i =>
      val id = (i * 7919L) % 1000L
      (id, vecFromHash(id, if (i == 97) 11 else 8))
    }
    val copies = (0 until 40).map(i => (2000L - i * 3, base(i * 5)._2.clone))
    (base ++ copies).toArray
  }

  /** `distinctRows` with one id repeated under another vector. */
  private val rows: Array[(Long, Array[Float])] =
    distinctRows.patch(150, Seq((distinctRows(20)._1, vecFromHash(99999L))), 0)

  private def batches(n: Int, cfg: BuildConfig): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var pos = math.min(cfg.seedBatch, n)
    while (pos < n) {
      val grown = math.max(cfg.maxBatch, math.min(pos / cfg.growthDenom, cfg.batchCeiling))
      val size = math.min(math.min(grown, pos), n - pos)
      out += ((pos, pos + size))
      pos += size
    }
    out.result()
  }

  /** The id-keyed batched build: sequential seeds, then per batch a
    * phase 1 against the snapshot and an id-ordered merge. Also counts
    * the batches whose new entry point the merge order decides: two rows
    * top the graph at one layer, and the lower id is not the first row. */
  private def referenceBatched(cfg: BuildConfig): (GraphSnapshot, Int) = {
    val rs = rows.distinctBy(_._1)
    val searcher = new HnswSearcher(cfg.params)
    val store = new ArrayVectorStore(Metrics.byName(cfg.metric))
    rs.foreach { case (id, v) => store.prepareQueryWithId(id, v) }
    val graph = new InMemoryGraph
    val layerOf = rs.map { case (id, _) => searcher.selectLayerByHash(id, cfg.seed) }
    (0 until math.min(cfg.seedBatch, rs.length)).foreach(i =>
      searcher.insert(store, graph, rs(i)._1, layerOf(i)))
    var entryTies = 0
    batches(rs.length, cfg).foreach { case (from, until) =>
      val snap = graph.snapshot
      val top = (from until until).map(layerOf).max
      val topping = (from until until).filter(i => layerOf(i) == top && top >= graph.numLayers)
      if (topping.size > 1 && rs(topping.head)._1 != topping.map(rs(_)._1).min) entryTies += 1
      (from until until)
        .map(i => (rs(i)._1, searcher.searchToInsert(store, snap, rs(i)._1, layerOf(i))._1))
        .sortBy(_._1)
        .foreach { case (id, links) =>
          store.insert(id)
          searcher.insertFromSearchResults(store, graph, id, links, links.size > graph.numLayers)
        }
    }
    (graph.snapshot, entryTies)
  }

  /** The id-keyed sequential build of `rs` on top of `prior`, whose
    * vectors are `priorRows`. */
  private def referenceSequential(cfg: BuildConfig, rs: Seq[(Long, Array[Float])],
                                  prior: Option[GraphSnapshot] = None,
                                  priorRows: Seq[(Long, Array[Float])] = Nil): GraphSnapshot = {
    val searcher = new HnswSearcher(cfg.params)
    val store = new ArrayVectorStore(Metrics.byName(cfg.metric))
    (priorRows ++ rs).foreach { case (id, v) => store.prepareQueryWithId(id, v) }
    val graph = prior.fold(new InMemoryGraph)(InMemoryGraph.fromSnapshot)
    rs.foreach { case (id, _) => searcher.insert(store, graph, id, searcher.selectLayerByHash(id, cfg.seed)) }
    graph.snapshot
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def assertSameGraph(got: GraphSnapshot, want: GraphSnapshot, what: String): Unit = {
    assert(got.entryPoint == want.entryPoint, s"$what: entry point")
    assert(got.layers.length == want.layers.length, s"$what: layer count")
    got.layers.zip(want.layers).zipWithIndex.foreach { case ((x, y), lc) =>
      assert(x.srcs.toSeq == y.srcs.toSeq, s"$what: layer $lc vertices")
      assert(x.offsets.toSeq == y.offsets.toSeq, s"$what: layer $lc degrees")
      assert(x.dsts.toSeq == y.dsts.toSeq, s"$what: layer $lc dst ids")
      assert(x.dists.map(bits).toSeq == y.dists.map(bits).toSeq, s"$what: layer $lc dist bits")
    }
  }

  /** Rows holding two neighbours at one distance. */
  private def tiedRows(s: GraphSnapshot): Int =
    s.layers.map(l => (0 until l.size).count { i =>
      (l.offsets(i) + 1 until l.offsets(i + 1)).exists(j => l.dists(j) == l.dists(j - 1))
    }).sum

  test("the schedule runs doubling, grown and short last batches") {
    val cfg = cfgFor("cosine")
    val bs = batches(distinctRows.length, cfg)
    assert(bs.exists { case (from, until) => until - from == from }, "no doubling batch")
    assert(bs.exists { case (from, until) => until - from > cfg.maxBatch }, "no grown batch")
    val (lastFrom, lastUntil) = bs.last
    assert(lastUntil - lastFrom < math.min(lastFrom / cfg.growthDenom, lastFrom), "no short last batch")
  }

  for (metric <- Seq("cosine", "l2", "dot")) {
    test(s"buildFromArray is row-identical to the id-keyed batched build ($metric)") {
      val cfg = cfgFor(metric)
      val model = HnswDistributed.buildFromArray(spark, rows, cfg)
      val (want, entryTies) = referenceBatched(cfg)
      assert(want.layers.length > 2, "the data must give a multi-layer graph")
      assert(entryTies > 0, "no batch where the merge order picks the entry point")
      assert(tiedRows(want) > 5, "too few rows hold a distance tie")
      assertSameGraph(model.snapshot, want, metric)
      // the first occurrence of the repeated id is the one kept
      assert(model.size == distinctRows.length)
      distinctRows.foreach { case (id, v) => assert(model.vectors(id).sameElements(v)) }
    }

    test(s"a buildSharded shard is row-identical to the id-keyed sequential build ($metric)") {
      val cfg = cfgFor(metric)
      val shards = HnswDistributed.buildSharded(distinctRows.toSeq.toDF("id", "vec"), cfg,
        numShards = 2, persist = false).shards.collect()
      assert(shards.length == 2)
      assert(shards.map(_.vectors.size).sum == distinctRows.length)
      shards.foreach { s =>
        val rs = s.vectors.iterator.toSeq.sortBy(_._1)
        assertSameGraph(s.snapshot, referenceSequential(cfg, rs), s"$metric shard")
      }
    }

    test(s"growCell with and without a prior is row-identical to the id-keyed build ($metric)") {
      val cfg = cfgFor(metric)
      val sorted = distinctRows.sortBy(_._1)
      val (first, rest) = sorted.splitAt(170)
      val fresh = HnswRouted.growCell(cfg)(3, None, sorted)
      val want = referenceSequential(cfg, sorted.toSeq)
      assert(tiedRows(want) > 5, "too few rows hold a distance tie")
      assertSameGraph(fresh.snapshot, want, s"$metric fresh cell")

      val priorSnap = referenceSequential(cfg, first.toSeq)
      val prior = HnswRouted.CellShard(3, LongVecMap.from(first.iterator, first.length), priorSnap)
      val grown = HnswRouted.growCell(cfg)(3, Some(prior), rest)
      assertSameGraph(grown.snapshot,
        referenceSequential(cfg, rest.toSeq, Some(priorSnap), first.toSeq), s"$metric grown cell")
      assertSameGraph(grown.snapshot, want, s"$metric grown vs fresh cell")
      assert(grown.vectors.size == sorted.length)
      sorted.foreach { case (id, v) => assert(grown.vectors(id).sameElements(v)) }
    }
  }
}
