package graft.hnsw

import graft.SparkSpec
import graft.functions.PqKernels
import graft.hnsw.HnswDistributed.BuildConfig
import graft.store.{AdcVectorStore, ArenaVectorStore, ArrayVectorStore, CodeArena, GraphSnapshot, InMemoryGraph,
  Metrics,
  VectorStore}

/** Every ordinal build against the id-keyed engine it replaced:
  * [[HnswSearcher]] over an id-keyed store and an [[InMemoryGraph]].
  *
  *  - Float ([[ArrayVectorStore]]): on the batched schedule for
  *    [[HnswDistributed.buildFromArray]], sequentially for a
  *    [[HnswDistributed.buildSharded]] shard and [[HnswRouted.growCell]].
  *  - u64 Hamming codes: sequentially for [[HnswCodes.build]] and
  *    [[HnswRoutedCodes.growCell]], batched for [[HnswCodes.buildBatched]].
  *  - PQ codes ([[AdcVectorStore]], each row's float measured through its
  *    table and quantized on insert): [[HnswRoutedPq.growSolo]].
  *
  * Each build must hold the same rows — dst ids and distance bits in
  * order — the same entry point and the same layer count. The input holds
  * what an ordinal build can get wrong: rows out of id order (ordinal is
  * not id rank), a repeated id, exact copies under other ids (distance
  * ties, ordered by id), and one vector of another length. Hamming
  * distances are small integers, so ties fill most code rows. */
class OrdinalBuildSpec extends SparkSpec {
  import spark.implicits._

  private val params = HnswParams.standard(efConstruction = 24, efSearch = 16, m = 4)
  // a small schedule: doubling batches, then grown ones, then a short last
  // one; at seed 18 one batch holds two rows that top the graph at one
  // layer, so only the merge's id order picks the entry point
  private def cfgFor(metric: String) = BuildConfig(params, metric, seed = 18L,
    seedBatch = 8, maxBatch = 16, growthDenom = 2, batchCeiling = 4096)

  private def vecFromHash(i: Long, dim: Int = 8): Array[Float] =
    Array.tabulate(dim)(j => (HnswParams.uniformFromHash(i * 31 + j, 4L) * 2.0 - 1.0).toFloat)

  /** Distinct ids out of id order, 52 of them copies of earlier vectors
    * (40 under larger ids, 12 under smaller ones), one vector three floats
    * longer. */
  private val distinctRows: Array[(Long, Array[Float])] = {
    val base = (0 until 260).map { i =>
      val id = (i * 7919L) % 1000L
      (id, vecFromHash(id, if (i == 97) 11 else 8))
    }
    val copies = (0 until 40).map(i => (2000L - i * 3, base(i * 5)._2.clone))
    val free = (0L until 1000L).filterNot(base.map(_._1).toSet).iterator
    val under = base.filter(_._1 > 600).take(12).map { case (_, v) => (free.next(), v.clone) }
    (base ++ copies ++ under).toArray
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

  /** The id-keyed batched build of `ids`, every one already in `store`:
    * sequential seeds, then per batch a phase 1 against the snapshot and an
    * id-ordered merge. Also counts the batches whose new entry point the
    * merge order decides: two rows top the graph at one layer, and the
    * lower id is not the first row. */
  private def referenceBatched(cfg: BuildConfig, ids: Seq[Long],
                               store: VectorStore): (GraphSnapshot, Int) = {
    val searcher = new HnswSearcher(cfg.params)
    val graph = new InMemoryGraph
    val layerOf = ids.map(id => searcher.selectLayerByHash(id, cfg.seed))
    (0 until math.min(cfg.seedBatch, ids.length)).foreach(i =>
      searcher.insert(store, graph, ids(i), layerOf(i)))
    var entryTies = 0
    batches(ids.length, cfg).foreach { case (from, until) =>
      val snap = graph.snapshot
      val top = (from until until).map(layerOf).max
      val topping = (from until until).filter(i => layerOf(i) == top && top >= graph.numLayers)
      if (topping.size > 1 && ids(topping.head) != topping.map(ids(_)).min) entryTies += 1
      (from until until)
        .map(i => (ids(i), searcher.searchToInsert(store, snap, ids(i), layerOf(i))._1))
        .sortBy(_._1)
        .foreach { case (id, links) =>
          store.insert(id)
          searcher.insertFromSearchResults(store, graph, id, links, links.size > graph.numLayers)
        }
    }
    (graph.snapshot, entryTies)
  }

  /** The float batched build of `rows`. */
  private def referenceBatched(cfg: BuildConfig): (GraphSnapshot, Int) = {
    val rs = rows.distinctBy(_._1)
    val store = new ArrayVectorStore(Metrics.byName(cfg.metric))
    rs.foreach { case (id, v) => store.prepareQueryWithId(id, v) }
    referenceBatched(cfg, rs.map(_._1).toSeq, store)
  }

  /** The id-keyed sequential build of `ids` on top of `prior`; `stage(id)`
    * readies `id`'s point in `store` before its insert. */
  private def referenceGrow(cfg: BuildConfig, store: VectorStore, ids: Seq[Long],
                            prior: Option[GraphSnapshot])(stage: Long => Unit): GraphSnapshot = {
    val searcher = new HnswSearcher(cfg.params)
    val graph = prior.fold(new InMemoryGraph)(InMemoryGraph.fromSnapshot)
    ids.foreach { id =>
      stage(id)
      searcher.insert(store, graph, id, searcher.selectLayerByHash(id, cfg.seed))
    }
    graph.snapshot
  }

  /** The id-keyed sequential build of `rs` on top of `prior`, whose
    * vectors are `priorRows`. */
  private def referenceSequential(cfg: BuildConfig, rs: Seq[(Long, Array[Float])],
                                  prior: Option[GraphSnapshot] = None,
                                  priorRows: Seq[(Long, Array[Float])] = Nil): GraphSnapshot = {
    val store = new ArrayVectorStore(Metrics.byName(cfg.metric))
    (priorRows ++ rs).foreach { case (id, v) => store.prepareQueryWithId(id, v) }
    referenceGrow(cfg, store, rs.map(_._1), prior)(_ => ())
  }

  /** Hamming distance between the codes of two ids. */
  private final class HammingStore(code: Long => Long) extends VectorStore {
    type Raw = Long
    override def prepareQuery(raw: Long): Long = throw new UnsupportedOperationException
    override def insert(q: Long): Long = q
    override def evalDistance(q: Long, v: Long): Double =
      java.lang.Long.bitCount(code(q) ^ code(v)).toDouble
    override def isMatch(d: Double): Boolean = d <= 0.0
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 400 distinct ids out of id order with random codes, 30 more ids
    * holding copies of earlier codes. */
  private val codeRows: Array[(Long, Long)] = {
    val base = (0 until 400).map { i => val id = (i * 7919L) % 2000L; (id, mix(id)) }
    (base ++ (0 until 30).map(i => (3000L + i * 5, base(i * 7)._2))).toArray
  }
  private val codeOf: Map[Long, Long] = codeRows.toMap

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

  private def kryoRoundTrip[T: scala.reflect.ClassTag](v: T): T = {
    val ser = new org.apache.spark.serializer.KryoSerializer(spark.sparkContext.getConf).newInstance()
    ser.deserialize[T](ser.serialize(v))
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
      val prior = HnswRouted.CellShard(3,
        OrdinalForm.of(ArenaVectorStore.of(metric, first.map(_._1), first.map(_._2)), priorSnap))
      val grown = HnswRouted.growCell(cfg)(3, Some(prior), rest)
      assertSameGraph(grown.snapshot,
        referenceSequential(cfg, rest.toSeq, Some(priorSnap), first.toSeq), s"$metric grown cell")
      assertSameGraph(grown.snapshot, want, s"$metric grown vs fresh cell")
      assert(grown.vectors.size == sorted.length)
      sorted.foreach { case (id, v) => assert(grown.vectors(id).sameElements(v)) }
    }
  }

  test("HnswCodes.build and buildBatched are row-identical to the id-keyed builds") {
    val cfg = cfgFor("l2")
    val df = (codeRows :+ ((codeRows(9)._1, 77L))).toSeq.toDF("id", "code") // one id repeated
    val ids = codeRows.map(_._1).sorted.toSeq
    val store = new HammingStore(codeOf)
    val want = referenceGrow(cfg, store, ids, None)(_ => ())
    assert(want.layers.length > 2, "the data must give a multi-layer graph")
    assert(tiedRows(want) > 20, "too few rows hold a distance tie")
    val model = HnswCodes.build(df, params, seed = cfg.seed)
    assertSameGraph(model.snapshot, want, "sequential codes")

    val bs = batches(ids.length, cfg)
    assert(bs.exists { case (from, until) => until - from == from }, "no doubling batch")
    assert(bs.exists { case (from, until) => until - from > cfg.maxBatch }, "no grown batch")
    val (lastFrom, lastUntil) = bs.last
    assert(lastUntil - lastFrom < math.min(lastFrom / cfg.growthDenom, lastFrom), "no short last batch")
    val (wantBatched, _) = referenceBatched(cfg, ids, store)
    assert(tiedRows(wantBatched) > 20, "too few rows hold a distance tie")
    val batched = HnswCodes.buildBatched(df, params, cfg.seed, cfg.seedBatch, cfg.maxBatch,
      cfg.growthDenom, cfg.batchCeiling)
    assertSameGraph(batched.snapshot, wantBatched, "batched codes")
    // the first occurrence of the repeated id is the one kept
    assert(model.codes.size == codeRows.length && batched.codes.size == codeRows.length)
    codeRows.foreach { case (id, c) => assert(model.codes(id) == c && batched.codes(id) == c) }
  }

  test("HnswRoutedCodes.growCell with and without a prior is row-identical to the id-keyed build") {
    val cfg = cfgFor("l2")
    val sorted = codeRows.sortBy(_._1)
    val (first, rest) = sorted.splitAt(260)
    val store = new HammingStore(codeOf)
    val want = referenceGrow(cfg, store, sorted.map(_._1).toSeq, None)(_ => ())
    assert(tiedRows(want) > 20, "too few rows hold a distance tie")
    val grow = HnswRoutedCodes.growCell(params, cfg.seed) _
    assertSameGraph(grow(2, None, sorted).snapshot, want, "fresh code cell")

    val priorSnap = referenceGrow(cfg, store, first.map(_._1).toSeq, None)(_ => ())
    val prior = HnswRoutedCodes.CodeCellShard(2,
      OrdinalForm.of(CodeArena.of(first.map(_._1), first.map(_._2)), priorSnap))
    val grown = grow(2, Some(prior), rest)
    assertSameGraph(grown.snapshot,
      referenceGrow(cfg, store, rest.map(_._1).toSeq, Some(priorSnap))(_ => ()), "grown code cell")
    assertSameGraph(grown.snapshot, want, "grown vs fresh code cell")
    assert(grown.codes.size == sorted.length && prior.codes.size == first.length)
    sorted.foreach { case (id, c) => assert(grown.codes(id) == c) }
  }

  test("HnswRoutedPq.growSolo with and without a prior is row-identical to the id-keyed ADC build") {
    val cfg = cfgFor("l2")
    // 16 floats: one per PQ subspace; exact copies share a code, under
    // ids below their originals' so the prior holds both
    val base = distinctRows.take(260).map { case (id, _) => (id, vecFromHash(id, 16)) }
    val sorted = (base ++ (0 until 40).map(i => (-5L - i * 3, base(i * 5)._2.clone))).sortBy(_._1)
    val cb = HnswPq.trainOnArrays(sorted.map(_._2), 13L)
    val cbB = spark.sparkContext.broadcast(cb)
    val (first, rest) = sorted.splitAt(180)
    /** The engine over [[AdcVectorStore]]: each row staged under its id,
      * quantized by its insert. */
    def reference(rs: Seq[(Long, Array[Float])], prior: Option[(GraphSnapshot, LongLongMap)]) = {
      val codes = prior.fold(new LongLongMap())(_._2)
      val store = new AdcVectorStore(cb, id => codes(id))
      val vec = rs.toMap
      referenceGrow(cfg, store, rs.map(_._1), prior.map(_._1))(id => store.prepareQueryWithId(id, vec(id)))
    }
    val grow = HnswRoutedPq.growSolo(cbB, params, cfg.seed, ingested = true) _
    val want = reference(sorted.toSeq, None)
    assert(tiedRows(want) > 5, "too few rows hold a distance tie")
    assertSameGraph(grow(1, None, sorted).snapshot, want, "fresh pq cell")

    val priorCodes = LongLongMap.from(first.iterator.map { case (id, v) =>
      (id, PqKernels.encodeArray(v, cb)) }, first.length)
    val priorSnap = reference(first.toSeq, None)
    val grown = grow(1, Some(HnswRoutedPq.PqCellShard(1,
      OrdinalForm.of(CodeArena.of(first.map(_._1), first.map(r => priorCodes(r._1))), priorSnap), 5L)), rest)
    assertSameGraph(grown.snapshot, reference(rest.toSeq, Some((priorSnap, priorCodes))), "grown pq cell")
    assert(grown.codes.size == sorted.length)
    sorted.foreach { case (id, v) => assert(grown.codes(id) == PqKernels.encodeArray(v, cb)) }
  }

  test("growCell on a Kryo round-tripped prior is row-identical to the id-keyed build (float and codes)") {
    val cfg = cfgFor("l2")
    val (first, rest) = distinctRows.sortBy(_._1).splitAt(170)
    val priorSnap = referenceSequential(cfg, first.toSeq)
    val prior = kryoRoundTrip(HnswRouted.growCell(cfg)(3, None, first))
    assertSameGraph(prior.snapshot, priorSnap, "round-tripped float prior")
    assertSameGraph(HnswRouted.growCell(cfg)(3, Some(prior), rest).snapshot,
      referenceSequential(cfg, rest.toSeq, Some(priorSnap), first.toSeq), "float cell on a round-tripped prior")

    val (cFirst, cRest) = codeRows.sortBy(_._1).splitAt(260)
    val store = new HammingStore(codeOf)
    val grow = HnswRoutedCodes.growCell(params, cfg.seed) _
    val cPriorSnap = referenceGrow(cfg, store, cFirst.map(_._1).toSeq, None)(_ => ())
    val cPrior = kryoRoundTrip(grow(2, None, cFirst))
    assertSameGraph(cPrior.snapshot, cPriorSnap, "round-tripped code prior")
    assertSameGraph(grow(2, Some(cPrior), cRest).snapshot,
      referenceGrow(cfg, store, cRest.map(_._1).toSeq, Some(cPriorSnap))(_ => ()),
      "code cell on a round-tripped prior")
  }

  test("growSolo on a PQ cell encoded from a float cell keeps its float distances, row-identical to the id-keyed path") {
    val cfg = cfgFor("l2")
    // 16 floats: one per PQ subspace; exact copies under smaller ids
    val base = distinctRows.take(260).map { case (id, _) => (id, vecFromHash(id, 16)) }
    val sorted = (base ++ (0 until 40).map(i => (-5L - i * 3, base(i * 5)._2.clone))).sortBy(_._1)
    val cb = HnswPq.trainOnArrays(sorted.map(_._2), 13L)
    val (first, rest) = sorted.splitAt(180)
    // the prior's float L2 distances, which its codes cannot recompute
    val priorSnap = referenceSequential(cfg, first.toSeq)
    val encoded = kryoRoundTrip(HnswRoutedPq.encodeShard(HnswRouted.growCell(cfg)(1, None, first), cb))
    assertSameGraph(encoded.snapshot, priorSnap, "encoded cell")
    val grown = HnswRoutedPq.growSolo(spark.sparkContext.broadcast(cb), params, cfg.seed,
      ingested = true)(1, Some(encoded), rest)
    val priorCodes = first.map { case (id, v) => id -> PqKernels.encodeArray(v, cb) }.toMap
    val store = new AdcVectorStore(cb, priorCodes)
    val vec = rest.toMap
    val want = referenceGrow(cfg, store, rest.map(_._1).toSeq, Some(priorSnap))(id =>
      store.prepareQueryWithId(id, vec(id)))
    assert(tiedRows(want) > 5, "too few rows hold a distance tie")
    assertSameGraph(grown.snapshot, want, "pq cell grown on an encoded float cell")
  }
}
