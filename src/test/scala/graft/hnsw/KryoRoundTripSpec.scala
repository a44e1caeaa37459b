package graft.hnsw

import graft.HashData.vecFromHash
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn
import graft.store.{ArenaVectorStore, ArrayVectorStore, CodeQuery, Metrics}

/** Forced serialization round-trips of every cached/broadcast shard
  * payload. The hazard class is real, not theoretical: scala's
  * `mutable.LongMap` held in RDD-cached shard state deserialized CORRUPT
  * under Spark's KryoSerializer and SIGSEGV'd the JVM at the round-16
  * 1e7 PQ rung (hs_err frame inside `LongMap.foreachKey` after a
  * DISK_ONLY eviction). The float tier survived only because its shards
  * stayed memory-resident at rehearsed scales — the assumption a 100x
  * scale-up breaks. These tests force the round-trip the eviction path
  * takes: an explicit Kryo serialize -> deserialize on every payload
  * class, plus a DISK_ONLY serve (every read deserializes from disk). */
class KryoRoundTripSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "cosine", seed = 42L)

  private def kryoRoundTrip[T: scala.reflect.ClassTag](v: T): T = {
    val ser = new org.apache.spark.serializer.KryoSerializer(
      spark.sparkContext.getConf)
    val inst = ser.newInstance()
    inst.deserialize[T](inst.serialize(v))
  }

  test("LongVecMap survives a forced Kryo round-trip (keys, values, growth)") {
    val m = new LongVecMap(4)
    val rows = (0 until 5000).map(i => (i.toLong * 37 - 2500, vecFromHash(i.toLong, 5L, 8)))
    rows.foreach { case (k, v) => m.put(k, v) }
    m.put(Long.MinValue, vecFromHash(-1L, 5L, 8)) // the empty-slot sentinel key
    val rt = kryoRoundTrip(m)
    assert(rt.size == m.size)
    assert(rt.keySet == m.keySet)
    rows.foreach { case (k, v) =>
      assert(rt.contains(k) && rt(k).toSeq == v.toSeq, s"value mismatch at $k")
    }
    assert(rt(Long.MinValue).toSeq == m(Long.MinValue).toSeq)
    // the table must stay structurally sound post-deserialize: puts
    // (including growth) and full walks still work
    (5000 until 12000).foreach(i => rt.put(i.toLong * 37, vecFromHash(i.toLong, 6L, 8)))
    var walked = 0
    rt.foreachKey(_ => walked += 1)
    assert(walked == rt.size && rt.size == m.size + 7000)
  }

  test("routed float CellShard Kryo round-trips and serves identically") {
    val n = 1500
    val baseDf = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val qDf = (0 until 40).map(q => (q.toLong, vecFromHash(q + 90000L, 9L, 16)))
      .toDF("qid", "qvec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 6, persist = false)
    val part = index.shards.partitioner.get
    val rtShards = spark.sparkContext
      .parallelize(index.shards.collect().map(kryoRoundTrip(_)).toSeq)
      .partitionBy(part)
    val rtIndex = index.copy(shards = rtShards)
    def serve(ix: HnswRouted.RoutedIndex) =
      HnswRouted.search(ix, qDf, 10, nProbe = 6)
        .select(col("qid"), col("id"), col("dist")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(serve(rtIndex) == serve(index))
  }

  test("routed float tier serves correctly from DISK_ONLY (every read deserializes)") {
    // the exact trigger of the round-16 SIGSEGV, on the float tier: the
    // shard RDD's only copy lives serialized on disk, so EVERY serve
    // job Kryo-deserializes the shards before searching
    val n = 1500
    val baseDf = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val qDf = (0 until 40).map(q => (q.toLong, vecFromHash(q + 90000L, 9L, 16)))
      .toDF("qid", "qvec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 6, persist = false)
    index.shards.persist(StorageLevel.DISK_ONLY).setName("kryo-spec-disk").count()
    try {
      val routed = HnswRouted.search(index, qDf, 10, nProbe = 6)
        .select(col("qid"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = ExactKnn.search(qDf, baseDf, 10, "cosine")
        .select(col("qid"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(routed == exact)
    } finally index.shards.unpersist(blocking = true)
  }

  test("codes-tier CodeCellShard and PQ-tier PqCellShard Kryo round-trip and serve identically") {
    // the codes/PQ shard payloads are LongLongMap-backed (the class the
    // 1e8 decade proved through DISK_ONLY) — this pins the WHOLE shard
    // case classes, snapshot included, through the explicit round-trip
    @inline def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val codesDf = (0L until 1200L).map(i => (i, mix(i))).toDF("id", "code")
    val cIx = HnswRoutedCodes.build(codesDf, cfg.params, nCells = 4,
      persist = false)
    val cPart = cIx.shards.partitioner.get
    val cRt = cIx.copy(shards = spark.sparkContext
      .parallelize(cIx.shards.collect().map(kryoRoundTrip(_)).toSeq)
      .partitionBy(cPart))
    val qC = (0 until 30).map(q => (q.toLong, mix(q + 50000L))).toDF("qid", "qcode")
    def serveC(ix: HnswRoutedCodes.RoutedCodeIndex) =
      HnswRoutedCodes.search(ix, qC, 10, nProbe = 4)
        .select(col("qid"), col("id"), col("hamming")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(serveC(cRt) == serveC(cIx))

    val vecsDf = (0 until 1200).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val rIx = HnswRouted.build(vecsDf,
      cfg.copy(metric = "l2"), nCells = 4, persist = false)
    val pIx = HnswRoutedPq.fromRouted(rIx, persist = false)
    val pPart = pIx.shards.partitioner.get
    val pRt = pIx.copy(shards = spark.sparkContext
      .parallelize(pIx.shards.collect().map(kryoRoundTrip(_)).toSeq)
      .partitionBy(pPart))
    val qP = (0 until 30).map(q => (q.toLong, vecFromHash(q + 50000L, 9L, 16)))
      .toDF("qid", "qvec")
    def serveP(ix: HnswRoutedPq.RoutedPqIndex) =
      HnswRoutedPq.search(ix, qP, vecsDf, k = 10, nProbe = 4, candidates = 64)
        .select(col("qid"), col("id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(serveP(pRt) == serveP(pIx))
  }

  test("sharded-tier ShardModel and broadcast-tier HnswModel Kryo round-trip") {
    val rows = (0 until 800).map(i => (i.toLong, vecFromHash(i.toLong, 11L, 16)))
    val model = HnswDistributed.buildFromArray(spark, rows.toArray, cfg)
    val rt = kryoRoundTrip(model)
    assert(rt.vectors.size == model.vectors.size)
    rows.foreach { case (id, v) =>
      assert(rt.vectors(id).toSeq == v.toSeq, s"model vector mismatch at $id")
    }
    // serve through the round-tripped model: same kNN as the original,
    // on the generic engine and through the rebuilt serving view
    val metric = Metrics.byName(cfg.metric)
    def knn(m: HnswModel, qvec: Array[Float]): Seq[(Long, Double)] = {
      val searcher = new HnswSearcher(m.params)
      val store = new ArrayVectorStore(metric, base = m.vectors)
      val q = store.prepareQueryWithId(-1L, qvec)
      searcher.search(store, m.snapshot, q, 10).iterator
        .map(nb => (nb.dst, nb.dist)).toSeq
    }
    def served(view: OrdinalGraph[Array[Float]], qvec: Array[Float]): Seq[(Long, Double)] =
      view.search(qvec, 10, 0).iterator.map(nb => (nb.dst, nb.dist)).toSeq
    val queries = (0 until 10).map(qi => vecFromHash(qi + 70000L, 13L, 16))
    val (rtKernel, kernel) = (rt.kernel(), model.kernel())
    queries.zipWithIndex.foreach { case (qvec, qi) =>
      assert(knn(rt, qvec) == knn(model, qvec), s"serve diverged for query $qi")
      assert(served(rtKernel, qvec) == served(kernel, qvec))
      assert(served(rtKernel, qvec) == knn(model, qvec), s"view serve diverged for query $qi")
    }
    // the view's arena and rows never ride in the payload: each holder
    // serializes to the same bytes whether or not its view was built
    // first, and a round-tripped holder serves as the original
    val ser = new org.apache.spark.serializer.KryoSerializer(
      spark.sparkContext.getConf).newInstance()
    def sameBytes(holder: AnyRef, view: () => OrdinalGraph[Array[Float]]): Unit = {
      val before = ser.serialize(holder)
      assert(view().exactTopK(queries.head, rows.size, _ => true).size == rows.size)
      assert(ser.serialize(holder) == before)
    }
    val fresh = HnswDistributed.buildFromArray(spark, rows.toArray, cfg)
    sameBytes(fresh, () => fresh.kernel())
    // a holder restored from an id-keyed graph, its arena in map order
    val (ids, vs) = rt.vectors.iterator.toArray.unzip
    val restored = OrdinalForm.of(ArenaVectorStore.of(cfg.metric, ids, vs), rt.snapshot)
    val sm = HnswDistributed.ShardModel(restored)
    sameBytes(sm, () => sm.view(cfg))
    val smRt = kryoRoundTrip(sm)
    assert(smRt.vectors.size == sm.vectors.size &&
      smRt.vectors.keySet == sm.vectors.keySet)
    val cell = HnswRouted.CellShard(3, restored)
    sameBytes(cell, () => cell.view(cfg))
    val cellRt = kryoRoundTrip(cell)
    assert(cellRt.cell == 3)
    queries.foreach { qvec =>
      assert(served(smRt.view(cfg), qvec) == served(sm.view(cfg), qvec))
      assert(served(cellRt.view(cfg), qvec) == served(cell.view(cfg), qvec))
      assert(served(cellRt.view(cfg), qvec) == knn(model, qvec))
    }
  }

  test("code and PQ models and shards serialize the same with or without a view, and round-trip") {
    @inline def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val ser = new org.apache.spark.serializer.KryoSerializer(
      spark.sparkContext.getConf).newInstance()
    def bits(q: FurthestQueue): Seq[(Long, Long)] =
      q.iterator.map(nb => (nb.dst, java.lang.Double.doubleToRawLongBits(nb.dist))).toSeq
    /** The holder's bytes do not change when its view is built, and its
      * round-trip's view serves the original's rows. */
    def check[H <: AnyRef: scala.reflect.ClassTag](holder: H, queries: Seq[CodeQuery])(
        view: H => OrdinalGraph[CodeQuery]): Unit = {
      val before = ser.serialize(holder)
      val want = queries.map(q => bits(view(holder).search(q, 10, 0)))
      assert(want.forall(_.nonEmpty))
      assert(ser.serialize(holder) == before, s"${holder.getClass.getSimpleName} bytes changed")
      val rt = kryoRoundTrip(holder)
      assert(queries.map(q => bits(view(rt).search(q, 10, 0))) == want)
    }
    val params = cfg.params
    val codesDf = (0L until 900L).map(i => (i, mix(i))).toDF("id", "code")
    val hamming = (0 until 20).map(q => CodeQuery.hamming(mix(q + 50000L)))
    check(HnswCodes.build(codesDf, params), hamming)(_.view())
    val codeShard = HnswRoutedCodes.build(codesDf, params, nCells = 3, persist = false)
      .shards.collect().map(_._2).maxBy(_.codes.size)
    check(codeShard, hamming)(_.view(params))

    val vecs = (0 until 900).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16))).toArray
    val model = HnswDistributed.buildFromArray(spark, vecs, cfg.copy(metric = "l2"))
    val pq = HnswPq.fromModelCached(model, "kryo-round-trip")
    val adc = (0 until 20).map(q => CodeQuery.adc(vecFromHash(q + 50000L, 9L, 16), pq.codebook))
    check(pq, adc)(_.view())
    val pqShard = HnswRoutedPq.fromRouted(HnswRouted.build(vecs.toSeq.toDF("id", "vec"),
      cfg.copy(metric = "l2"), nCells = 3, persist = false), persist = false)
      .shards.collect().map(_._2).maxBy(_.codes.size)
    check(pqShard, adc)(_.view(params))
  }

  test("the batched build's phase-1 state round-trips and searches identically") {
    // local-mode tasks read the driver's broadcast object as it is, so
    // only an explicit round-trip shows what a cluster's tasks would get
    val ser = org.apache.spark.SparkEnv.get.serializer.newInstance()
    def roundTrip[T: scala.reflect.ClassTag](v: T): T = ser.deserialize[T](ser.serialize(v))
    val n = 1200
    val built = 800
    val ids = Array.tabulate(n)(i => (i * 7919L) % 5000L) // out of id order
    val vectors = new BuildVectors(cfg.metric, ids, ids.map(vecFromHash(_, 23L, 16)))
    val searcher = new HnswSearcher(cfg.params)
    val layers = ids.map(searcher.selectLayerByHash(_, cfg.seed))
    val graph = new OrdinalGraph(cfg.params, vectors.store)
    (0 until built).foreach(i => graph.connect(i, graph.searchToInsert(vectors.vecs(i), layers(i))))
    val copy = graph.rowCopy
    val (rtVectors, rtCopy) = (roundTrip(vectors), roundTrip(copy))
    assert(rtVectors.store.ids.take(n).sameElements(ids))
    // so do the u64 build's rows, also shipped after the driver built its store
    val codeRows = new HnswCodes.BuildCodes(ids, ids.map(_ * 31L))
    assert(codeRows.store.size == n)
    val rtCodes = roundTrip(codeRows).store
    assert(rtCodes.ids.sameElements(ids) && rtCodes.codes.sameElements(ids.map(_ * 31L)))

    def beams(p: BuildVectors, c: OrdinalRows): Seq[Seq[Seq[(Int, Long)]]] = {
      val view = new OrdinalGraph(cfg.params, p.store, c)
      (built until n).map { i =>
        view.searchToInsert(p.vecs(i), layers(i)).toSeq.map(q =>
          (0 until q.size).map(j => (q.ordAt(j), java.lang.Double.doubleToRawLongBits(q.distAt(j)))))
      }
    }
    val want = beams(vectors, copy)
    assert(want.exists(_.head.nonEmpty))
    assert(beams(rtVectors, rtCopy) == want)
    // the per-batch broadcast: Int rows without distances, at most half
    // the bytes of the id-keyed snapshot of the same graph
    val (copyBytes, snapBytes) = (ser.serialize(copy).remaining, ser.serialize(graph.snapshot).remaining)
    assert(copyBytes * 2 <= snapBytes, s"row copy $copyBytes B, snapshot $snapBytes B")
  }

  test("a streaming index's ServingImage Kryo round-trips and serves identically") {
    val index = new graft.streaming.StreamingIngest.IncrementalIndex(cfg)
    def rows(ids: Range) = ids.map(i => (i.toLong, vecFromHash(i.toLong, 17L, 16))).toArray
    index.insertRows(rows(400 until 700))
    index.insertRows(rows(0 until 300)) // ids out of order: a permuted image
    val image = index.image
    // the arena's id map never rides: the image serializes to the same
    // bytes before and after a lookup built it
    val ser = new org.apache.spark.serializer.KryoSerializer(
      spark.sparkContext.getConf).newInstance()
    val before = ser.serialize(image)
    assert(image.arena.ordinalOf(0L) == 300) // insertion order
    assert(ser.serialize(image) == before)
    val rt = kryoRoundTrip(image)
    assert(rt.arena.metric == image.arena.metric && rt.size == 600)
    assert(rt.arena.ids.sameElements(image.arena.ids))
    assert((0L until 300L).forall(id => rt.arena.ordinalOf(id) == image.arena.ordinalOf(id)))
    def bits(q: FurthestQueue): Seq[(Long, Long)] =
      q.iterator.map(nb => (nb.dst, java.lang.Double.doubleToRawLongBits(nb.dist))).toSeq
    val (rtKernel, kernel) = (rt.kernel(), image.kernel())
    (0 until 10).foreach { qi =>
      val qvec = vecFromHash(qi + 80000L, 19L, 16)
      assert(bits(rtKernel.search(qvec, 10, 0)) == bits(kernel.search(qvec, 10, 0)),
        s"serve diverged for query $qi")
      assert(bits(rtKernel.exactTopK(qvec, 10, _ % 2 == 0)) ==
        bits(kernel.exactTopK(qvec, 10, _ % 2 == 0)))
    }
  }

  test("all seven holders round-trip into what they serve; a code or PQ cell serves without an id map") {
    @inline def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def b(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    def bits(q: FurthestQueue): Seq[(Long, Long)] = q.iterator.map(nb => (nb.dst, b(nb.dist))).toSeq
    def sig(s: graft.store.GraphSnapshot) = (s.entryPoint, s.layers.toSeq.map(l =>
      (l.srcs.toSeq, l.offsets.toSeq, l.dsts.toSeq, l.dists.toSeq.map(b))))
    /** The round trip serves the original's top-k, bits included, and
      * derives the original's snapshot. */
    def check[H: scala.reflect.ClassTag, Q](holder: H, queries: Seq[Q])(view: H => OrdinalGraph[Q],
        snap: H => graft.store.GraphSnapshot): H = {
      val name = holder.getClass.getSimpleName
      val rt = kryoRoundTrip(holder)
      val (got, want) = (view(rt), view(holder))
      queries.foreach(q => assert(bits(got.search(q, 10, 0)) == bits(want.search(q, 10, 0)), name))
      assert(sig(snap(rt)) == sig(snap(holder)), s"$name snapshot")
      rt
    }
    val params = cfg.params
    val rows = (0 until 900).map(i => (i.toLong * 7 - 300, vecFromHash(i.toLong, 29L, 16)))
    val vecQueries = (0 until 12).map(q => vecFromHash(q + 60000L, 31L, 16))
    val rowsDf = rows.toDF("id", "vec")
    check(HnswDistributed.buildFromArray(spark, rows.toArray, cfg), vecQueries)(_.kernel(), _.snapshot)
    HnswDistributed.buildSharded(rowsDf, cfg, numShards = 2, persist = false).shards.collect()
      .foreach(s => check(s, vecQueries)(_.view(cfg), _.snapshot))
    HnswRouted.build(rowsDf, cfg, nCells = 3, persist = false).shards.collect()
      .foreach { case (_, c) => check(c, vecQueries)(_.view(cfg), _.snapshot) }

    val codesDf = rows.map { case (id, _) => (id, mix(id)) }.toDF("id", "code")
    val hamming = (0 until 12).map(q => CodeQuery.hamming(mix(q + 70000L)))
    check(HnswCodes.build(codesDf, params), hamming)(_.view(), _.snapshot)
    val codeCells = HnswRoutedCodes.build(codesDf, params, nCells = 3, persist = false)
      .shards.collect().map(_._2)
    codeCells.foreach(c => check(c, hamming)(_.view(params), _.snapshot))
    val l2 = cfg.copy(metric = "l2")
    val pq = HnswPq.fromModelCached(HnswDistributed.buildFromArray(spark, rows.toArray, l2), "kryo-seven")
    val adc = vecQueries.map(CodeQuery.adc(_, pq.codebook))
    check(pq, adc)(_.view(), _.snapshot)
    val routedPq = HnswRoutedPq.fromRouted(HnswRouted.build(rowsDf, l2, nCells = 3, persist = false),
      persist = false)
    val pqCells = routedPq.shards.collect().map(_._2)
    pqCells.foreach(c => check(c, adc)(_.view(params), _.snapshot))

    // a beam query and an exhaustive (exact-scan) query on a fresh round
    // trip, as a DISK_ONLY serve reads it: equal to the original's, and
    // the store's id -> ordinal map is never built
    val codeCell = codeCells.maxBy(_.form.size)
    val dead = Array(codeCell.form.store.ids(0))
    def codeServe(c: HnswRoutedCodes.CodeCellShard, exhaustive: Boolean) = {
      val view = c.view(params)
      PredicatedCensus.serve(c.form.store, Iterator((0L, hamming.head.code)), 10, 16, exhaustive,
        hasAllow = false, Array.empty, dead)(
        (qc, kk, ef) => view.search(CodeQuery.hamming(qc), kk, ef),
        qc => view.distances(CodeQuery.hamming(qc))).toList
    }
    val codeRt = kryoRoundTrip(codeCell)
    for (exhaustive <- Seq(false, true))
      assert(codeServe(codeRt, exhaustive) == codeServe(codeCell, exhaustive))
    assert(!codeRt.form.store.idMapBuilt, "a round-tripped code cell built its id map to serve")

    val pqCell = pqCells.maxBy(_.form.size)
    def pqServe(c: HnswRoutedPq.PqCellShard, exhaustive: Boolean) =
      HnswRoutedPq.serveAdcShard(params, c, routedPq.codebook, Array(c.form.store.ids(0)),
        Iterator((0L, vecQueries.head)), 10, exhaustive, 0, hasAllow = false, Array.empty).toList
    val pqRt = kryoRoundTrip(pqCell)
    for (exhaustive <- Seq(false, true))
      assert(pqServe(pqRt, exhaustive) == pqServe(pqCell, exhaustive))
    assert(!pqRt.form.store.idMapBuilt, "a round-tripped PQ cell built its id map to serve")
  }
}
