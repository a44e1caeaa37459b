package graft.hnsw

import graft.HashData
import graft.tools.ScaleRehearsal.Corpus
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn
import graft.store.EntryPoint

/** Distributed build/search/persistence invariants on the sf0.001
  * embeddings table. */
class HnswDistributedSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val vectors = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val queries = emb.filter(col("vec_id") % 25 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private val cfg = BuildConfig(
    HnswParams.standard(efConstruction = 64, efSearch = 64, m = 16),
    metric = "cosine", seed = 42L, seedBatch = 64, maxBatch = 128)

  private lazy val model = HnswDistributed.build(vectors, cfg)

  test("batched build: recall@10 >= 0.95 vs the exact oracle") {
    val hnsw = HnswDistributed.search(queries, model, 10)
      .select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(queries, vectors, 10, "cosine")
      .select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (hnsw intersect exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall=$recall")
  }

  test("self-match invariant distributed (hawk_searcher.rs:441-479 port)") {
    val sm = HnswDistributed.selfMatch(vectors, model, matchThreshold = 1e-6)
    assert(sm.filter(!col("matched")).count() == 0)
    assert(sm.count() == vectors.count())
  }

  test("build is deterministic: same seed => identical graph") {
    val again = HnswDistributed.build(vectors, cfg)
    assert(model.snapshot.entryPoint == again.snapshot.entryPoint)
    assert(model.snapshot.numLayers == again.snapshot.numLayers)
    (0 until model.snapshot.numLayers).foreach { lc =>
      val a = model.snapshot.layerMap(lc)
      val b = again.snapshot.layerMap(lc)
      assert(a.keySet == b.keySet, s"layer $lc vertex set differs")
      a.foreach { case (src, (dsts, dists)) =>
        assert(dsts.toList == b(src)._1.toList, s"layer $lc vertex $src links differ")
        assert(dists.toList == b(src)._2.toList)
      }
    }
  }

  test("degree bounds hold in the distributed build") {
    (0 until model.snapshot.numLayers).foreach { lc =>
      val bound = cfg.params.getMMax(lc)
      model.snapshot.layerMap(lc).foreach { case (src, (dsts, _)) =>
        assert(dsts.length <= bound, s"vertex $src layer $lc degree ${dsts.length} > $bound")
      }
    }
  }

  test("upper layers thin out geometrically") {
    val sizes = (0 until model.snapshot.numLayers).map(model.snapshot.vertexCount)
    assert(sizes.head == model.size)          // layer 0 holds everyone
    assert(sizes == sizes.sorted.reverse, s"layer sizes not decreasing: $sizes")
    if (model.snapshot.numLayers > 1)
      assert(sizes(1) < sizes.head / 4, s"layer 1 too dense: $sizes")
  }

  test("parquet round-trip: links + entry point survive save/load (graph_pg.rs:231-286 port)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-graph").toString
    GraphFrames.save(spark, model.snapshot, dir)
    val loaded = GraphFrames.load(spark, dir)
    assert(loaded.entryPoint == model.snapshot.entryPoint)
    assert(loaded.numLayers == model.snapshot.numLayers)
    (0 until loaded.numLayers).foreach { lc =>
      val a = model.snapshot.layerMap(lc); val b = loaded.layerMap(lc)
      assert(a.keySet == b.keySet)
      a.foreach { case (src, (dsts, dists)) =>
        assert(b(src)._1.toList == dsts.toList)
        assert(b(src)._2.toList == dists.toList)
      }
    }
  }

  test("DataFrame remap (G6): identity equals original; doubling remaps links") {
    import spark.implicits._
    val links = GraphFrames.toLinksDF(spark, model.snapshot)
    val ids = model.vectors.keysIterator.toSeq
    val idMapSame = ids.map(i => (i, i)).toDF("old", "new")
    val same = GraphFrames.fromLinksDF(
      GraphFrames.remap(links, idMapSame), model.snapshot.entryPoint)
    assert(same.layerMap(0).keySet == model.snapshot.layerMap(0).keySet)
    same.layerMap(0).foreach { case (src, (dsts, dists)) =>
      val (odsts, odists) = model.snapshot.layerMap(0)(src)
      assert(dsts.toList == odsts.toList && dists.toList == odists.toList)
    }

    val idMapDouble = ids.map(i => (i, i * 2)).toDF("old", "new")
    val doubled = GraphFrames.fromLinksDF(
      GraphFrames.remap(links, idMapDouble),
      model.snapshot.entryPoint.map(ep => EntryPoint(ep.point * 2, ep.layer)))
    val orig = model.snapshot.layerMap(0)
    doubled.layerMap(0).foreach { case (src, (dsts, dists)) =>
      assert(src % 2 == 0)
      val (odsts, odists) = orig(src / 2)
      assert(dsts.toList == odsts.map(_ * 2).toList)
      assert(dists.toList == odists.toList)
    }
  }

  test("DataFrame remap (G6): type-changing map (long -> string ids, double -> string dist refs)") {
    import spark.implicits._
    val links = GraphFrames.toLinksDF(spark, model.snapshot)
    val ids = model.vectors.keysIterator.toSeq
    val idMapStr = ids.map(i => (i, s"node-$i")).toDF("old", "new")
    val remapped = GraphFrames.remap(links, idMapStr,
      distMap = d => concat(lit("dist:"), d.cast("string")))
    val schema = remapped.schema
    val linksType = schema(schema.fieldIndex("links")).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema(schema.fieldIndex("src")).dataType ==
      org.apache.spark.sql.types.StringType)
    assert(linksType("dst").dataType == org.apache.spark.sql.types.StringType)
    assert(linksType("dist").dataType == org.apache.spark.sql.types.StringType)

    // every layer-0 neighborhood translates pairwise in order
    val got = remapped.filter(col("layer") === 0)
      .select(col("src"), col("links"))
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (e.getString(0), e.getString(1))))
      .toMap
    val orig = model.snapshot.layerMap(0)
    assert(got.size == orig.size)
    orig.foreach { case (src, (dsts, dists)) =>
      val expected = dsts.zip(dists)
        .map { case (d, dist) => (s"node-$d", s"dist:$dist") }.toSeq
      assert(got(s"node-$src") == expected)
    }

    // vertices with empty neighborhoods survive with the NEW types
    // (the union's empty arrays are retyped, not dropped)
    val emptySrcs = orig.collect { case (src, (dsts, _)) if dsts.isEmpty => src }
    emptySrcs.foreach(src => assert(got(s"node-$src").isEmpty))
  }

  test("sharded build+search equals the exact top-k at exact-regime ef") {
    val sharded = HnswDistributed.buildShardedAndSearch(
        vectors, queries, 10,
        BuildConfig(HnswParams.standard(64, 128, 16), "cosine", 42L), numShards = 4)
      .select(col("qid"), col("id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = ExactKnn.search(queries, vectors, 10, "cosine")
      .select(col("qid"), col("id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(sharded == exact)
  }

  test("micro-batched code build: self-match + top-k parity with sequential build") {
    import spark.implicits._
    val n = 400
    val rows = Array.tabulate(n) { i =>
      (i.toLong, java.lang.Double.doubleToRawLongBits(
        HnswParams.uniformFromHash(i.toLong, 23L)))
    }
    val codesDf = spark.createDataset(rows.toSeq).toDF("id", "code")
    val p = HnswParams.standard(64, 128, 16)
    val seqModel = HnswCodes.build(codesDf, p, seed = 23L)
    val batModel = HnswCodes.buildBatched(codesDf, p, seed = 23L,
      seedBatch = 64, maxBatch = 128)

    val qDf = spark.createDataset(rows.take(50).toSeq).toDF("qid", "qcode")
    def topk(m: HnswCodes.CodeModel) =
      HnswCodes.search(qDf, m, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // generous ef: both builds must surface the same exact top-k
    assert(topk(batModel) == topk(seqModel))

    val self = HnswCodes.search(
        spark.createDataset(rows.toSeq).toDF("qid", "qcode"), batModel, 1)
      .filter(col("rank") === 1 && col("hamming") === 0).count()
    assert(self == n.toLong)
  }

  test("batched code build at grid params holds the self-match recall floor") {
    // the ScaleRehearsal 1e6 rung runs THESE params (standard(64,32,32),
    // splitmix-style codes) — this pins its recall floor at spec scale:
    // every inserted code must find itself (the is_match contract),
    // allowing a small HNSW miss rate at serving ef
    import spark.implicits._
    val n = 20000
    val rows = Array.tabulate(n)(i => (i.toLong, Corpus.splitmixCode(i.toLong)))
    val codesDf = spark.createDataset(rows.toSeq).toDF("id", "code")
    val model = HnswCodes.buildBatched(
      codesDf, HnswParams.standard(64, 32, 32), seed = 23L)
    val modelB = HnswCodes.broadcastModel(spark, model)
    val self = HnswCodes.searchBroadcast(
        spark.createDataset(rows.toSeq).toDF("qid", "qcode"), modelB, 1)
      .filter(col("qid") === col("id")).count()
    modelB.destroy()
    assert(self >= (n * 0.98).toLong, s"self-match $self/$n below the 0.98 floor")
  }

  test("grown-regime batch schedule holds a cross-query recall floor (recall@10 >= 0.9)") {
    // The geometric schedule inserts up to 1/growthDenom of the graph
    // against one stale snapshot once past maxBatch — a different graph
    // than sequential insertion builds. The self-match floor alone
    // can't see degraded NEIGHBORHOOD quality, so this pins recall for
    // HELD-OUT queries at a size where ~99% of inserts run in the grown
    // regime (n=20k, maxBatch=64 -> growth from pos=256, batches up to
    // n/4 = 5000).
    import spark.implicits._
    val dim = 16
    def vecFromHash(i: Long, seed: Long): Array[Float] = HashData.vecFromHash(i, seed, dim)
    val n = 20000
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L)))
    val baseDf = spark.createDataset(base).toDF("id", "vec")
    val held = (0 until 200).map(q => (q.toLong, vecFromHash(q.toLong, 99L)))
    val heldDf = spark.createDataset(held).toDF("qid", "qvec")

    val grownCfg = BuildConfig(HnswParams.standard(64, 64, 16),
      metric = "cosine", seed = 42L, seedBatch = 64, maxBatch = 64,
      growthDenom = 4, batchCeiling = 262144)
    val grownModel = HnswDistributed.build(baseDf, grownCfg)
    val hnsw = HnswDistributed.search(heldDf, grownModel, 10)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(heldDf, baseDf, 10, "cosine")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (hnsw intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"grown-regime cross-query recall=$recall")
    // and the schedule knobs are part of the memo key: two configs
    // differing only in growthDenom must not share a cached model
    assert(HnswDistributed.cacheKey(grownCfg) !=
      HnswDistributed.cacheKey(grownCfg.copy(growthDenom = 2)))
    assert(HnswDistributed.cacheKey(grownCfg) !=
      HnswDistributed.cacheKey(grownCfg.copy(batchCeiling = 4096)))
  }

  test("broadcast build tier fails fast past the Kryo 2 GiB per-array envelope") {
    // the model ships its float arena as one n x dim x 4-byte array:
    // 5e6 x 128-d (2.56e9 bytes) and 700k x 768-d (2.15e9 bytes) pass
    // Int.MaxValue, so the build must throw at entry (not 20 minutes in,
    // at the first over-sized broadcast) and route to the
    // sharded/routed/durable tiers. Every row references one vector, so
    // nothing of that size is allocated.
    val params = HnswParams.standard(64, 32, 32) // mMax0 = 64
    def rejects(n: Int, dim: Int): Unit = {
      val ids = Array.tabulate(n)(_.toLong)
      val layers = new Array[Int](n)
      val one = new Array[Float](dim)
      val e = intercept[IllegalArgumentException] {
        HnswDistributed.batchedBuildLoop(spark, ids, layers, params, 128, 4096)(
          new BuildVectors("cosine", ids, Array.fill(n)(one)))
      }
      assert(e.getMessage.contains("envelope"), e.getMessage)
      assert(e.getMessage.contains("buildSharded"), e.getMessage)
    }
    rejects(5000000, 128)
    rejects(700000, 768)
  }

  test("prebuilt sharded handle serves repeated query batches without rebuild") {
    val index = HnswDistributed.buildSharded(
      vectors, BuildConfig(HnswParams.standard(64, 128, 16), "cosine", 42L),
      numShards = 4)
    try {
      // the handle is persisted: the shard models are materialized once
      assert(index.shards.getStorageLevel.useMemory)
      def run() = HnswDistributed.searchSharded(index, queries, 10)
        .select(col("qid"), col("id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val first = run()
      val second = run()
      assert(first == second)
      val exact = ExactKnn.search(queries, vectors, 10, "cosine")
        .select(col("qid"), col("id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(first == exact)
    } finally index.unpersist()
  }
}
