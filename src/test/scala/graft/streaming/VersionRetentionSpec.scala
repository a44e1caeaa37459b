package graft.streaming

import graft.HashData.vecFromHash
import graft.SparkSpec
import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted, HnswRoutedCodes,
  HnswRoutedPq}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The save-while-attached lifecycle hazard and its fix: a live handle
  * attached from version N reads that version's parquet through its
  * RDD lineage whenever an evicted/lost block recomputes — so the
  * versioned-save commit must RETAIN version N across the save of
  * version N+1 (`keepVersions = 2`), and the streaming loops REBASE
  * the handle onto the just-written version so that by the time the
  * next save reclaims N, no live lineage reads it. */
class VersionRetentionSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(48, 96, 16), metric = "l2", seed = 42L)

  private def versionsUnder(path: String): Seq[String] = {
    val f = new java.io.File(path)
    Option(f.list()).map(_.toSeq.filter(_.startsWith("idx_v")).sorted)
      .getOrElse(Seq.empty)
  }

  test("save keepVersions=2 retains the prior complete version; the next save reclaims it") {
    val codes = (0L until 400L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("id", "code")
    val ix = HnswRoutedCodes.build(codes, HnswParams.standard(48, 96, 16),
      nCells = 2, persist = false)
    val dir = java.nio.file.Files.createTempDirectory("graft_keep_").toString
    HnswRoutedCodes.save(ix, dir)                     // v0
    assert(versionsUnder(dir) == Seq("idx_v0"))
    HnswRoutedCodes.save(ix, dir, keepVersions = 2)   // v1 keeps v0
    assert(versionsUnder(dir) == Seq("idx_v0", "idx_v1"))
    HnswRoutedCodes.save(ix, dir, keepVersions = 2)   // v2 keeps v1, drops v0
    assert(versionsUnder(dir) == Seq("idx_v1", "idx_v2"))
    HnswRoutedCodes.save(ix, dir)                     // batch default: newest only
    assert(versionsUnder(dir) == Seq("idx_v3"))
  }

  test("solo PQ CDC: attached handle survives block eviction across save cadences (rebase-after-save)") {
    implicit val sqlCtx = spark.sqlContext
    val all = (0 until 900).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val allDf = all.toDF("id", "vec")
    val path = java.nio.file.Files.createTempDirectory("graft_rebase_").toString
    // the attached posture: save a derived image, then attach is the
    // SOLE serving source — the handle's lineage reads this path
    locally {
      val f = HnswRouted.build(all.take(700).toDF("id", "vec"), cfg,
        nCells = 4, persist = false)
      val pq = HnswRoutedPq.fromRouted(f, persist = false)
      HnswRoutedPq.save(pq, path) // v0
    }
    val h = new StreamingRoutedPq.SoloHandle(HnswRoutedPq.attach(spark, path))
    val mem = MemoryStream[(Long, Array[Float], String)]
    val q = StreamingRoutedPq.attachCdcSolo(mem.toDF().toDF("id", "vec", "op"),
      h, vectors = allDf, checkpoint = Some((path, 1)))
    // batch 1: ingest 700..799 -> save v1 (v0 retained) + rebase
    mem.addData((700 until 800).map(i => (i.toLong, all(i)._2, "insert")): _*)
    q.processAllAvailable()
    assert(versionsUnder(path) == Seq("idx_v0", "idx_v1"),
      s"prior version must survive the save: ${versionsUnder(path)}")
    // batch 2: ingest 800..899 -> save v2 (v1 retained, v0 reclaimed)
    mem.addData((800 until 900).map(i => (i.toLong, all(i)._2, "insert")): _*)
    q.processAllAvailable()
    q.stop()
    assert(versionsUnder(path) == Seq("idx_v1", "idx_v2"),
      s"${versionsUnder(path)}")
    // the eviction rehearsal: drop every cached block; serving must
    // recompute through lineage — which, post-rebase, reads idx_v2
    // (alive), never the reclaimed idx_v0 the pre-fix handle read
    h.pq.shards.unpersist(blocking = true)
    val qDf = (0 until 25)
      .map(i => (i.toLong, vecFromHash(i + 60000L, 9L, 16)))
      .toDF("qid", "qvec")
    val served = HnswRoutedPq.search(h.pq, qDf, allDf, k = 10, nProbe = 4,
        candidates = 256)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf, allDf, 10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact)
    h.pq.unpersist()
  }

  test("CDC overlay-depth fold: a pre-patched handle's stack never exceeds the cadence; results identical across the fold") {
    import graft.hnsw.{HnswRouted => HR}
    val all = (0 until 1600).map(i => (i.toLong, vecFromHash(i.toLong, 3L, 16)))
    val baseDf = all.toDF("id", "vec")
    var ix = HR.build(baseDf, cfg, nCells = 4)
    // stack FOUR patches (deleting a few ids each, each touching some
    // cell) — the DefaultMaxOverlayDepth boundary
    (0 until 4).foreach { k =>
      val ids = Seq(k * 7L, 400L + k * 3L, 800L + k * 11L, 1200L + k * 5L)
      ix = HR.delete(ix, ids.toDF("id"))
      val cells = ix.router.allCells.toArray.sorted
      ix = HR.compactCellsPatched(ix, cells)
    }
    assert(ix.overlay.length == 4)
    val qDf = (0 until 20)
      .map(i => (i.toLong, vecFromHash(i + 70000L, 9L, 16)))
      .toDF("qid", "qvec")
    def rows(i: HR.RoutedIndex) =
      HR.search(i, qDf, 10, nProbe = 4)
        .select(col("qid"), col("id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // a DELETE-only batch is the regime that keeps the stack: ingest
    // and threshold compaction both materialize a full image and
    // release overlays, but delete is O(set) metadata — before the
    // cadence the stack rode along indefinitely
    val delIds = Seq(13L, 413L, 813L)
    val batch = delIds.map(id => (id, vecFromHash(id, 3L, 16), "delete"))
      .toDF("id", "vec", "op")
    val oracle = rows(HR.delete(ix, delIds.toDF("id")))
    val ledger0 = graft.BuildLedger.size
    val (next, ops) = StreamingRouted.cdcStep(ix, batch, compactThreshold = 0.9)
    assert(ops >= 2, "delete + fold must both count as ops")
    assert(next.overlay.isEmpty,
      s"stack must fold at depth ${StreamingRouted.DefaultMaxOverlayDepth}")
    assert(rows(next) == oracle, "fold must not change served rows")
    // the post-fold cold tax is paid OFF the serving path: the fold
    // must have run the covering probe (ledger-pinned — the next real
    // serve arrives warm, the round-16 rung's 6x first-serve fix)
    assert(graft.BuildLedger.since(ledger0)
        .exists(_.label == "routed_warm_probe"),
      "CDC fold must covering-probe the fresh image")
    next.unpersist()
  }

  test("warmProbe: one real probe per cell, no served row changed") {
    import graft.hnsw.{HnswRouted => HR}
    val all = (0 until 1200).map(i => (i.toLong, vecFromHash(i.toLong, 3L, 16)))
    val ix = HR.build(all.toDF("id", "vec"), cfg, nCells = 4)
    val qDf = (0 until 15)
      .map(i => (i.toLong, vecFromHash(i + 70000L, 9L, 16)))
      .toDF("qid", "qvec")
    def rows(i: HR.RoutedIndex) =
      HR.search(i, qDf, 10, nProbe = 4)
        .select(col("qid"), col("id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val before = rows(ix)
    val probed = HR.warmProbe(ix)
    assert(probed == ix.router.allCells.size.toLong,
      s"probe must cover every cell: $probed")
    assert(rows(ix) == before, "warmProbe is a read-only no-op")
    ix.unpersist()
  }

  test("warm() is a serving no-op that touches every shard block") {
    import graft.hnsw.{HnswRouted => HR}
    val all = (0 until 600).map(i => (i.toLong, vecFromHash(i.toLong, 3L, 16)))
    val ix = HR.build(all.toDF("id", "vec"), cfg, nCells = 4)
    val qDf = (0 until 15)
      .map(i => (i.toLong, vecFromHash(i + 70000L, 9L, 16)))
      .toDF("qid", "qvec")
    def rows(i: HR.RoutedIndex) =
      HR.search(i, qDf, 5, nProbe = 4)
        .select(col("qid"), col("id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val before = rows(ix)
    val shardCount = HR.warm(ix)
    assert(shardCount == ix.shards.count())
    assert(rows(ix) == before)
    ix.unpersist()
  }

  test("float streaming checkpoint: rebase keeps the handle's serving identical to the replay oracle") {
    implicit val sqlCtx = spark.sqlContext
    val all = (0 until 800).map(i => (i.toLong, vecFromHash(i.toLong, 11L, 16)))
    val (seedRows, rest) = all.splitAt(400)
    val path = java.nio.file.Files.createTempDirectory("graft_rebase_f_").toString
    val h = new StreamingRouted.Handle(
      HnswRouted.build(seedRows.toDF("id", "vec"), cfg, nCells = 4))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingRouted.attach(mem.toDF().toDF("id", "vec"), h,
      checkpoint = Some((path, 1)))
    rest.grouped(200).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    // two saves fired; the handle was rebased twice and must hold the
    // full fold — and serve exactly (exhaustive regime)
    assert(HnswRouted.cellStats(h.index).map(_._2).sum == 800L)
    h.index.shards.unpersist(blocking = true) // eviction rehearsal
    val qDf = (0 until 30)
      .map(i => (i.toLong, vecFromHash(i + 50000L, 13L, 16)))
      .toDF("qid", "qvec")
    val served = HnswRouted.search(h.index, qDf, 10, nProbe = 4)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf, all.toDF("id", "vec"), 10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact)
    h.index.unpersist()
  }
}
