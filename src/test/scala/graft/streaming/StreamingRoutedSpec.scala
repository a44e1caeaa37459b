package graft.streaming

import graft.HashData.vecFromHash
import graft.SparkSpec
import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ingest into the IVF-routed serving tier: micro-batches fold
  * through HnswRouted.ingest; the stream's result equals the same
  * batches applied sequentially (foreachBatch IS the sequential unit),
  * and the exhaustive-regime search over the grown index equals brute
  * force REGARDLESS of how the firehose was split — the split-invariant
  * gate (per-cell graphs differ with insertion order, but the
  * exhaustive oracle does not). */
class StreamingRoutedSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "cosine", seed = 42L)

  private def corpus(n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))

  test("foreachBatch routed ingest equals the same batches applied sequentially") {
    implicit val sqlCtx = spark.sqlContext
    val all = corpus(1600)
    val (seedRows, restRows) = all.splitAt(600)
    val batches = restRows.grouped(250).toSeq

    val streamed = new StreamingRouted.Handle(
      HnswRouted.build(seedRows.toDF("id", "vec"), cfg, nCells = 8))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingRouted.attach(mem.toDF().toDF("id", "vec"), streamed)
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    var sequential = HnswRouted.build(seedRows.toDF("id", "vec"), cfg,
      nCells = 8, persist = false)
    batches.foreach(b =>
      sequential = HnswRouted.ingest(sequential, b.toDF("id", "vec"),
        persist = false))

    assert(streamed.cellStats.sortBy(_._1).toSeq ==
      HnswRouted.cellStats(sequential).sortBy(_._1).toSeq)
    val qDf = all.take(50).toDF("qid", "qvec")
    def rows(ix: HnswRouted.RoutedIndex) =
      HnswRouted.search(ix, qDf, 10, nProbe = 8)
        .select(col("qid"), col("id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(rows(streamed.index) == rows(sequential))
    streamed.index.unpersist()
  }

  test("exhaustive search equals brute force at ANY firehose split") {
    val all = corpus(1200)
    val qDf = (0 until 40)
      .map(q => (q.toLong, vecFromHash(q.toLong + 80000, 9L, 16)))
      .toDF("qid", "qvec")
    val exact = ExactKnn.search(qDf, all.toDF("id", "vec"), 10, "cosine")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (splits <- Seq(Seq(400, 800), Seq(100, 101, 700), Seq(1199))) {
      val bounds = (0 +: splits :+ all.length).distinct.sorted
      val batches = bounds.zip(bounds.tail).map { case (a, b) => all.slice(a, b) }
      var ix = HnswRouted.build(batches.head.toDF("id", "vec"), cfg,
        nCells = 8, persist = false)
      batches.tail.foreach(b =>
        ix = HnswRouted.ingest(ix, b.toDF("id", "vec"), persist = false))
      val routed = HnswRouted.search(ix, qDf, 10, nProbe = 8)
        .select(col("qid"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(routed == exact, s"split $splits diverged from brute force")
    }
  }

  test("checkpoint cadence persists a complete version; attach + replay-from-checkpoint recovers") {
    implicit val sqlCtx = spark.sqlContext
    val all = corpus(1000)
    val (seedRows, restRows) = all.splitAt(400)
    val batches = restRows.grouped(200).toSeq // 3 batches
    val dir = java.nio.file.Files.createTempDirectory("graft-routed-ckpt").toString

    val h = new StreamingRouted.Handle(
      HnswRouted.build(seedRows.toDF("id", "vec"), cfg, nCells = 4))
    val mem = MemoryStream[(Long, Array[Float])]
    // save every 2 batches: after batch ids 0,1,2 the checkpoint holds
    // the fold through batch id 1 (seed + batches 0-1)
    val q = StreamingRouted.attach(mem.toDF().toDF("id", "vec"), h,
      checkpoint = Some((dir, 2)))
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    val restored = HnswRouted.attach(spark, dir, persist = false)
    assert(HnswRouted.cellStats(restored).map(_._2).sum == 800L)
    // replay the unsaved tail (batch id 2) -> equals the live handle
    val caught = HnswRouted.ingest(restored, batches(2).toDF("id", "vec"),
      persist = false)
    assert(HnswRouted.cellStats(caught).sortBy(_._1).toSeq ==
      h.cellStats.sortBy(_._1).toSeq)
    val qDf = all.take(40).toDF("qid", "qvec")
    def rows(ix: HnswRouted.RoutedIndex) =
      HnswRouted.search(ix, qDf, 5, nProbe = 4)
        .select(col("qid"), col("id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(rows(caught) == rows(h.index))
    h.index.unpersist()
  }

  test("CDC stream: deletes win in-batch, redelivery is idempotent, tombstoned ids stay dead") {
    implicit val sqlCtx = spark.sqlContext
    val all = corpus(1000)
    def vec(i: Long) = all(i.toInt)._2
    val h = new StreamingRouted.Handle(
      HnswRouted.build(all.take(600).toDF("id", "vec"), cfg, nCells = 4))
    val mem = MemoryStream[(Long, Array[Float], String)]
    // threshold 1.0: compaction never triggers in this test — the
    // pre-compaction semantics are what's under test
    val q = StreamingRouted.attachCdc(mem.toDF().toDF("id", "vec", "op"), h,
      compactThreshold = 1.0)
    // batch A: fresh inserts 600-899; delete 0-99 (live) and 5000-5004
    // (never inserted — harmless no-op at serving); id 700 appears as
    // BOTH insert and delete -> net effect: delete wins, 700 never lands
    val batchA =
      (600 until 900).map(i => (i.toLong, vec(i.toLong), "insert")) ++
      (0 until 100).map(i => (i.toLong, vec(0L), "delete")) ++
      (5000 until 5005).map(i => (i.toLong, vec(0L), "delete")) :+
      ((700L, vec(700L), "delete"))
    mem.addData(batchA: _*); q.processAllAvailable()
    // batch B: redeliver 650-699 (live -> idempotent no-op), insert
    // tombstoned id 50 (dead until compaction -> dropped), fresh 900-999
    val batchB =
      (650 until 700).map(i => (i.toLong, vec(i.toLong), "upsert")) ++
      Seq((50L, vec(50L), "insert")) ++
      (900 until 1000).map(i => (i.toLong, vec(i.toLong), "insert"))
    mem.addData(batchB: _*); q.processAllAvailable()
    q.stop()
    // survivors: 100..599 ++ 601..699 (700 net-deleted) ++ 701..899 ++ 900..999
    val survivorIds = ((100 until 700) ++ (701 until 1000)).map(_.toLong).toSet
    val qDf = (0 until 40)
      .map(i => (i.toLong, vecFromHash(i.toLong + 70000, 9L, 16)))
      .toDF("qid", "qvec")
    val served = HnswRouted.search(h.index, qDf, 10, nProbe = 4)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf,
        all.filter(r => survivorIds(r._1)).toDF("id", "vec"), 10, "cosine")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact)
    // tombstones hold every accepted delete (including the no-op ids —
    // delete never requires membership)
    assert((0 until 100).forall(i =>
      java.util.Arrays.binarySearch(h.index.tombstones, i.toLong) >= 0))
    assert(java.util.Arrays.binarySearch(h.index.tombstones, 700L) >= 0)
    h.index.unpersist()
  }

  test("CDC threshold compaction frees deleted ids for genuine reuse") {
    implicit val sqlCtx = spark.sqlContext
    val all = corpus(800)
    val h = new StreamingRouted.Handle(
      HnswRouted.build(all.toDF("id", "vec"), cfg, nCells = 4))
    val mem = MemoryStream[(Long, Array[Float], String)]
    // 10% deletion >= 5% threshold -> compaction fires inside the batch
    val q = StreamingRouted.attachCdc(mem.toDF().toDF("id", "vec", "op"), h,
      compactThreshold = 0.05)
    mem.addData((0 until 80).map(i => (i.toLong, all(i)._2, "delete")): _*)
    q.processAllAvailable()
    assert(h.index.tombstones.isEmpty, "threshold compaction did not fire")
    assert(h.cellStats.map(_._2).sum == 720L)
    // the freed id re-enters as a FRESH row (new vector) — the routed
    // lifecycle's reuse contract, impossible on the durable tier
    mem.addData((50L, vecFromHash(123456L, 3L, 16), "insert"))
    q.processAllAvailable()
    q.stop()
    assert(h.cellStats.map(_._2).sum == 721L)
    val qDf = Seq((0L, vecFromHash(123456L, 3L, 16))).toDF("qid", "qvec")
    val top = HnswRouted.search(h.index, qDf, 1, nProbe = 4)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(top == Seq(50L), s"re-inserted id not served: $top")
    h.index.unpersist()
  }
}
