package graft.streaming

import graft.HashData.codeOf
import graft.SparkSpec
import graft.hnsw.{HnswParams, HnswRoutedCodes}
import graft.operators.ExactKnn
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ingest + CDC into the routed-CODES tier: the stream's fold
  * equals the same batches applied sequentially, the exhaustive-regime
  * search equals brute force over the grown corpus, checkpoints restore
  * WITH their tombstones, and the CDC lifecycle (delete -> excluded,
  * compact -> reusable) holds under Hamming. */
class StreamingRoutedCodesSpec extends SparkSpec {
  import spark.implicits._

  private val params = HnswParams.standard(64, 128, 16)

  private def exactHamming(qDf: org.apache.spark.sql.DataFrame,
                           baseDf: org.apache.spark.sql.DataFrame,
                           k: Int): Set[(Long, Long)] =
    ExactKnn.search(
        qDf.withColumnRenamed("qcode", "qvec"),
        baseDf.withColumnRenamed("code", "vec"), k, "hamming")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("foreachBatch routed-codes ingest equals sequential; exhaustive equals brute force") {
    implicit val sqlCtx = spark.sqlContext
    val all = (0 until 1600).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val (seedRows, restRows) = all.splitAt(600)
    val batches = restRows.grouped(250).toSeq

    val h = new StreamingRoutedCodes.Handle(
      HnswRoutedCodes.build(seedRows.toDF("id", "code"), params, nCells = 8,
        seed = 42L))
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingRoutedCodes.attach(mem.toDF().toDF("id", "code"), h)
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    var sequential = HnswRoutedCodes.build(seedRows.toDF("id", "code"),
      params, nCells = 8, seed = 42L, persist = false)
    batches.foreach(b =>
      sequential = HnswRoutedCodes.ingest(sequential, b.toDF("id", "code"),
        persist = false))
    assert(h.cellStats.sortBy(_._1).toSeq ==
      sequential.shards.map { case (c, s) => (c, s.codes.size.toLong) }
        .collect().sortBy(_._1).toSeq)

    val qDf = (0 until 50).map(i => (i.toLong, codeOf(i.toLong + 90000, 9L)))
      .toDF("qid", "qcode")
    val served = HnswRoutedCodes.search(h.index, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exactHamming(qDf, all.toDF("id", "code"), 10))
    h.index.unpersist()
  }

  test("checkpoint persists the image WITH tombstones; attach + replay recovers the CDC fold") {
    implicit val sqlCtx = spark.sqlContext
    val all = (0 until 1000).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val dir = java.nio.file.Files.createTempDirectory("graft-rcodes-ckpt").toString
    val h = new StreamingRoutedCodes.Handle(
      HnswRoutedCodes.build(all.take(700).toDF("id", "code"), params,
        nCells = 4, seed = 42L))
    val mem = MemoryStream[(Long, Long, String)]
    // save every batch; threshold 1.0 keeps the deletes as tombstones
    // so the CHECKPOINT must carry them
    val q = StreamingRoutedCodes.attachCdc(mem.toDF().toDF("id", "code", "op"), h,
      checkpoint = Some((dir, 1)), compactThreshold = 1.0)
    mem.addData(
      (700 until 900).map(i => (i.toLong, codeOf(i.toLong, 23L), "insert")) ++
        (0 until 60).map(i => (i.toLong, 0L, "delete")): _*)
    q.processAllAvailable()
    q.stop()

    val restored = HnswRoutedCodes.attach(spark, dir, persist = false)
    assert(restored.tombstones.toSeq == h.index.tombstones.toSeq)
    val qDf = (0 until 40).map(i => (i.toLong, codeOf(i.toLong + 80000, 9L)))
      .toDF("qid", "qcode")
    val served = HnswRoutedCodes.search(restored, qDf, 10, nProbe = 4)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val survivors = all.take(900).filter(_._1 >= 60)
    assert(served == exactHamming(qDf, survivors.toDF("id", "code"), 10))
    h.index.unpersist()
  }

  test("CDC under Hamming: threshold compaction fires and frees ids for reuse") {
    implicit val sqlCtx = spark.sqlContext
    val all = (0 until 800).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val h = new StreamingRoutedCodes.Handle(
      HnswRoutedCodes.build(all.toDF("id", "code"), params, nCells = 4,
        seed = 42L))
    val mem = MemoryStream[(Long, Long, String)]
    val q = StreamingRoutedCodes.attachCdc(mem.toDF().toDF("id", "code", "op"), h,
      compactThreshold = 0.05)
    mem.addData((0 until 80).map(i => (i.toLong, 0L, "delete")): _*)
    q.processAllAvailable()
    assert(h.index.tombstones.isEmpty, "threshold compaction did not fire")
    assert(h.cellStats.map(_._2).sum == 720L)
    val freshCode = codeOf(987654L, 5L)
    mem.addData((50L, freshCode, "insert"))
    q.processAllAvailable()
    q.stop()
    assert(h.cellStats.map(_._2).sum == 721L)
    val qDf = Seq((0L, freshCode)).toDF("qid", "qcode")
    val top = HnswRoutedCodes.search(h.index, qDf, 1, nProbe = 4)
      .select(col("id"), col("hamming")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(top == Seq((50L, 0)), s"re-inserted id not served exactly: $top")
    h.index.unpersist()
  }
}
