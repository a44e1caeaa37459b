package graft.streaming

import graft.HashData.vecFromHash
import graft.SparkSpec
import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted, HnswRoutedPq}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** CDC streaming on the routed+PQ tier: the float source follows the
  * StreamingRouted CDC semantics and the PQ tier re-derives
  * incrementally per batch — delete-only batches touch no code block
  * (same shards RDD, new tombstones), insert/compact batches re-encode
  * only touched cells, and the final PQ index serves identically to a
  * fresh derivation from the final float state. */
class StreamingRoutedPqSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "l2", seed = 42L)

  private def corpus(n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))

  test("CDC stream: pq serving follows the float lifecycle and equals a fresh derive") {
    implicit val sqlCtx = spark.sqlContext
    val all = corpus(1200)
    def vec(i: Long) = all(i.toInt)._2
    val float0 = HnswRouted.build(all.take(800).toDF("id", "vec"), cfg,
      nCells = 4)
    val pq0 = HnswRoutedPq.fromRouted(float0)
    val h = new StreamingRoutedPq.Handle(float0, pq0)
    val mem = MemoryStream[(Long, Array[Float], String)]
    val q = StreamingRoutedPq.attachCdc(mem.toDF().toDF("id", "vec", "op"), h,
      compactThreshold = 1.0) // compaction off: tested separately below
    // batch A: delete-only — the PQ tier must adopt tombstones WITHOUT
    // touching a single code block (same shards RDD reference)
    val pqShardsBefore = h.pq.shards
    mem.addData((0 until 50).map(i => (i.toLong, vec(0L), "delete")): _*)
    q.processAllAvailable()
    assert(h.pq.shards eq pqShardsBefore,
      "a delete-only batch must not re-derive any cell")
    assert(h.pq.tombstones.length == 50)
    // batch B: inserts (incl. one redelivered id and one in-batch
    // delete-wins pair) — re-derivation picks up the new rows
    val batchB =
      (800 until 1000).map(i => (i.toLong, vec(i.toLong), "insert")) ++
      Seq((850L, vec(850L), "delete")) :+ ((600L, vec(600L), "upsert"))
    mem.addData(batchB: _*)
    q.processAllAvailable()
    q.stop()
    assert(!(h.pq.shards eq pqShardsBefore))
    // final expectation: survivors = 50..799 ++ 801..849 ++ 851..999
    // minus nothing else (850 net-deleted in batch B, 600 redelivered
    // no-op); tombstones = 0..49 ++ 850
    val survivorIds =
      ((50 until 850) ++ (851 until 1000)).map(_.toLong).toSet
    val baseDf = all.toDF("id", "vec")
    val qDf = (0 until 30)
      .map(i => (i.toLong, vecFromHash(i + 60000L, 9L, 16)))
      .toDF("qid", "qvec")
    def rows(ix: HnswRoutedPq.RoutedPqIndex) =
      HnswRoutedPq.search(ix, qDf, baseDf, k = 10, nProbe = 4,
          candidates = 256)
        .select(col("qid"), col("id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val fresh = HnswRoutedPq.fromRoutedWith(h.float, h.pq.codebook,
      persist = false)
    assert(rows(h.pq) == rows(fresh),
      "streamed pq diverged from a fresh derive of the final float state")
    val served = rows(h.pq).map { case (q0, id, _) => (q0, id) }.toSet
    assert(served.forall { case (_, id) => survivorIds(id) })
    val exact = ExactKnn.search(qDf,
        all.filter(r => survivorIds(r._1)).toDF("id", "vec"), 10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact)
    h.pq.unpersist()
    h.float.unpersist()
  }

  test("CDC threshold compaction re-derives and empties both tiers' tombstones") {
    implicit val sqlCtx = spark.sqlContext
    val all = corpus(900)
    val float0 = HnswRouted.build(all.toDF("id", "vec"), cfg, nCells = 4)
    val h = new StreamingRoutedPq.Handle(float0, HnswRoutedPq.fromRouted(float0))
    val mem = MemoryStream[(Long, Array[Float], String)]
    // 10% deletions >= 5% threshold -> compaction fires inside the batch
    val q = StreamingRoutedPq.attachCdc(mem.toDF().toDF("id", "vec", "op"), h,
      compactThreshold = 0.05)
    mem.addData((0 until 90).map(i => (i.toLong, all(i)._2, "delete")): _*)
    q.processAllAvailable()
    q.stop()
    assert(h.float.tombstones.isEmpty, "float compaction did not fire")
    assert(h.pq.tombstones.isEmpty, "pq must adopt the emptied set")
    val qDf = (0 until 25)
      .map(i => (i.toLong, vecFromHash(i + 60000L, 9L, 16)))
      .toDF("qid", "qvec")
    val served = HnswRoutedPq.search(h.pq, qDf, all.toDF("id", "vec"),
        k = 10, nProbe = 4, candidates = 256)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf,
        all.drop(90).toDF("id", "vec"), 10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact)
    h.pq.unpersist()
    h.float.unpersist()
  }

  test("SOLO CDC: no float source anywhere — stream equals exact over the " +
      "net state, delete-wins + redelivery filters hold") {
    implicit val sqlCtx = spark.sqlContext
    val all = corpus(1200)
    def vec(i: Long) = all(i.toInt)._2
    val allDf = all.toDF("id", "vec")
    // derive once, then the float handle goes out of scope: the solo
    // loop owns ONLY the pq image (the attached-tier posture)
    val pq0 = {
      val f = HnswRouted.build(all.take(800).toDF("id", "vec"), cfg, nCells = 4,
        persist = false)
      HnswRoutedPq.fromRouted(f)
    }
    val h = new StreamingRoutedPq.SoloHandle(pq0)
    val mem = MemoryStream[(Long, Array[Float], String)]
    val q = StreamingRoutedPq.attachCdcSolo(mem.toDF().toDF("id", "vec", "op"),
      h, vectors = allDf, compactThreshold = 1.0)
    // delete-only batch: tombstones adopt, no shard churn
    val shardsBefore = h.pq.shards
    mem.addData((0 until 50).map(i => (i.toLong, vec(0L), "delete")): _*)
    q.processAllAvailable()
    assert(h.pq.shards eq shardsBefore,
      "a delete-only solo batch must not touch any code block")
    assert(h.pq.tombstones.length == 50)
    // insert batch: new rows 800..999, one redelivered live id (600 —
    // filtered), one tombstoned id (10 — filtered, NOT resurrected),
    // one in-batch delete-wins pair (850)
    mem.addData(
      (800 until 1000).map(i => (i.toLong, vec(i.toLong), "insert")) ++
        Seq((850L, vec(850L), "delete"), (600L, vec(600L), "upsert"),
          (10L, vec(10L), "insert")): _*)
    q.processAllAvailable()
    q.stop()
    val survivorIds =
      ((50 until 850) ++ (851 until 1000)).map(_.toLong).toSet
    val qDf = (0 until 30)
      .map(i => (i.toLong, vecFromHash(i + 60000L, 9L, 16)))
      .toDF("qid", "qvec")
    val served = HnswRoutedPq.search(h.pq, qDf, allDf, k = 10, nProbe = 4,
        candidates = 256)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf,
        all.filter(r => survivorIds(r._1)).toDF("id", "vec"), 10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exact)
    h.pq.unpersist()
  }

  test("SOLO CDC: threshold compaction folds from the raw-vector table and " +
      "the checkpointed image attaches at parity") {
    implicit val sqlCtx = spark.sqlContext
    val all = corpus(900)
    val allDf = all.toDF("id", "vec")
    val pq0 = {
      val f = HnswRouted.build(allDf, cfg, nCells = 4, persist = false)
      HnswRoutedPq.fromRouted(f)
    }
    val h = new StreamingRoutedPq.SoloHandle(pq0)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pq_solo_cdc_").toString
    val mem = MemoryStream[(Long, Array[Float], String)]
    val q = StreamingRoutedPq.attachCdcSolo(mem.toDF().toDF("id", "vec", "op"),
      h, vectors = allDf, checkpoint = Some((ckpt, 1)),
      compactThreshold = 0.05)
    mem.addData((0 until 90).map(i => (i.toLong, all(i)._2, "delete")): _*)
    q.processAllAvailable()
    q.stop()
    assert(h.pq.tombstones.isEmpty, "solo compaction did not fire")
    val qDf = (0 until 25)
      .map(i => (i.toLong, vecFromHash(i + 60000L, 9L, 16)))
      .toDF("qid", "qvec")
    def served(ix: HnswRoutedPq.RoutedPqIndex) =
      HnswRoutedPq.search(ix, qDf, allDf, k = 10, nProbe = 4,
          candidates = 256)
        .select(col("qid"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val live = served(h.pq)
    val exact = ExactKnn.search(qDf, all.drop(90).toDF("id", "vec"), 10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live == exact)
    // the checkpoint wrote the POST-compaction image: attach serves it
    val restored = HnswRoutedPq.attach(spark, ckpt, persist = false)
    assert(restored.tombstones.isEmpty)
    assert(served(restored) == exact)
    h.pq.unpersist()
  }
}
