package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.hnsw.{HnswDistributed, HnswParams}
import graft.streaming.StreamingIngest.IncrementalIndex

import java.sql.Timestamp

/** Streaming ingest: incremental index growth across micro-batches,
  * streaming dedup, and watermarked window aggregation. */
class StreamingIngestSpec extends SparkSpec {

  private val cfg = BuildConfig(
    HnswParams.standard(32, 32, 8), metric = "cosine", seed = 5L)

  private def vecsOf(n: Int, offset: Long = 0L): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(offset + 99)
    (0 until n).map(i => ((offset + i, Array.fill(8)(rng.nextGaussian().toFloat))))
  }


  test("redelivered / duplicated rows insert once (no self-loops, idempotent mirror)") {
    val index = new IncrementalIndex(cfg)
    val batch = vecsOf(30).toArray
    index.insertRows(batch ++ batch.take(10)) // id repeated WITHIN the batch
    assert(index.size == 30)
    index.insertRows(batch)                   // whole batch redelivered
    assert(index.size == 30)
    val snap = index.model.snapshot
    // a double insert finds the first copy at distance 0 and links the
    // vertex to itself — assert no self-loop survived anywhere
    snap.layerMaps.foreach(_.foreach { case (src, (dsts, _)) =>
      assert(!dsts.contains(src), s"self-loop at $src")
    })
  }

  test("restore tolerates links written ahead of the entry point (mirror crash window)") {
    // simulate the crash: a mirror whose links table holds layer-2 rows
    // while the entry write never landed
    val dir = java.nio.file.Files.createTempDirectory("graft_crashmirror_").toString
    val pg = new graft.store.ParquetGraphStore(spark, dir)
    pg.setLinks(1L, graft.hnsw.FurthestQueue.fromAscending(
      Seq(graft.hnsw.Neighbor(2L, 0.5))), 2)
    pg.flushDelta() // links land; no entry point ever written
    import spark.implicits._
    Seq((1L, Array.fill(8)(0.1f)), (2L, Array.fill(8)(0.2f)))
      .toDF("id", "vec").write.mode("overwrite").parquet(s"$dir/vectors")

    // pre-fix this threw from InMemoryGraph.setLinks (layer 2 of 0) on
    // EVERY restart — the restart-recovery module refusing to restart
    val idx = StreamingIngest.restoreIndex(spark, cfg, dir)
    assert(idx.size == 2)
    // and the restored index keeps working: fresh inserts go through
    idx.insertRows(vecsOf(5, offset = 100L).toArray)
    assert(idx.size == 7)
  }

  test("foreachBatch ingest grows the index; inserted vectors self-match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val index = new IncrementalIndex(cfg)
    val q = StreamingIngest.attach(mem.toDF().toDF("id", "vec"), index)

    val batch1 = vecsOf(40)
    val batch2 = vecsOf(40, offset = 40)
    mem.addData(batch1: _*)
    q.processAllAvailable()
    assert(index.size == 40)
    mem.addData(batch2: _*)
    q.processAllAvailable()
    assert(index.size == 80)
    q.stop()

    val model = index.model
    val all = (batch1 ++ batch2).toDF("qid", "qvec")
    val sm = HnswDistributed.search(all, model, 1)
    val self = sm.filter(col("qid") === col("id")).count()
    assert(self == 80, s"self-match $self/80")
  }

  test("streaming dedup skips duplicate vectors across batches") {
    val index = new IncrementalIndex(cfg)
    val batch = vecsOf(30).toArray
    val (i1, s1) = index.insertIfNoMatch(batch)
    assert(i1 == 30 && s1 == 0)
    // same vectors under new ids: all must be skipped
    val dup = batch.map { case (id, v) => (id + 1000, v) }
    val (i2, s2) = index.insertIfNoMatch(dup)
    assert(i2 == 0 && s2 == 30, s"inserted=$i2 skipped=$s2")
    assert(index.size == 30)
  }

  test("durable mirror: batch deltas persist to the parquet graph store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-mirror").toString
    val pg = new graft.store.ParquetGraphStore(spark, dir)
    val index = new IncrementalIndex(cfg, mirror = Some(pg))
    index.insertRows(vecsOf(25).toArray)
    index.insertRows(vecsOf(25, offset = 25).toArray)

    // reopen from disk: same layer structure and adjacency as the live index
    val reopened = new graft.store.ParquetGraphStore(spark, dir).loadSnapshot()
    val live = index.model.snapshot
    assert(reopened.entryPoint == live.entryPoint)
    assert(reopened.numLayers == live.numLayers)
    (0 until live.numLayers).foreach { lc =>
      assert(reopened.layerMap(lc).keySet == live.layerMap(lc).keySet, s"layer $lc")
      live.layerMap(lc).foreach { case (src, (dsts, dists)) =>
        assert(reopened.layerMap(lc)(src)._1.toList == dsts.toList)
        assert(reopened.layerMap(lc)(src)._2.toList == dists.toList)
      }
    }
  }

  test("durable mirror: each flush holds exactly the rows its batch touched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-delta").toString
    val index = new IncrementalIndex(cfg, mirror = Some(new graft.store.ParquetGraphStore(spark, dir)))
    val b1 = vecsOf(25).toArray
    val b2 = vecsOf(25, offset = 25).toArray
    index.insertRows(b1)
    index.insertRows(b2)

    // the same inserts through a recording graph, cleared between batches
    val searcher = new graft.hnsw.HnswSearcher(cfg.params)
    val store = new graft.store.ArrayVectorStore(graft.store.Metrics.byName(cfg.metric))
    val rec = new RecordingGraphStore(new graft.store.InMemoryGraph)
    def insert(rows: Array[(Long, Array[Float])]): Set[(Long, Int)] = {
      rows.foreach { case (id, v) =>
        searcher.insert(store, rec, store.prepareQueryWithId(id, v),
          searcher.selectLayerByHash(id, cfg.seed))
      }
      val touched = rec.touched.toSet
      rec.clearRecording()
      touched
    }
    def rowsAt(piece: String): Set[(Long, Int)] =
      spark.read.parquet(s"$dir/$piece").select(col("src"), col("layer").cast("int"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // the first flush is the base version, the second a delta
    assert(rowsAt("links_v0") == insert(b1))
    assert(rowsAt("links_d1") == insert(b2))
    assert(spark.read.parquet(s"$dir/vectors").count() == 50)
  }

  test("restart recovery: restore from mirror, continue ingesting, equal the uninterrupted run") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-restart").toString
    val first = new IncrementalIndex(cfg,
      mirror = Some(new graft.store.ParquetGraphStore(spark, dir)))
    first.insertRows(vecsOf(30).toArray)
    // "process dies" here: drop the live index, warm-start from the mirror
    val restored = StreamingIngest.restoreIndex(spark, cfg, dir)
    assert(restored.size == 30)
    restored.insertRows(vecsOf(30, offset = 30).toArray)

    val unbroken = new IncrementalIndex(cfg)
    unbroken.insertRows(vecsOf(30).toArray)
    unbroken.insertRows(vecsOf(30, offset = 30).toArray)

    // identical insert sequence => bit-identical graphs
    val a = restored.model.snapshot
    val b = unbroken.model.snapshot
    assert(a.entryPoint == b.entryPoint)
    assert(a.numLayers == b.numLayers)
    (0 until b.numLayers).foreach { lc =>
      assert(a.layerMap(lc).keySet == b.layerMap(lc).keySet, s"layer $lc")
      b.layerMap(lc).foreach { case (src, (dsts, dists)) =>
        assert(a.layerMap(lc)(src)._1.toList == dsts.toList, s"layer $lc vertex $src")
        assert(a.layerMap(lc)(src)._2.toList == dists.toList)
      }
    }

    // and search parity end-to-end
    val queries = vecsOf(30).toDF("qid", "qvec")
    def hits(m: graft.hnsw.HnswModel) =
      HnswDistributed.search(queries, m, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(hits(restored.model) == hits(unbroken.model))

    // the restored index keeps mirroring: a second restore sees all 60
    val again = StreamingIngest.restoreIndex(spark, cfg, dir)
    assert(again.size == 60)
  }

  test("durable streaming ingest: micro-batches build the parquet graph, no driver state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-durable").toString
    val cfgD = BuildConfig(HnswParams.standard(32, 64, 8), "cosine",
      seed = 5L, seedBatch = 16, maxBatch = 32)

    val mem = MemoryStream[(Long, Array[Float])]
    val store = new graft.store.ParquetGraphStore(spark, dir)
    val q = StreamingIngest.attachDurable(mem.toDF().toDF("id", "vec"), store, cfgD)
    mem.addData(vecsOf(40): _*)
    q.processAllAvailable()
    mem.addData(vecsOf(40, offset = 40): _*)
    q.processAllAvailable()
    q.stop()

    val vectors = spark.read.parquet(s"$dir/vectors").select(col("id"), col("vec"))
    assert(vectors.count() == 80)

    def checkExactParity(n: Int): Unit = {
      val queries = (vecsOf(40) ++ (if (n > 40) vecsOf(n - 40, offset = 40) else Nil))
        .toDF("qid", "qvec")
      val vecsNow = spark.read.parquet(s"$dir/vectors").select(col("id"), col("vec"))
      val got = graft.hnsw.HnswDurable.search(
          new graft.store.ParquetGraphStore(spark, dir), vecsNow, queries, k = 5, ef = 64)
        .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = graft.operators.ExactKnn.search(queries, vecsNow, 5, "cosine")
        .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exact, s"missing=${(exact -- got).size} extra=${(got -- exact).size}")
    }
    checkExactParity(80)

    // restart: a fresh attach to the same path continues where it left off
    val mem2 = MemoryStream[(Long, Array[Float])]
    val q2 = StreamingIngest.attachDurable(mem2.toDF().toDF("id", "vec"),
      new graft.store.ParquetGraphStore(spark, dir), cfgD)
    mem2.addData(vecsOf(40, offset = 80): _*)
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(s"$dir/vectors").count() == 120)
    val queries3 = (vecsOf(40) ++ vecsOf(40, offset = 40) ++ vecsOf(40, offset = 80))
      .toDF("qid", "qvec")
    val vecs3 = spark.read.parquet(s"$dir/vectors").select(col("id"), col("vec"))
    val got3 = graft.hnsw.HnswDurable.search(
        new graft.store.ParquetGraphStore(spark, dir), vecs3, queries3, k = 5, ef = 64)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact3 = graft.operators.ExactKnn.search(queries3, vecs3, 5, "cosine")
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got3 == exact3)
  }

  test("redelivered durable stream batch is idempotent (restart re-runs a batch)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-redeliver").toString
    val store = new graft.store.ParquetGraphStore(spark, dir)
    val cfgD = BuildConfig(HnswParams.standard(32, 64, 8), "cosine",
      seed = 5L, seedBatch = 16, maxBatch = 32)
    val b0 = vecsOf(40).toDF("id", "vec")
    val b1 = vecsOf(40, offset = 40).toDF("id", "vec")

    StreamingIngest.ingestStreamBatch(store, b0, cfgD)
    StreamingIngest.ingestStreamBatch(store, b1, cfgD)
    def state() = {
      val vecs = spark.read.parquet(s"$dir/vectors")
      (vecs.count(),
        store.linksTable.filter(col("layer") === 0).count(),
        store.getEntryPoint)
    }
    val before = state()

    // Structured Streaming redelivers batch 1 after a crash: the vector
    // write overwrites the same per-batch path and no id is re-inserted
    StreamingIngest.ingestStreamBatch(store, b1, cfgD)
    assert(state() == before)
    assert(before._1 == 80 && before._2 == 80)
  }

  test("session_window sessionization agrees with the lag-based batch formulation") {
    import spark.implicits._
    // the same 30-minute-gap rule as e_sessions, over the real events table
    val events = graft.queries.Tables(spark, sfDir, "events")
      .select(col("user_id"), expr("timestamp_micros(ts div 1000)").as("ts"))

    val viaSessionWindow = StreamingIngest.sessionize(events, "30 minutes")
      .groupBy("user_id").agg(
        count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    // session_window starts a new session only when the next event is
    // strictly LATER than the previous session's end (an exactly-gap
    // event still merges), so the lag formulation breaks on diff > gap
    // (at full microsecond precision)
    val viaLag = events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s", when(col("prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1L)
        .otherwise(0L))
      .groupBy("user_id").agg(
        sum("new_s").as("n_sessions"), count(lit(1)).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    assert(viaSessionWindow == viaLag)
  }

  test("session_window boundary: an event exactly gap after the previous one MERGES") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val fixture = Seq(
      (1L, ts("2024-01-01 01:00:00")),
      (1L, ts("2024-01-01 01:30:00")),  // exactly 30min later: same session
      (1L, ts("2024-01-01 02:00:00.000001")) // 1us past the gap: new session
    ).toDF("user_id", "ts")
    val sessions = StreamingIngest.sessionize(fixture, "30 minutes")
      .orderBy("session_start").collect()
    assert(sessions.length == 2, sessions.mkString(";"))
    assert(sessions(0).getAs[Long]("n_events") == 2)
    assert(sessions(1).getAs[Long]("n_events") == 1)
  }

  test("streaming sessionization emits merged session rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val sessions = StreamingIngest.sessionize(
      mem.toDF().toDF("ts", "user_id"), "30 minutes", watermark = Some("10 minutes"))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("session_test").start()

    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 1: two events 10min apart (one session), then a 2h gap (new one)
    mem.addData((ts(1, 0), 1L), (ts(1, 10), 1L), (ts(3, 0), 1L))
    q.processAllAvailable()
    // advance the watermark far enough to close every session above
    mem.addData((ts(9, 0), 99L))
    q.processAllAvailable()
    val rows = spark.table("session_test")
      .filter(col("user_id") === 1L).orderBy("session_start").collect()
    q.stop()
    assert(rows.length == 2, rows.mkString(";"))
    assert(rows(0).getAs[Long]("n_events") == 2)
    assert(rows(1).getAs[Long]("n_events") == 1)
  }

  test("watermarked hourly rollup aggregates by event-time window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val rolled = StreamingIngest.hourlyRollup(
      mem.toDF().toDF("ts", "event_type", "value"))
    val q = rolled.writeStream.outputMode("complete")
      .format("memory").queryName("rollup_test").start()

    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((ts(1, 10), "click", 1.50), (ts(1, 40), "click", 2.25),
      (ts(2, 5), "view", 0.75))
    q.processAllAvailable()
    val rows = spark.table("rollup_test")
      .orderBy("hour_start", "event_type").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("event_type") == "click")
    assert(rows(0).getAs[Long]("n") == 2)
    assert(rows(0).getAs[Long]("sum_value_c") == 375L)
    assert(rows(1).getAs[String]("event_type") == "view")
    q.stop()
  }
}

/** Records which (src, layer) rows a mutation wrote on the id-keyed
  * engine: the rows a durable mirror must persist for it. */
private final class RecordingGraphStore(inner: graft.store.GraphStore) extends graft.store.GraphStore {
  private val touchedKeys = scala.collection.mutable.LinkedHashSet.empty[(Long, Int)]

  override def getEntryPoint: Option[graft.store.EntryPoint] = inner.getEntryPoint
  override def setEntryPoint(point: Long, layer: Int): Unit = inner.setEntryPoint(point, layer)
  override def getLinks(base: Long, lc: Int): graft.hnsw.FurthestQueue = inner.getLinks(base, lc)
  override def setLinks(base: Long, links: graft.hnsw.FurthestQueue, lc: Int): Unit = {
    inner.setLinks(base, links, lc); touchedKeys += ((base, lc))
  }
  override def numLayers: Int = inner.numLayers

  def touched: Seq[(Long, Int)] = touchedKeys.toSeq
  def clearRecording(): Unit = touchedKeys.clear()
}
