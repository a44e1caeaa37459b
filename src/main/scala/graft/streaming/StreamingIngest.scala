package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.hnsw.{HnswModel, OrdinalForm, OrdinalGraph, ServingImage}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.store.ArenaVectorStore

/** Structured-Streaming ingest for the vector engine — the true-streaming
  * analog of the reference's coroutine insert protocol
  * (src/coroutine.rs:21-39): the reference surfaces each store op to an
  * external driver; here each micro-batch drives the same two-phase
  * insert (search_to_insert -> insert_from_search_results) against the
  * live index inside `foreachBatch`.
  *
  * Micro-batches are small by construction, so phase 1 runs driver-side
  * on the collected batch; the graph state stays in memory between
  * batches and can be checkpointed to parquet via
  * [[graft.hnsw.GraphFrames.save]] (the disk-backed merge path is
  * [[graft.hnsw.GraphFrames.connectBidirMerge]]).
  */
object StreamingIngest {

  /** Mutable index handle shared across micro-batches. Thread-safe for
    * the single-writer foreachBatch contract.
    *
    * Vectors live in an [[graft.store.ArenaVectorStore]] and the graph in
    * an [[graft.hnsw.OrdinalGraph]] on the arena's ordinals: an insert
    * reads and writes `Int` rows and epoch-stamped marks, never an id
    * map. After each mutation, serving reads a [[graft.hnsw.ServingImage]]
    * — a trimmed copy of the arena and the graph's rows — through an
    * ordinal view ([[image]], [[modelBroadcast]]).
    *
    * @param mirror optional durable graph mirror: after each batch, the
    *               adjacency rows the batch touched are written through
    *               to the parquet store — the delta, not the whole
    *               graph — so the index survives restarts.
    */
  final class IncrementalIndex(cfg: BuildConfig,
                               mirror: Option[graft.store.ParquetGraphStore] = None)
      extends Serializable {
    private val store = new ArenaVectorStore(cfg.metric, matchThreshold = 1e-9)
    private val graph = new OrdinalGraph(cfg.params, store)
    // touched rows are recorded only for a mirror to write out
    if (mirror.isDefined) graph.recordTouches()

    /** Mirror the batch delta: the batch's new vectors first (an orphan
      * vector is harmless on restore; a graph row referencing a missing
      * vector is not), then the touched adjacency rows + entry point. */
    private def mirrorDelta(newRows: Seq[(Long, Array[Float])]): Unit =
      for (pg <- mirror) {
        if (newRows.nonEmpty) {
          val sess = pg.spark
          import sess.implicits._
          newRows.toDF("id", "vec").write.mode("append").parquet(s"${pg.path}/vectors")
        }
        graph.foreachTouched((o, lc) => pg.setLinks(store.ids(o), graph.linksOf(o, lc), lc))
        if (graph.entryPointTouched)
          graph.entryPoint.foreach(ep => pg.setEntryPoint(ep.point, ep.layer))
        // delta flush: O(rows touched this batch), not a full-table
        // rewrite per batch — the write volume the class doc promises
        pg.flushDelta()
        graph.clearTouched()
      }

    /** Whether `id`'s insertion completed (graph membership) — distinct
      * from the store, which after a restore may also hold orphan vectors
      * whose graph rows never made it to the mirror before a crash; those
      * must re-insert on redelivery, fully-inserted ids must not. */
    private def inserted(id: Long): Boolean = {
      val o = store.ordinalOf(id)
      o >= 0 && graph.contains(o)
    }

    /** Id-sorted, id-distinct rows not inserted yet. */
    private def toInsert(rows: Array[(Long, Array[Float])]): Array[(Long, Array[Float])] =
      rows.sortBy(_._1).distinctBy(_._1).filterNot(r => inserted(r._1))

    def insertRows(rows: Array[(Long, Array[Float])]): Unit = synchronized {
      // Deterministic order within the batch (reference inserts are
      // strictly sequential; a micro-batch is our sequential unit).
      // distinctBy + the inserted guard make redelivery idempotent:
      // an at-least-once source repeating an id — within one batch or
      // across redelivered batches — must not insert twice (the second
      // insert would find the first at distance 0 and connect_bidir a
      // self-loop that permanently wastes a degree slot).
      val sorted = toInsert(rows)
      sorted.foreach { case (id, v) => graph.insert(id, v, cfg.params.selectLayerByHash(id, cfg.seed)) }
      if (sorted.nonEmpty) bumpVersion()
      mirrorDelta(sorted.toSeq)
    }

    /** Dedup-inserting variant (LinearDb streaming shape): skip rows that
      * already match something in the index; returns (inserted, skipped). */
    def insertIfNoMatch(rows: Array[(Long, Array[Float])]): (Int, Int) = synchronized {
      var ins = 0; var skip = 0
      val added = Seq.newBuilder[(Long, Array[Float])]
      // redelivered ids are inherently idempotent here: the first copy's
      // vector matches itself at distance 0, so the second is skipped by
      // the isMatch test — only the explicit guard for ids restored from
      // the mirror is needed
      toInsert(rows).foreach { case (id, v) =>
        val found = graph.searchToInsert(v, cfg.params.selectLayerByHash(id, cfg.seed))
        if (graph.isMatch(found)) { skip += 1 }
        else {
          graph.connect(store.insert(id, v), found)
          added += ((id, v))
          ins += 1
        }
      }
      if (ins > 0) bumpVersion()
      mirrorDelta(added.result())
      (ins, skip)
    }

    def size: Int = synchronized(store.size)

    // snapshots and images memoized by mutation count: a search stream
    // asks once per micro-batch, and unmemoized each call would copy the
    // whole graph and vector arena — O(index) driver work per batch on an
    // index that only grows between some batches. The counter bumps on
    // any successful insert or restore; a hit returns the previous
    // immutable value.
    private var mutations = 0L
    private var snapAt = -1L
    private var snapCache: HnswModel = null
    private var imageAt = -1L
    private var imageCache: ServingImage = null

    private[streaming] def bumpVersion(): Unit = mutations += 1

    /** The model of the current state, copied (the arena and the graph's
      * rows with their distances) for callers that want an
      * [[HnswModel]]; serving reads [[image]] instead. */
    def model: HnswModel = synchronized {
      if (snapAt != mutations) {
        snapCache = HnswModel(cfg.params, graph.form[ArenaVectorStore](store.copy()))
        snapAt = mutations
      }
      snapCache
    }

    /** The serving image of the current state: the arena's arrays trimmed
      * to its vectors and the graph's rows without distances, copied, in
      * insertion order. */
    def image: ServingImage = synchronized {
      if (imageAt != mutations) {
        imageCache = ServingImage(cfg.params, store.copy(), graph.rowCopy)
        imageAt = mutations
      }
      imageCache
    }

    @transient private var bcastAt = -1L
    @transient private var bcastApp: String = null
    @transient private var bcastCache: org.apache.spark.broadcast.Broadcast[ServingImage] = null

    /** Broadcast of [[image]], memoized with it: a serving stream asks
      * once per micro-batch, and re-broadcasting an UNCHANGED image would
      * re-serialize and re-ship the whole index each batch. The stale
      * broadcast is dropped by reference only (Spark's ContextCleaner
      * unpersists garbage-collected broadcasts); never destroyed
      * eagerly, an in-flight batch may still read it. */
    def modelBroadcast(spark: org.apache.spark.sql.SparkSession)
        : org.apache.spark.broadcast.Broadcast[ServingImage] = synchronized {
      // keyed by applicationId too: an index outliving a SparkContext
      // restart must not serve a broadcast created on the dead context
      // (tasks would fail "Attempted to use Broadcast after destroy")
      val app = spark.sparkContext.applicationId
      if (bcastAt != mutations || bcastCache == null || bcastApp != app) {
        bcastCache = spark.sparkContext.broadcast(image)
        bcastAt = mutations
        bcastApp = app
      }
      bcastCache
    }

    /** Warm-start from mirrored state (restart recovery): load the
      * persisted vectors into the store and the adjacency/entry point
      * into the ordinal graph. Restored state is already durable and is
      * not recorded for the mirror. The links may run AHEAD of the entry
      * point (mirror crash between the links write and the entry write):
      * the graph grows its layer stack to the snapshot's height, or the
      * restore would refuse that state on every restart. Only ids the
      * GRAPH knows count as inserted; a vector row with no graph presence
      * is an orphan from a crash mid-mirror and re-inserts when its batch
      * is redelivered. */
    private[streaming] def restoreState(
        snap: graft.store.GraphSnapshot,
        rows: Array[(Long, Array[Float])]): Unit = synchronized {
      rows.foreach { case (id, v) => store.insert(id, v) }
      graph.restore(OrdinalForm.of(store, snap))
      bumpVersion()
    }
  }

  /** Restart recovery: rebuild an [[IncrementalIndex]] from its durable
    * mirror (graph via [[graft.store.ParquetGraphStore.loadSnapshot]],
    * vectors from the appended vectors parquet), wired to keep mirroring
    * to the same path. A fresh/missing mirror yields an empty index. */
  def restoreIndex(spark: org.apache.spark.sql.SparkSession, cfg: BuildConfig,
                   mirrorPath: String): IncrementalIndex = {
    val pg = new graft.store.ParquetGraphStore(spark, mirrorPath)
    val idx = new IncrementalIndex(cfg, Some(pg))
    val vecPath = s"$mirrorPath/vectors"
    val hp = new org.apache.hadoop.fs.Path(vecPath)
    if (hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)) {
      val rows = spark.read.parquet(vecPath)
        .select(col("id"), col("vec")).as(rowEnc).collect()
      idx.restoreState(pg.loadSnapshot(), rows)
    }
    idx
  }

  private val rowEnc =
    Encoders.tuple(Encoders.scalaLong, graft.streaming.Enc.floatArray)

  /** Attach a streaming (id, vec) DataFrame to an index: every
    * micro-batch is inserted via the two-phase API. */
  def attach(stream: DataFrame, index: IncrementalIndex,
             dedup: Boolean = false): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.select(col("id"), col("vec")).as(rowEnc).collect()
        if (dedup) index.insertIfNoMatch(rows) else index.insertRows(rows)
        ()
      }
      .start()

  /** Beyond-driver-memory streaming ingest: every micro-batch is
    * written to the store's durable vectors table and inserted into the
    * persisted graph via [[graft.hnsw.HnswDurable.ingest]] (upper layers
    * broadcast, layer 0 via frontier joins, relational connect_bidir
    * merges). Unlike [[attach]], no graph or vector state lives on the
    * driver between batches, so the indexed stream can exceed driver
    * memory; a restart simply re-attaches to the same store path.
    *
    * Restart-safe: batch vectors land in a directory keyed by the
    * batch's id range (ids are unique across the stream, so the range
    * identifies the content — a redelivered batch rewrites the same
    * path instead of duplicating, and batches of a re-attached query
    * can never collide with earlier ones), and only ids not already in
    * the graph are inserted (a crash mid-ingest leaves a committed
    * prefix; redelivery finishes the rest). */
  def attachDurable(stream: DataFrame, store: graft.store.ParquetGraphStore,
                    cfg: BuildConfig, maxRounds: Int = 30): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestStreamBatch(store, batch, cfg, maxRounds)
      }
      .start()

  /** One durable micro-batch (the foreachBatch body, idempotent per
    * batch content — see [[attachDurable]]). */
  def ingestStreamBatch(store: graft.store.ParquetGraphStore, batch: DataFrame,
                        cfg: BuildConfig, maxRounds: Int = 30): Unit = {
    val sess = store.spark
    // dropDuplicates BEFORE the durable write: an at-least-once source
    // can repeat an id within one batch; without the dedup the repeat
    // lands in the vectors dir (breaking its id-uniqueness contract)
    // and inserts twice. Redelivered rows are identical by the source
    // contract, so which copy survives is immaterial.
    val rows = batch.select(col("id"), col("vec")).dropDuplicates("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var newRows: DataFrame = null
    try {
      if (!rows.isEmpty) {
        val vecDir = s"${store.path}/vectors"
        val hp = new org.apache.hadoop.fs.Path(vecDir)
        val dirExists =
          hp.getFileSystem(sess.sparkContext.hadoopConfiguration).exists(hp)
        // Never (re)write an id the vectors table already holds — the
        // id-uniqueness guard for BOTH redelivery (whole batch present ->
        // no write, the dir is already there) and a re-send of a live id
        // (an "upsert" of an existing id is an ignored no-op under the
        // append-only id-space contract; without this filter its row
        // would land in a second dir and duplicate the id). The written
        // remainder is keyed by its OWN id range: each id is written
        // exactly once across the stream, so two writes can never share
        // a min id, and the dir names stay collision-free.
        newRows = (if (dirExists)
          rows.join(sess.read.parquet(vecDir).select(col("id")), Seq("id"), "left_anti")
        else rows).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        if (!newRows.isEmpty) {
          val r = newRows.agg(min(col("id")), max(col("id"))).head()
          newRows.write.mode("overwrite")
            .parquet(s"$vecDir/batch=${r.getLong(0)}_${r.getLong(1)}")
        }
        // graph insert still derives from the FULL batch: after a crash
        // between the vector write and the graph merge, redelivery finds
        // newRows empty but the graph-missing ids still pending
        val all = sess.read.parquet(vecDir).select(col("id"), col("vec"))
        val existing = store.linksTable.filter(col("layer") === 0)
          .select(col("src").as("id"))
        val missing = rows.join(existing, Seq("id"), "left_anti")
        graft.hnsw.HnswDurable.ingest(store, missing, all, cfg, maxRounds)
      }
    } finally {
      rows.unpersist()
      if (newRows != null) newRows.unpersist()
    }
    ()
  }

  /** CDC streaming ingest against the durable store: each micro-batch
    * carries inserts AND deletes — `(id, vec, op)` with op `"insert"`
    * (alias `"upsert"`) or `"delete"` (`vec` ignored for deletes). Per
    * batch:
    *
    *  1. inserts land through [[ingestStreamBatch]] (durable vectors
    *     append + frontier-join graph insert);
    *  2. deletes record into the store's tombstone set (soft delete —
    *     serving excludes them via
    *     [[graft.hnsw.HnswDurable.searchExcluding]]) and into a
    *     permanent `deleted_log`;
    *  3. when tombstones reach `compactThreshold` of the graph, the
    *     links-out compaction folds them out mid-stream
    *     ([[graft.store.ParquetGraphStore.compactTombstones]]).
    *
    * Id-space contract: ids are NEVER reused — a deleted id stays dead
    * (the `deleted_log` filters any later insert of it), and an
    * "upsert" of a LIVE id is an ignored no-op, not a content update
    * (the vectors table is append-only per id; in-place re-embedding =
    * delete old id + insert new id). Reuse or rewrite would otherwise
    * duplicate the id's row in the durable vectors table, breaking the
    * id-uniqueness every frontier join relies on. Deletes win over
    * same-batch inserts of the same id (the CDC "net effect"
    * convention), redelivered batches are idempotent on both paths, and
    * deletes of never-inserted ids are harmless no-ops at serving
    * time. */
  def attachCdcDurable(stream: DataFrame, store: graft.store.ParquetGraphStore,
                       cfg: BuildConfig, compactThreshold: Double = 0.2,
                       maxRounds: Int = 30): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cdcStreamBatch(store, batch, cfg, compactThreshold, maxRounds)
      }
      .start()

  /** One CDC micro-batch (the [[attachCdcDurable]] foreachBatch body). */
  def cdcStreamBatch(store: graft.store.ParquetGraphStore, batch: DataFrame,
                     cfg: BuildConfig, compactThreshold: Double = 0.2,
                     maxRounds: Int = 30): Unit = {
    val sess = store.spark
    val dels = batch.filter(col("op") === "delete")
      .select(col("id").cast("long").as("id")).dropDuplicates("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val logPath = s"${store.path}/deleted_log"
      val hp = new org.apache.hadoop.fs.Path(logPath)
      val logExists =
        hp.getFileSystem(sess.sparkContext.hadoopConfiguration).exists(hp)
      def deletedLog: DataFrame = sess.read.parquet(logPath).select(col("id"))

      // inserts: minus same-batch deletes (net effect), minus every id
      // ever deleted (the id-reuse ban)
      val ins0 = batch.filter(col("op") =!= "delete")
        .select(col("id").cast("long").as("id"), col("vec"))
        .join(dels, Seq("id"), "left_anti")
      val ins = if (logExists) ins0.join(deletedLog, Seq("id"), "left_anti") else ins0
      ingestStreamBatch(store, ins, cfg, maxRounds)

      if (!dels.isEmpty) {
        // the log is append-only and never cleared (unlike the tombstone
        // set, which compaction consumes); a redelivered delete appends a
        // duplicate row — harmless, the read side dedups
        dels.write.mode("append").parquet(logPath)
        store.addTombstones(dels)
        // a delete-only stream may tombstone before any insert created
        // the vectors dir — nothing to compact then (the graph is empty)
        val vecDir = s"${store.path}/vectors"
        val vp = new org.apache.hadoop.fs.Path(vecDir)
        if (vp.getFileSystem(sess.sparkContext.hadoopConfiguration).exists(vp)) {
          val all = sess.read.parquet(vecDir).select(col("id"), col("vec"))
          store.compactTombstones(all, cfg.metric, cfg.params, compactThreshold)
        }
      }
    } finally dels.unpersist()
    ()
  }

  /** Gap-based sessionization via `session_window` — the native
    * Structured-Streaming twin of the batch e_sessions query (lag +
    * conditional sum): events of one user within `gap` of each other
    * merge into one session row. Works identically over a batch frame
    * (same function, no watermark needed) — SessionizeSpec asserts the
    * two formulations agree. Input: (ts: timestamp, user_id). */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: Option[String] = None): DataFrame = {
    val withWm = watermark.map(events.withWatermark("ts", _)).getOrElse(events)
    withWm
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
  }

  /** Token-budget shard packing as a STATEFUL streaming transform — the
    * arrival-order twin of the batch s_pack_shards query, and the
    * module's `flatMapGroupsWithState` surface (custom per-group state
    * the built-in windows can't express: a running prefix sum that must
    * survive across micro-batches). State per (lang, source) stream is
    * ONE long (the cumulative token count); each doc is assigned
    * shard = floor(tokens-before-it / capacity), exactly the batch
    * window's `cum0 div capacity`. Requires per-group doc_id-ordered
    * arrival (the sequential-unit contract; rows within a micro-batch
    * are sorted here). Input: (doc_id, lang, source, n_tok). */
  def packShards(docs: DataFrame, capacity: Long): DataFrame = {
    // fail at call time, not as an ArithmeticException inside a
    // streaming task (and a negative capacity would silently emit
    // negative shard ids)
    require(capacity > 0, s"shard capacity must be positive, got $capacity")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sess = docs.sparkSession
    import sess.implicits._
    docs.select(col("doc_id").cast("long"), col("lang"), col("source"),
        col("n_tok").cast("long"))
      .as[(Long, String, String, Long)]
      .groupByKey { case (_, lang, source, _) => (lang, source) }
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (String, String), rows: Iterator[(Long, String, String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (id, _, _, nTok) =>
            val shard = cum / capacity
            cum += nTok
            (id, key._1, key._2, shard, nTok)
          }
          state.update(cum)
          out.iterator
      }
      .toDF("doc_id", "lang", "source", "shard_id", "n_tok")
  }

  /** Event-time windowed rollup with a watermark — the streaming twin of
    * the batch e_hourly_rollup query: counts + integerized value sums per
    * (1h window, event_type), late data beyond the watermark dropped.
    * Input schema: (ts: timestamp, event_type: string, value: double). */
  def hourlyRollup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100)).as("sum_value_c"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value_c"))
}

private object Enc {
  import org.apache.spark.sql.Encoder
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  val floatArray: Encoder[Array[Float]] = ExpressionEncoder[Array[Float]]()
}
