package graft.hnsw

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{ArenaVectorStore, GraphSnapshot, OrdinalStore}
import graft.trace.Span

/** A built HNSW index ready for distributed search: its graph in the
  * form it was built in ([[OrdinalForm]]: the vector arena and `Int`
  * rows with their distances), shipped as is. At broadcast scale it
  * ships to every executor once; beyond that, shard with
  * [[HnswDistributed.buildSharded]] (independent per-shard graphs + top-k
  * merge — the 100 TB path, where each shard holds only its partition's
  * vectors and graph).
  *
  * Every view shares the form's arena and rows. A streaming index does
  * not serve its model: it broadcasts a [[ServingImage]] of its arena and
  * rows instead
  * ([[graft.streaming.StreamingIngest.IncrementalIndex.modelBroadcast]]).
  */
final case class HnswModel(params: HnswParams, form: OrdinalForm.Floats) extends KernelSource {
  def metricName: String = form.store.metricName
  def size: Int = form.size

  /** A fresh per-partition view over this model's arena and rows. */
  override def kernel(): OrdinalGraph[Array[Float]] = form.view(params)

  /** The id-keyed graph, derived once (see [[OrdinalForm.snapshot]]). */
  @transient lazy val snapshot: GraphSnapshot = form.snapshot

  /** Id -> vector, derived once. */
  @transient lazy val vectors: LongVecMap = form.store.toLongVecMap
}

/** What a batched build broadcasts once: row `i`'s query, and a [[store]]
  * holding row `i` at ordinal `i`, built once per JVM, never serialized. */
private[hnsw] abstract class BuildRows[Q] extends Serializable {
  def store: OrdinalStore[Q]
  def query(i: Int): Q
  /** Bytes of the store's point array (the float arena or the codes),
    * read from the rows without building the store. */
  def pointBytes: Long
}

/** A batched float build's rows, per-vector arrays as a [[LongVecMap]]
  * has, so no single array nears Kryo's 2 GiB limit. */
private[hnsw] final class BuildVectors(val metricName: String, val ids: Array[Long],
                                       val vecs: Array[Array[Float]]) extends BuildRows[Array[Float]] {
  @transient lazy val store: ArenaVectorStore = ArenaVectorStore.of(metricName, ids, vecs)
  def query(i: Int): Array[Float] = vecs(i)
  def pointBytes: Long = vecs.iterator.map(_.length.toLong).sum * 4L
}

/** Distributed HNSW build & search over DataFrames.
  *
  * Build (S10 batched): the reference inserts one vector at a time, each
  * insert reading the graph built by all previous ones
  * (hawk_searcher.rs:311-332). The batch-parallel variant processes
  * micro-batches: phase 1 (search_to_insert, read-only — the expensive
  * part) runs data-parallel on executors against a broadcast copy of the
  * current graph's `Int` rows; phase 2 (connect_bidir mutations) applies
  * the batch results in deterministic id order, both on an arena's
  * ordinals ([[OrdinalGraph]]). Same-batch vectors don't see each
  * other during phase 1, so batch size is capped at the current graph size
  * (each node always links into a graph at least as large as its batch) —
  * the standard recall/parallelism tradeoff of distributed HNSW builds,
  * measured against the exact oracle in the test suite.
  *
  * Determinism: layer assignment is hash-based (S3,
  * [[HnswParams.selectLayerByHash]]), batches are id-ordered, and all
  * queue orders are total — the same input yields bit-identical graphs
  * regardless of cluster layout.
  */
object HnswDistributed {

  /** `growthDenom`/`batchCeiling` govern the geometric batch schedule
    * past `maxBatch` (batch = min(pos/growthDenom, batchCeiling)): they
    * change the built graph (stale-snapshot fraction per batch is
    * 1/growthDenom), so they are explicit config — and part of
    * [[cacheKey]] — rather than loop constants. */
  final case class BuildConfig(
      params: HnswParams = HnswParams.standard(64, 32, 32),
      metric: String = "cosine",
      seed: Long = 42L,
      seedBatch: Int = 128,
      maxBatch: Int = 4096,
      growthDenom: Int = 4,
      batchCeiling: Int = 262144
  )

  private val pairEnc = Encoders.tuple(Encoders.scalaLong, ExprEnc.floatArray)

  /** Process-wide model memo: catalog queries over the same static table
    * + config share one build (the model is pure data — no session refs). */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, HnswModel]()

  /** Full-config memo key: every field that can change the built graph
    * (all five param arrays, layerProbability, metric, seed, batching). */
  private[hnsw] def cacheKey(cfg: BuildConfig): String = {
    val p = cfg.params
    Seq(cfg.metric, cfg.seed, cfg.seedBatch, cfg.maxBatch,
      cfg.growthDenom, cfg.batchCeiling,
      p.m.toList, p.mMax.toList, p.efConstrSearch.toList,
      p.efConstrInsert.toList, p.efSearch.toList, p.layerProbability
    ).mkString("|")
  }

  def buildCached(vectors: DataFrame, cfg: BuildConfig, key: String): HnswModel =
    modelCache.computeIfAbsent(s"$key|${cacheKey(cfg)}", _ =>
      graft.BuildLedger.timed(s"hnsw_build_ef${cfg.params.efSearch.head}")(
        build(vectors, cfg)))

  /** Build from a (id: long, vec: array<float>) DataFrame. */
  def build(vectors: DataFrame, cfg: BuildConfig = BuildConfig()): HnswModel = {
    val spark = vectors.sparkSession
    val rows = vectors.select(col("id"), col("vec"))
      .as(pairEnc).collect().sortBy(_._1)
    buildFromArray(spark, rows, cfg)
  }

  def buildFromArray(spark: SparkSession, rows0: Array[(Long, Array[Float])],
                     cfg: BuildConfig): HnswModel = {
    // duplicate ids would double-insert (rows0.toMap collapses silently
    // while the insertion loop runs per ROW, linking a vertex to itself
    // and inflating its degree) — keep the first occurrence
    val rows = rows0.distinctBy(_._1)
    val ids = rows.map(_._1)
    val build = new BuildVectors(cfg.metric, ids, rows.map(_._2))
    val graph = batchedBuildLoop(spark, ids, ids.map(cfg.params.selectLayerByHash(_, cfg.seed)),
      cfg.params, cfg.seedBatch, cfg.maxBatch, cfg.growthDenom, cfg.batchCeiling)(build)
    HnswModel(cfg.params, graph.form[ArenaVectorStore](build.store))
  }

  /** The seed + micro-batched build loop of [[buildFromArray]] and
    * [[HnswCodes.buildBatched]] over `rows`, row `i` being id `ids(i)` at
    * layer `insLayers(i)`: seed rows insert on the driver's graph; per
    * batch, each phase-1 task runs [[OrdinalGraph.searchToInsert]] on a
    * view of the broadcast [[OrdinalGraph.rowCopy]], and the driver
    * connects the results in id order, so set_ep is decided there. Batch
    * size is capped at the current graph size. Returns the graph. */
  private[hnsw] def batchedBuildLoop[Q](
      spark: SparkSession, ids: Array[Long], insLayers: Array[Int],
      params: HnswParams, seedBatch: Int, maxBatch: Int,
      growthDenom: Int = 4, batchCeiling: Int = 262144)(
      rows: BuildRows[Q]): OrdinalGraph[Q] = {
    require(growthDenom >= 1, "growthDenom must be >= 1")
    val n = ids.length
    // Fail FAST on the broadcast tier's hard envelope, not at the first
    // over-sized broadcast (measured at n=1e7, m=32: 23 min of build,
    // then KryoException): Kryo's Unsafe bulk writer takes an int BYTE
    // count, so no single primitive array the model ships may pass
    // ~2 GiB. The serving form's largest arrays are per point: the
    // store's point array (the float arena, n x dim x 4 bytes, or the
    // codes, n x 8) and its ids (n x 8). Its rows are one short array per
    // vertex, and their per-layer degree columns (n x 4) stay under the
    // ids; phase 1 ships the same rows (`rowCopy`) and the build rows.
    // Graphs past it belong on buildSharded / HnswRouted (per-cell
    // graphs under the wall) or HnswDurable (no full-graph broadcast).
    val largest = math.max(rows.pointBytes, n * 8L)
    require(largest <= Int.MaxValue.toLong,
      s"single-graph broadcast build envelope exceeded: n=$n points need a " +
        s"$largest-byte array, past Kryo's 2 GiB per-array serialization limit. " +
        "Use HnswDistributed.buildSharded, HnswRouted.build, or " +
        "HnswDurable.ingest for graphs of this size.")
    val graph = new OrdinalGraph(params, rows.store)
    val seedN = math.min(seedBatch, n)
    var pos = 0
    Span.run("build.seed") {
      while (pos < seedN) {
        graph.connect(pos, graph.searchToInsert(rows.query(pos), insLayers(pos)))
        pos += 1
      }
    }

    val sc = spark.sparkContext
    // broadcasts released on EVERY path: a transient job failure with a
    // catch-and-retry caller would otherwise leak one graph copy + the
    // whole row payload per attempt
    val rowsB = sc.broadcast(rows)
    try {
      while (pos < n) {
        // Batch schedule: min(maxBatch, pos) early (intra-batch nodes
        // can't link to each other in phase 1), then GROWING with the
        // prefix (pos/growthDenom). A fixed cap re-broadcasts the O(n)
        // graph every maxBatch inserts — measured 40x-superlinear at
        // n=1e6 (396 s, ~250 broadcasts of a ~130 MB-avg snapshot); the
        // geometric schedule needs O(log n) broadcasts. The stale
        // fraction stays <= 1/growthDenom past the cap (1.0 in the early
        // doubling phase), and batchCeiling bounds the phase-1 collect.
        val grown = math.max(maxBatch, math.min(pos / growthDenom, batchCeiling))
        val batchSize = math.min(math.min(grown, pos), n - pos)
        val batch = (pos until pos + batchSize).map(i => (i, insLayers(i)))
        val results = Span.run("build.phase1") {
          val copyB = sc.broadcast(graph.rowCopy)
          try {
            val slices = math.max(1, math.min(batch.size / 16, sc.defaultParallelism))
            sc.parallelize(batch, slices).mapPartitions { it =>
              val p = rowsB.value
              val view = new OrdinalGraph(params, p.store, copyB.value)
              it.map { case (i, insLayer) => (i, view.searchToInsert(p.query(i), insLayer)) }
            }.collect()
          } finally copyB.destroy()
        }

        Span.run("build.merge")(
          results.sortBy(r => ids(r._1)).foreach { case (i, found) => graph.connect(i, found) })
        pos += batchSize
      }
    } finally rowsB.destroy()
    graph
  }

  /** Distributed k-NN search (S6): broadcast the model, run the
    * executor-local kernel per query partition. Output:
    * (qid, id, dist, rank) — shuffle-free except the caller's own sinks;
    * cost O(|queries| x ef x log n) instead of the exact path's full scan.
    *
    * Broadcasting the model is O(index size): serving workloads should
    * broadcast once via [[broadcastModel]] and reuse the handle across
    * query batches ([[searchBroadcast]]).
    */
  def search(queries: DataFrame, model: HnswModel, k: Int): DataFrame =
    searchBroadcast(queries, broadcastModel(queries.sparkSession, model), k)

  def broadcastModel(spark: SparkSession,
                     model: HnswModel): org.apache.spark.broadcast.Broadcast[HnswModel] =
    spark.sparkContext.broadcast(model)

  /** Serves either broadcast: a model, or a streaming index's
    * [[ServingImage]] (see [[KernelSource]]). */
  def searchBroadcast[M <: KernelSource](queries: DataFrame,
                                         modelB: org.apache.spark.broadcast.Broadcast[M],
                                         k: Int): DataFrame = {
    val resEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaDouble, Encoders.scalaInt)
    queries.select(col("qid"), col("qvec")).as(pairEnc)
      .mapPartitions { it =>
        val kernel = modelB.value.kernel()
        it.flatMap { case (qid, qvec) =>
          kernel.search(qvec, k, 0).iterator.zipWithIndex
            .map { case (nb, i) => (qid, nb.dst, nb.dist, i + 1) }
        }
      }(resEnc)
      .toDF("qid", "id", "dist", "rank")
  }

  /** Attribute-filtered k-NN: top-k among only the vectors whose id is in
    * `allowed` — the "WHERE label = x" companion of vector search, which
    * plain post-filtering of a k-sized result silently under-returns.
    *
    * Strategy: overfetch-with-escalation, executor-local. Each query
    * searches k' >> k (widening only the layer-0 beam via
    * [[HnswSearcher.searchWithEf]]), keeps the allowed hits, and grows
    * k' 4x until it has k of them or the beam spans the whole index (at
    * which point the filtered prefix is exhaustive). In the exact-regime
    * configuration the index returns the true top-k' ranking, so the
    * allowed prefix is the true filtered top-k — the property the exact
    * DuckDB oracle checks end-to-end. Escalation is per-query and local:
    * no driver round-trips, no extra shuffles; selective predicates cost
    * proportionally wider beams only for the queries that need them.
    *
    * The allowed set rides in its own broadcast as a sorted primitive
    * array (8 bytes/id, binary-search membership) — at serving scale this
    * is the id-list of a label partition, shipped once per executor like
    * the model itself.
    */
  def searchFiltered(queries: DataFrame, model: HnswModel,
                     allowed: DataFrame, k: Int): DataFrame =
    searchPredicated(queries, model, allowed, negate = false, k)

  /** Tombstone serving: k-NN over the index EXCLUDING a deletion set —
    * delete-without-rebuild. Only the (small) deleted-id set is
    * broadcast, never its corpus-sized complement; the traversal is
    * unchanged and tombstoned vertices still conduct the walk (their
    * edges remain — the standard soft-delete posture until the next
    * compaction rebuilds without them). */
  def searchExcluding(queries: DataFrame, model: HnswModel,
                      deleted: DataFrame, k: Int): DataFrame =
    searchPredicated(queries, model, deleted, negate = true, k)

  /** Shared overfetch loop behind [[searchFiltered]] (membership = in
    * `ids`) and [[searchExcluding]] (membership = NOT in `ids`). */
  private def searchPredicated(queries: DataFrame, model: HnswModel,
                               idsDf: DataFrame, negate: Boolean,
                               k: Int): DataFrame = {
    val spark = queries.sparkSession
    val idsSorted: Array[Long] = idsDf
      .select(col(idsDf.columns.head).cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    val idsB = spark.sparkContext.broadcast(idsSorted)
    val modelB = broadcastModel(spark, model)
    val resEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaDouble, Encoders.scalaInt)
    queries.select(col("qid"), col("qvec")).as(pairEnc)
      .mapPartitions { it =>
        val m = modelB.value
        val kernel = m.kernel()
        val ids = idsB.value
        def eligible(id: Long): Boolean = {
          val in = java.util.Arrays.binarySearch(ids, id) >= 0
          if (negate) !in else in
        }
        it.flatMap { case (qid, qvec) =>
          val n = m.size
          var kp = math.max(4 * k, m.params.getEfSearch(0))
          var hits: Iterator[Neighbor] = Iterator.empty
          var done = n == 0 || (!negate && ids.isEmpty)
          while (!done) {
            val w = kernel.search(qvec, kp, kp)
            val found = w.iterator.filter(nb => eligible(nb.dst)).take(k).toList
            if (found.length >= k) {
              hits = found.iterator
              done = true
            } else if (kp >= n) {
              // the beam spanned the whole index and still came up short.
              // A graph WALK can never surface a vertex that lost every
              // in-edge to M_max re-trimming (rare but possible), so an
              // ef=n beam is not a completeness proof — finish with an
              // exact executor-local scan over the eligible ids:
              // O(|eligible|) distance evals, still no driver round-trip,
              // and the result provably matches the filtered oracle.
              hits = kernel.exactTopK(qvec, k, eligible).iterator
              done = true
            } else kp = math.min(n.toLong, kp.toLong * 4L).toInt // long math: no Int wrap before the clamp
          }
          hits.zipWithIndex.map { case (nb, i) => (qid, nb.dst, nb.dist, i + 1) }
        }
      }(resEnc)
      .toDF("qid", "id", "dist", "rank")
  }

  /** Self-match check (S11 over the whole store): search every persisted
    * vector with k=1 and test the nearest hit against the store's match
    * threshold — the e2e invariant of the reference test suite
    * (hawk_searcher.rs:441-479). Returns (id, matched). */
  def selfMatch(vectors: DataFrame, model: HnswModel,
                matchThreshold: Double): DataFrame = {
    val withQ = vectors.select(col("id").as("qid"), col("vec").as("qvec"))
    search(withQ, model, 1)
      .select(col("qid").as("id"), (col("dist") <= matchThreshold).as("matched"))
  }

  /** One shard of a sharded index: the shard's own vectors + graph in
    * their serving form, held executor-side inside a persisted RDD — the
    * serving handle never routes through the driver. */
  final case class ShardModel(form: OrdinalForm.Floats) {
    /** A fresh view over the shard's arena and rows. */
    def view(cfg: BuildConfig): OrdinalGraph[Array[Float]] = form.view(cfg.params)
    def snapshot: GraphSnapshot = form.snapshot
    /** Id -> vector, derived once. */
    @transient lazy val vectors: LongVecMap = form.store.toLongVecMap
  }

  /** A prebuilt sharded index: build once, serve many query batches. The
    * shard RDD is persisted (memory, spilling to disk) so repeated
    * searches pay zero rebuild — the serving shape the single-fused
    * [[buildShardedAndSearch]] cannot offer. */
  final case class ShardedIndex(cfg: BuildConfig,
                                shards: org.apache.spark.rdd.RDD[ShardModel]) {
    def unpersist(): Unit = shards.unpersist()
  }

  /** The beyond-broadcast path: build one independent HNSW per shard of
    * the vector table inside mapPartitions (no driver round-trips, no
    * cross-shard traffic). Linear in #shards but each shard is
    * sub-linear — at 1000 executors the scan-vs-graph gap stays. */
  def buildSharded(vectors: DataFrame, cfg: BuildConfig = BuildConfig(),
                   numShards: Int = 0, persist: Boolean = true): ShardedIndex = {
    val spark = vectors.sparkSession
    val nShards = if (numShards > 0) numShards else spark.sparkContext.defaultParallelism
    val shards = vectors.select(col("id"), col("vec"))
      .repartition(nShards, col("id"))
      .as(pairEnc)
      .mapPartitions { it =>
        // distinctBy: a repeated id would insert twice (see buildFromArray)
        val shard = it.toArray.sortBy(_._1).distinctBy(_._1)
        if (shard.isEmpty) Iterator.empty
        else Iterator.single(ShardModel(OrdinalGraph.grow(cfg.params, cfg.seed,
          new ArenaVectorStore(cfg.metric), None, shard.iterator)))
      }(Encoders.kryo[ShardModel])
      .rdd
    if (persist) {
      shards.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .setName("graft-hnsw-shards")
      shards.count() // materialize the build eagerly
    }
    ShardedIndex(cfg, shards)
  }

  /** Search a prebuilt sharded index: every shard answers top-k from its
    * own graph, then a tiny global top-k merge (k rows per query x shard).
    * Returns (qid, id, dist, rank). Each call broadcasts its (small)
    * query batch; Spark's ContextCleaner reclaims those broadcasts when
    * the returned frame is no longer referenced. */
  def searchSharded(index: ShardedIndex, queries: DataFrame, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val cfg = index.cfg
    val qB = spark.sparkContext.broadcast(
      queries.select(col("qid"), col("qvec")).as(pairEnc).collect())
    import spark.implicits._
    val perShard = index.shards.flatMap { m =>
      val view = m.view(cfg)
      qB.value.iterator.flatMap { case (qid, qvec) =>
        view.search(qvec, k, 0).iterator.map(nb => (qid, nb.dst, nb.dist))
      }
    }.toDF("qid", "id", "dist")

    import org.apache.spark.sql.expressions.Window
    perShard
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col("id"))))
      .filter(col("rank") <= k)
  }

  /** Process-wide sharded-index memo (the modelCache pattern): catalog
    * queries over the same static table + config share one build. */
  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[String, ShardedIndex]()

  def buildShardedCached(vectors: DataFrame, cfg: BuildConfig,
                         numShards: Int, key: String): ShardedIndex =
    // keyed by applicationId too: the cached handle wraps an RDD bound
    // to the creating SparkContext — a later session in the same JVM
    // must not receive a handle of a stopped context
    shardCache.computeIfAbsent(
      s"${vectors.sparkSession.sparkContext.applicationId}|$key|$numShards|${cacheKey(cfg)}",
      _ => graft.BuildLedger.timed("hnsw_sharded_build")(
        buildSharded(vectors, cfg, numShards)))

  /** Broadcast-tier twin of `ParquetGraphStore.compactTombstones`: fold a
    * deletion set OUT of a built model — the relational links-out pass
    * ([[GraphFrames.compactTombstones]]) over the model's graph, entry
    * repair if the entry point was deleted (highest surviving layer,
    * lowest id), and the deleted vectors dropped from the broadcast map.
    * The compaction contract: searching the result with NO exclusion set
    * equals [[searchExcluding]] on the original model — pinned by the
    * h_knn_compacted catalog oracle and TombstoneCompactionSpec. */
  def compactModel(model: HnswModel, deleted: DataFrame): HnswModel = {
    val spark = deleted.sparkSession
    import spark.implicits._
    val delIds = deleted
      .select(col(deleted.columns.head).cast("long")).as[Long].collect().toSet
    val (ids, vecs) = model.form.store.rows.filterNot(r => delIds.contains(r._1)).toArray.unzip
    val survivors = ArenaVectorStore.of(model.metricName, ids, vecs)
    val vecsDf = ids.zip(vecs).toSeq.toDF("id", "vec")
    val compacted = GraphFrames.compactTombstones(
      GraphFrames.toLinksDF(spark, model.snapshot), deleted, vecsDf,
      model.metricName, model.params)
      // materialize once: the entry-repair probe and fromLinksDF's
      // collect would otherwise each re-run the whole compaction job
      // (broadcast tier — the graph is driver-sized by definition)
      .localCheckpoint()
    val entry = model.snapshot.entryPoint
      .filterNot(ep => delIds.contains(ep.point))
      .orElse {
        compacted.orderBy(desc("layer"), asc("src"))
          .select(col("src"), col("layer")).limit(1).collect()
          .headOption.map(r => graft.store.EntryPoint(r.getLong(0), r.getInt(1)))
      }
    val snap = GraphFrames.fromLinksDF(compacted, entry)
    compacted.unpersist(blocking = false)
    HnswModel(model.params, OrdinalForm.of(survivors, snap))
  }

  /** Process-wide compacted-model memo (the modelCache pattern; the
    * caller's key must identify model + deletion set). */
  private val compactCache =
    new java.util.concurrent.ConcurrentHashMap[String, HnswModel]()

  /** Release every memoized handle (see [[IndexCaches]]): persisted
    * shard RDDs unpersist, model maps clear — a later re-hit rebuilds. */
  private[hnsw] def releaseCaches(): Unit = {
    shardCache.values.forEach(_.unpersist())
    shardCache.clear()
    modelCache.clear()
    compactCache.clear()
  }

  def compactModelCached(model: HnswModel, deleted: DataFrame,
                         key: String): HnswModel =
    compactCache.computeIfAbsent(key, _ =>
      graft.BuildLedger.timed("hnsw_compact")(compactModel(model, deleted)))

  /** Fused build+search — batch-only convenience over [[buildSharded]] +
    * [[searchSharded]]; serving workloads should hold the
    * [[ShardedIndex]] handle and call [[searchSharded]] per batch. */
  def buildShardedAndSearch(vectors: DataFrame, queries: DataFrame, k: Int,
                            cfg: BuildConfig = BuildConfig(),
                            numShards: Int = 0): DataFrame = {
    // one-shot: build+search fuse into a single pass, nothing cached
    val index = buildSharded(vectors, cfg, numShards, persist = false)
    searchSharded(index, queries, k)
  }
}

/** Encoder helpers (Array[Float] has no Encoders.* shortcut). */
private[graft] object ExprEnc {
  import org.apache.spark.sql.Encoder
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  val floatArray: Encoder[Array[Float]] = ExpressionEncoder[Array[Float]]()
}
