package graft.hnsw

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.hnsw.HnswDistributed.BuildConfig
import graft.store.{ArenaVectorStore, ParquetGraphStore}
import graft.trace.Span

/** Beyond-broadcast HNSW build against a durable [[ParquetGraphStore]] —
  * the 100 TB build path. Unlike [[HnswDistributed.build]] (which collects
  * the whole vector table and broadcasts the full vector map), this loop
  * never materializes the vector table or the layer-0 graph on the driver:
  *
  *  - phase 1 (search_to_insert, reference hawk_searcher.rs:350-389) runs
  *    against the *current persisted graph*: layers >= 1 are broadcast
  *    as a serving form (they hold ~n*p^l vertices — the same contract
  *    that makes greedy upper descent cheap, SURVEY §1.4) and walked by
  *    [[OrdinalGraph.searchToInsert]] on a view, while layer 0 — the big one —
  *    is searched via iterative frontier joins over the links table
  *    ([[HnswFrontier.searchLayer0]]), seeded with each vector's
  *    construction beam exiting layer 1;
  *  - phase 2 (insert_from_search_results / connect_bidir, reference
  *    hawk_searcher.rs:394-415 and :153-176) is the pure-relational merge
  *    [[GraphFrames.connectBidirMerge]] applied through
  *    [[ParquetGraphStore.mergeBatch]].
  *
  * Driver-resident state is bounded: the seed batch's vectors (sequential
  * kernel bootstrap), the upper-layer adjacency + vectors (~n/M rows), and
  * one row per batch for the entry-point decision. Reference analog: the
  * pg-backed end-to-end build, which constructs against the durable store
  * rather than memory (graph_pg.rs:288-325).
  *
  * Same-batch vectors don't see each other during phase 1 (batch size is
  * capped at [[BatchGrowth]] x the current graph size — the ramped form
  * of [[HnswDistributed.build]]'s invariant, gated by the parity specs);
  * layer assignment is the same hash-based S3, so the deterministic graph
  * differs from the broadcast build only through the beam-search variant
  * used at layer 0 (frontier BFS explores a superset of the sequential
  * beam — recall parity is asserted in HnswDurableSpec).
  */
object HnswDurable {

  /** Memo of completed durable builds (key -> store path): catalog
    * queries over the same static table + config build once per JVM. */
  private val buildDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def buildCached(vectors: DataFrame, cfg: BuildConfig, key: String,
                  maxRounds: Int = 30): String = {
    // full-config key (the buildCached lesson from the round-2 advice):
    // every build-affecting input — the shared BuildConfig key plus the
    // EFFECTIVE construction-round cap (ingest clamps maxRounds to
    // ConstructionRoundCap, so values above it build identical graphs
    // and must share one memo entry)
    val effectiveRounds = math.min(maxRounds, ConstructionRoundCap)
    val fullKey = s"$key|${HnswDistributed.cacheKey(cfg)}|$effectiveRounds"
    buildDirCache.computeIfAbsent(fullKey, { _ =>
      graft.BuildLedger.timed("hnsw_durable_build") {
        val path = graft.TempDirs.create("graft_durable_")
        build(vectors, path, cfg, maxRounds)
        path
      }
    })
  }

  /** Build the index for `vectors` (id: long, vec: array<float>) into a
    * fresh [[ParquetGraphStore]] at `path`. Returns the store. */
  def build(vectors: DataFrame, path: String,
            cfg: BuildConfig = BuildConfig(),
            maxRounds: Int = 30): ParquetGraphStore = {
    val store = new ParquetGraphStore(vectors.sparkSession, path)
    ingest(store, vectors, vectors, cfg, maxRounds)
    store
  }

  /** Insert `newRows` (id, vec) into a durable store — possibly one that
    * already holds a graph (the streaming-ingest shape: each micro-batch
    * lands through here with bounded driver state). `allVectors` must be
    * id-UNIQUE (a duplicate id row would fan out every join on it) and
    * cover every id reachable in the persisted graph PLUS the new rows
    * (the frontier distance joins read it; for streaming that is the
    * appended vectors parquet). Ids must be new to the graph. A fresh
    * store bootstraps with the sequential seed phase first. */
  def ingest(store: ParquetGraphStore, newRows: DataFrame,
             allVectors: DataFrame, cfg: BuildConfig = BuildConfig(),
             maxRounds: Int = 30): Unit = {
    val spark = newRows.sparkSession
    import spark.implicits._

    // The vector table is read by every frontier round, every batch join
    // and every upper-vector lookup — pin it, flat, for the whole ingest.
    // (At cluster scale this is a distributed cache of the id+vec
    // projection, spilling to disk; it never lands on the driver.)
    val vecs = allVectors.select(col("id"), col("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Deterministic dense rank of the NEW rows by id without a single-
    // partition window: sortBy + zipWithIndex (zipWithIndex derives
    // partition offsets with one count job — scale-safe). distinct():
    // the existing-graph guard below catches re-inserts of PERSISTED
    // ids, but an at-least-once source can deliver one id twice WITHIN
    // a batch — without the dedup both copies would rank, insert twice,
    // and persist duplicate edges. (allVectors is contractually
    // id-unique — see the scaladoc.)
    val ranked = newRows.select(col("id")).as[Long].rdd
      .distinct().sortBy(identity).zipWithIndex()
      .toDF("id", "rank").cache()
    // the cached frames must not outlive the call on ANY path — the
    // duplicate-id require below is an expected exit
    try { ingestRanked(store, vecs, ranked, cfg, maxRounds) }
    finally { ranked.unpersist(); vecs.unpersist() }
  }

  private def ingestRanked(store: ParquetGraphStore, vecs: DataFrame,
                           ranked: DataFrame, cfg: BuildConfig, maxRounds: Int): Unit = {
    val params = cfg.params
    val pairEnc = ExpressionEncoder[(Long, Array[Float])]()
    val n = ranked.count()
    if (n == 0) return

    def batchVectors(lo: Long, hi: Long): DataFrame =
      vecs.join(
        broadcast(ranked.filter(col("rank") >= lo && col("rank") < hi)),
        "id").select(col("id"), col("vec"))

    // ---- Freshness is decided by the LINKS table, never by the entry
    // point: an entry lost to a crash while links survive is corruption
    // and must fail loudly — re-seeding here would overwrite (and thus
    // destroy) the existing graph.
    var pos = 0L
    var graphSize = store.linksTable.filter(col("layer") === 0).count()
    if (graphSize > 0L) {
      if (store.getEntryPoint.isEmpty)
        throw new IllegalStateException(
          s"durable store at ${store.path} has ${graphSize} graph vertices " +
            "but no entry point — refusing to re-seed over an existing graph")
      // re-inserting an id that is already a vertex would silently
      // corrupt the graph (duplicate layer-0 rows after the merge) —
      // fail loudly instead. One broadcast semi-join per ingest call.
      val dupCount = store.linksTable.filter(col("layer") === 0)
        .join(broadcast(ranked.select(col("id").as("src"))), Seq("src"), "left_semi")
        .count()
      require(dupCount == 0L,
        s"ingest: $dupCount id(s) already present in the graph")
    }

    // ---- Seed phase (fresh store only): strictly sequential kernel
    // inserts (reference semantics) until the graph can absorb parallel
    // batches. Only the seed batch's vectors ever reach the driver.
    if (graphSize == 0L) Span.run("durable.seed") {
      val seedN = math.min(cfg.seedBatch.toLong, n)
      val seedRows = batchVectors(0, seedN).as(pairEnc).collect().sortBy(_._1)
      store.save(OrdinalGraph.grow(params, cfg.seed, new ArenaVectorStore(cfg.metric), None,
        seedRows.iterator).snapshot)
      pos = seedN
      graphSize = seedN
    }

    // ---- Micro-batched phase against the persisted graph.
    val outEnc = ExpressionEncoder[(Long, Int, Array[Long], Array[Double])]()
    while (pos < n) {
      val batchSize = math.min(
        math.min(cfg.maxBatch.toLong, BatchGrowth * graphSize), n - pos)
      // ingest()'s invariant — cached frames must not outlive the call on
      // ANY path — applies per batch too: a mid-batch failure (frontier
      // job, merge IO, even the store's own LSM dir listing) must release
      // the pins, or a caller that catches and retries (the streaming
      // shape) accumulates them until OOM. EVERY pin in this batch is
      // acquired inside the try.
      val batch = batchVectors(pos, pos + batchSize)
      var linksNow: DataFrame = null
      var phase1: DataFrame = null
      var upperB: org.apache.spark.broadcast.Broadcast[OrdinalForm.Floats] = null
      try {
      batch.cache()

      // The store's links table is now an LSM resolution (full + deltas,
      // latest wins) — a shuffle, not a bare scan. It feeds the upper
      // form, every frontier round and the merge: resolve once per batch
      // and pin it.
      linksNow = store.linksTable
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val entry = store.getEntryPoint.getOrElse(
        throw new IllegalStateException("durable build: store lost its entry point"))

      // phase 1a's frame materializes in 1b, in its first frontier job
      Span.run("durable.phase1a") {
      // Upper layers (>= 1): small by the geometric layer law — collect
      // the adjacency and the vectors it touches, broadcast their form.
      upperB = HnswFrontier.upperForm(vecs.sparkSession, GraphFrames.fromLinksDF(
        linksNow.filter(col("layer") >= 1), Some(entry)), vecs, cfg.metric)
      val ub = upperB // stable val for closure capture (upperB is a var)
      val seed = cfg.seed
      // Phase 1a (executors): one ordinal walk per batch vector through
      // layers top..1 (phase1aRows), on one view per partition.
      phase1 = batch.as(pairEnc).mapPartitions { it =>
        val view = ub.value.view(phase1aParams(params))
        val ids = ub.value.store.ids
        it.flatMap { case (id, vec) =>
          phase1aRows(view, ids, params, id, vec, params.selectLayerByHash(id, seed))
        }
      }(outEnc).toDF("q", "layer", "dsts", "dists").cache()
      }

      val upperLinks = phase1.filter(col("layer") >= 1)
        .select(col("q"), col("layer"),
          expr("zip_with(dsts, dists, (d, t) -> struct(d AS dst, t AS dist))").as("links"))

      // Phase 1b: layer-0 construction beam via frontier joins — layer 0
      // never leaves the cluster.
      val seeds0 = phase1.filter(col("layer") === -1)
        .select(col("q").as("qid"), explode(col("dsts")).as("id"))
      val queries0 = batch.select(col("id").as("qid"), col("vec").as("qvec"))
      val m0 = params.getM(0)
      // Construction beams converge in a handful of rounds; the cap
      // bounds the tail rounds where single stragglers trickle into the
      // beam (graph quality is insensitive to those — the exact-parity
      // spec holds).
      val beam0 = Span.run("durable.phase1b")(HnswFrontier.searchLayer0(
        linksNow, vecs, queries0, seeds0,
        k = m0, ef = params.getEfConstrInsert(0), metricName = cfg.metric,
        maxRounds = math.min(maxRounds, ConstructionRoundCap)))
      val links0 = beam0
        .groupBy(col("qid"))
        .agg(expr("transform(array_sort(collect_list(struct(dist AS dist, id AS dst)))," +
          " x -> struct(x.dst AS dst, x.dist AS dist))").as("links"))
        .select(col("qid").as("q"), lit(0).as("layer"), col("links"))

      // Phase 2: relational connect_bidir merge into the parquet store.
      Span.run("durable.phase2") {
      store.mergeBatch(upperLinks.unionByName(links0), params, Some(linksNow))

      // Entry point: first-in-id-order vector reaching the batch maximum
      // insertion layer (matches sequential set_ep: ties never displace).
      val epCand = phase1.filter(col("layer") >= 1)
        .groupBy(col("q")).agg(max(col("layer")).as("l"))
        .orderBy(desc("l"), asc("q")).limit(1).collect()
      epCand.headOption.foreach { r =>
        val (q, l) = (r.getLong(0), r.getInt(1))
        if (l > entry.layer) { store.setEntryPoint(q, l); store.flush() }
      }
      }
      } finally {
        if (phase1 != null) phase1.unpersist()
        batch.unpersist()
        if (linksNow != null) linksNow.unpersist(blocking = false)
        if (upperB != null) upperB.destroy()
      }
      pos += batchSize
      graphSize += batchSize
    }
  }

  /** Phase 1a's view params: `params` with the layer-1 beam above the
    * insertion layer widened to the layer-0 construction ef. That beam is
    * also the layer-0 frontier seed set, so widening it (free: the upper
    * layers are in executor memory) starts the frontier near-converged
    * and saves rounds, each a full BSP barrier. Links are recorded only
    * at or below the insertion layer, where the ef is
    * `efConstrInsert`, so they do not change. */
  private[hnsw] def phase1aParams(params: HnswParams): HnswParams = {
    val efs = params.efConstrSearch.clone()
    efs(1) = math.max(params.getEfConstrInsert(0), params.getEfConstrSearch(1))
    params.copy(efConstrSearch = efs)
  }

  /** Phase 1a of one batch row `(id, vec)` at insertion layer `insLayer`:
    * [[OrdinalGraph.searchToInsert]] on `view`, a view of the upper
    * layers' form (`ids`: its store's ids) with [[phase1aParams]]. Rows
    * `(id, layer, dsts, dists)`: the construction beam trimmed to
    * `M(layer)` for each layer 1..insLayer (empty above the graph's top:
    * the fresh layers' explicit empty neighborhoods), then the layer-1
    * beam, untrimmed, as the layer-0 frontier seeds (layer -1). The view
    * has no layer-0 rows, so its layer-0 beam is the layer-1 beam. */
  private[hnsw] def phase1aRows(view: OrdinalGraph[Array[Float]], ids: Array[Long],
                                params: HnswParams, id: Long, vec: Array[Float],
                                insLayer: Int): Seq[(Long, Int, Array[Long], Array[Double])] = {
    val found = view.searchToInsert(vec, insLayer)
    def row(layer: Int, q: OrdinalQueue) =
      (id, layer, Array.tabulate(q.size)(i => ids(q.ordAt(i))), Array.tabulate(q.size)(q.distAt))
    (1 to insLayer).map { lc => found(lc).trimTo(params.getM(lc)); row(lc, found(lc)) } :+
      row(-1, found(0))
  }

  /** Hard cap on frontier rounds during CONSTRUCTION (search is not
    * capped): beams converge in a handful of rounds and the tail only
    * trickles stragglers. */
  val ConstructionRoundCap = 6

  /** Batch cap multiplier: batch <= BatchGrowth x current graph size
    * (strict 1x is the conservative same-batch-blindness bound; with the
    * construction ef (64) >> M (16) an 8x batch still links every node
    * through a beam over a graph >= an eighth of its own size, and the
    * HnswDurableSpec exact-parity/recall-parity gates hold — ramped 1x ->
    * 4x -> 8x across sessions, each step re-gated on parity + the
    * h_knn_durable exact-oracle hash). Each durable batch costs a fixed
    * stack of frontier-round barriers + one LSM merge, so cutting the
    * batch count cuts wall-clock nearly proportionally at bootstrap
    * (32 s -> 26 s at sf0.1); at cluster scale each avoided batch is an
    * avoided stack of BSP barriers. */
  val BatchGrowth = 8L

  /** Tombstone-aware durable serving: k-NN over the store EXCLUDING its
    * recorded tombstone set ([[ParquetGraphStore.tombstones]]) — the
    * soft-delete regime between compactions, on the beyond-broadcast
    * path. Tombstoned vertices still CONDUCT the walk (their adjacency
    * rows remain), identical to the broadcast tier's
    * [[HnswDistributed.searchExcluding]].
    *
    * Two-phase escalation keeps the common case cheap without giving up
    * the guarantee: phase 1 widens the beam by a BOUNDED margin
    * (min(|tombstones|, max(ef, 4k)) — tombstones are scattered, so a
    * query's top-of-beam rarely concentrates them) and anti-joins the
    * tombstoned hits out; only queries left with fewer than k eligible
    * rows re-run at the provable width k + |tombstones| (at most
    * |tombstones| beam slots can be ineligible, so that top always
    * contains k eligible rows). An unconditional k + |tombstones| beam
    * would make EVERY query pay O(|tombstones|) beam slots — near the
    * compaction threshold that is a fixed fraction of the corpus,
    * degrading the walk toward a scan. */
  def searchExcluding(store: ParquetGraphStore, vectors: DataFrame,
                      queries: DataFrame, k: Int, ef: Int,
                      metricName: String = "cosine",
                      maxRounds: Int = 30): DataFrame = {
    val tombs = store.tombstones
    val nTomb = tombs.count()
    if (nTomb == 0L) return search(store, vectors, queries, k, ef, metricName, maxRounds)
    import org.apache.spark.sql.expressions.Window
    val rankW = Window.partitionBy(col("qid")).orderBy(col("dist"), col("id"))
    def searchMinus(qs: DataFrame, kWide: Int): DataFrame =
      search(store, vectors, qs, kWide, math.max(ef, kWide), metricName, maxRounds)
        .join(broadcast(tombs), Seq("id"), "left_anti")
        .withColumn("rank", row_number().over(rankW))
        .filter(col("rank") <= k)

    val provable = math.min(k.toLong + nTomb, Int.MaxValue.toLong).toInt
    val bounded = math.min(provable.toLong,
      k.toLong + math.max(ef.toLong, 4L * k)).toInt
    val phase1 = searchMinus(queries, bounded).localCheckpoint()
    if (bounded == provable) return phase1

    // derive the short set from QUERIES, not from phase1: a query whose
    // phase-1 beam was entirely tombstoned has NO phase-1 rows at all,
    // so a groupBy over phase1 would never see it — exactly the query
    // that most needs the escalation
    val short = queries.select(col("qid")).distinct()
      .join(phase1.groupBy(col("qid")).agg(count(lit(1)).as("n")),
        Seq("qid"), "left")
      .filter(coalesce(col("n"), lit(0L)) < k).select(col("qid"))
    val shortQs = queries.join(broadcast(short), Seq("qid"), "left_semi")
    if (shortQs.isEmpty) phase1
    else phase1.join(broadcast(short), Seq("qid"), "left_anti")
      .unionByName(searchMinus(shortQs, provable))
  }

  /** k-NN search over a durable store without materializing layer 0:
    * upper layers broadcast, layer 0 via frontier joins. */
  def search(store: ParquetGraphStore, vectors: DataFrame, queries: DataFrame,
             k: Int, ef: Int, metricName: String = "cosine",
             maxRounds: Int = 30): DataFrame = {
    // One LSM resolution for the upper-snapshot collect AND the frontier
    // loop's layer-0 cache fill (the result frame derives only from the
    // loop's final checkpoint, so eager unpersist on return is safe).
    val links = store.linksTable
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val upper = GraphFrames.fromLinksDF(
        links.filter(col("layer") >= 1), store.getEntryPoint)
      HnswFrontier.search(links, upper, vectors, queries, k, ef, metricName, maxRounds)
    } finally links.unpersist(blocking = false)
  }
}
