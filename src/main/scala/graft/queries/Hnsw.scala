package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.hnsw.{GraphFrames, HnswDistributed, HnswDurable, HnswFrontier, HnswParams}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn

/** HNSW index queries over the `embeddings` table — the reference's core
  * capability (hawk_searcher.rs): sub-linear approximate k-NN, validated
  * against the exact brute-force oracle.
  *
  * `h_knn_cosine` shares v_knn_cosine's DuckDB oracle: at these scale
  * factors the index with ef_search=128 returns the exact top-k (verified
  * set-identical), so the ANN path is held to the same hash-match bar as
  * the exact path. `h_recall_ann` measures recall in the true ANN regime
  * (greedy upper layers, modest ef) against the in-Spark exact oracle.
  */
object Hnsw {
  private def t(s: SparkSession, dir: String) = Tables(s, dir, "embeddings")

  private def vectorsDf(s: SparkSession, dir: String) =
    t(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def queriesDf(s: SparkSession, dir: String) =
    t(s, dir).filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** Exact-regime config: generous beam so top-k matches brute force. */
  private def exactishCfg = BuildConfig(
    HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
    metric = "cosine", seed = 42L)

  /** ANN-regime config: the reference bench's shape (ef_search=32). */
  private def annCfg = BuildConfig(
    HnswParams.standard(efConstruction = 64, efSearch = 32, m = 16),
    metric = "cosine", seed = 42L)

  /** l2 twin of [[exactishCfg]] for the PQ-compressed serving tier (ADC
    * reconstructs squared L2, so the graph must be built in that metric). */
  private def l2Cfg = BuildConfig(
    HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
    metric = "l2", seed = 42L)

  /** (expected, hits) in ONE job (round-19): hit flags left-joined onto
    * the exact rows and aggregated in the same pass — replaces the
    * intersect().count() + exact.count() pair, so the approx pipeline
    * and the exact scan each run exactly once. Equality with intersect:
    * both sides are top-k lists (unique (qid, id)); approx is made
    * distinct defensively, so the flag sum is the intersect
    * cardinality. */
  private def recallCounts(approx: DataFrame, exact: DataFrame): (Long, Long) = {
    val row = exact.select(col("qid"), col("id"))
      .join(approx.select(col("qid"), col("id")).distinct()
        .withColumn("h", lit(1L)), Seq("qid", "id"), "left")
      .agg(count(lit(1)).as("expected"),
        sum(coalesce(col("h"), lit(0L))).as("hits"))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  /** Run independent Spark actions concurrently from a small driver
    * pool (round-19, guide §2.6 overlap independent jobs): a recall
    * row's probe-point serves are independent count jobs over the same
    * pinned index, and running them back to back leaves most executor
    * slots idle through each job's stage tails. The scheduler runs
    * concurrent jobs FIFO, back-filling freed slots with the next
    * job's tasks. Results return in INPUT order and every action's
    * value is deterministic regardless of scheduling, so row content
    * is untouched. Bounded pool: enough to fill the tail, not a
    * fleet. */
  private def inParallel[A, B](xs: Seq[A], maxConc: Int = 5)(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxConc, xs.size)))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    finally pool.shutdown()
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S6 end-to-end: build the layered graph, search the query subset.
    "h_knn_cosine" -> ((s, dir) => {
      val model = HnswDistributed.buildCached(vectorsDf(s, dir), exactishCfg, dir)
      HnswDistributed.search(queriesDf(s, dir), model, 10)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // S11 e2e invariant (hawk_searcher.rs:441-479): every inserted vector
    // must match itself on re-search with k=1.
    "h_match_self" -> ((s, dir) => {
      val vecs = vectorsDf(s, dir)
      val model = HnswDistributed.buildCached(vecs, annCfg, dir)
      HnswDistributed.selfMatch(vecs, model, matchThreshold = 1e-6)
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"))
    }),

    // Recall measurement in the ANN regime vs the exact in-Spark oracle
    // (the role of benches/hnsw.rs linear-vs-hnsw). Non-SQL-expressible
    // (DuckDB can't run the index) -> rows-only check; the recall floor is
    // asserted by the test suite.
    "h_recall_ann" -> ((s, dir) => {
      val vecs = vectorsDf(s, dir)
      val qs = queriesDf(s, dir)
      val model = HnswDistributed.buildCached(vecs, annCfg, dir)
      val hnsw = HnswDistributed.search(qs, model, 10).select(col("qid"), col("id"))
      // memoized truth table (Vector.exactTruthIds): the brute-force
      // audit oracle is a per-corpus one_time cost shared by six rows
      val exact = Vector.exactTruthIds(s, dir, "cosine", 10)
        .select(col("qid"), col("id"))
      val (expected, hits) = recallCounts(hnsw, exact)
      val nq = qs.count()
      import s.implicits._
      Seq((nq, expected, hits, hits * 10000L / expected))
        .toDF("n_queries", "n_expected", "n_hit", "recall_bp")
    }),

    // IVF-routed sharded HNSW in the EXHAUSTIVE regime (nProbe =
    // nCells): every cell is probed, so the router prunes nothing and
    // the result must equal brute force — the Ivf.search oracle
    // discipline applied to the two-level index. This hash-pins the
    // whole machinery (k-means routing, per-cell graphs, global merge);
    // the routed regime's honest recall is h_recall_routed.
    "h_knn_routed" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val index = HnswRouted.buildCached(vectorsDf(s, dir), exactishCfg,
        nCells = 16, key = dir)
      HnswRouted.search(index, queriesDf(s, dir), 10, nProbe = 16)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The routed regime, reported as the full recall/fan-out CURVE
    // (one row per nProbe): per-query work scales with nProbe/nCells,
    // recall is whatever the cell boundaries allow — measured against
    // the memoized exact truth, never asserted. On a clustered corpus
    // the curve saturates at tiny nProbe (HnswRoutedSpec pins >= 0.95
    // at 2/16 on planted clusters); on THIS corpus (uniform-ish 64-dim
    // embeddings) it climbs slowly — exactly the honest signal an
    // operator of a 100 TB deployment routes capacity decisions on.
    // Rows-only; monotonicity + the nProbe=nCells==10000 bp endpoint
    // are spec'd in HnswRoutedSpec.
    "h_recall_routed" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val index = HnswRouted.buildCached(vectorsDf(s, dir), exactishCfg,
        nCells = 16, key = dir)
      val qs = queriesDf(s, dir)
      val exact = Vector.exactTruthIds(s, dir, "cosine", 10)
        .select(col("qid"), col("id")).cache()
      val expected = exact.count()
      val nq = qs.count()
      import s.implicits._
      // the five probe points are independent serves over the same
      // pinned index and the warmed exact cache — overlapped (§2.6)
      val rows = inParallel(Seq(1, 2, 4, 8, 16)) { p =>
        val hits = recallCounts(
          HnswRouted.search(index, qs, 10, nProbe = p), exact)._2
        (p.toLong, nq, expected, hits, hits * 10000L / expected)
      }
      exact.unpersist(blocking = false)
      rows.toDF("n_probe", "n_queries", "n_expected", "n_hit", "recall_bp")
    }),

    // The routed tier's DURABLE path: build once, persist the five-table
    // parquet image (centroids + per-cell vectors/links/entries under
    // the versioned-dir discipline), ATTACH — restore with a parquet
    // scan + CSR assembly, no k-means and no graph construction — and
    // serve the SAME exhaustive-regime hash oracle from the attached
    // copy. This is the restart story for the 1e7+ serving tier: the
    // round-11 gap was an index that evaporated with the session.
    "h_knn_routed_attach" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val index = HnswRouted.attachCached(vectorsDf(s, dir), exactishCfg,
        nCells = 16, key = dir)
      HnswRouted.search(index, queriesDf(s, dir), 10, nProbe = 16)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The routed tier's INCREMENTAL path: 90% of the corpus builds, the
    // remaining 10% ingests (routed by frozen centroids, merged per
    // cell into the live graphs — only the batch shuffles), and the
    // grown index must still answer the exhaustive-regime oracle
    // EXACTLY. StreamingRoutedSpec pins split-invariance and
    // stream-vs-sequential parity.
    "h_knn_routed_grow" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val vecs = vectorsDf(s, dir)
      val index = HnswRouted.growCached(
        vecs.filter(col("id") % 10 =!= 0), vecs.filter(col("id") % 10 === 0),
        exactishCfg, nCells = 16, key = dir)
      HnswRouted.search(index, queriesDf(s, dir), 10, nProbe = 16)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The routed tier's DRIFT AUDIT, surfaced as a self-audited catalog
    // row (rows-only, like the recall rows — drift is measured, never
    // asserted): the grown index's occupancy vs the ingested tail's
    // routing shares, per cell. Frozen centroids under distribution
    // shift are the routed tier's silent recall killer; this is the
    // alarm an operator watches. HnswRoutedSpec pins the semantics: the
    // audit reads ~zero drift on an identically-distributed tail and
    // flags a deliberately shifted one.
    "h_routed_drift" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val vecs = vectorsDf(s, dir)
      val tail = vecs.filter(col("id") % 10 === 0)
      val index = HnswRouted.growCached(
        vecs.filter(col("id") % 10 =!= 0), tail,
        exactishCfg, nCells = 16, key = dir)
      HnswRouted.driftAudit(index, tail).orderBy(col("cell"))
    }),

    // The drift RECOVERY path: the grown index (frozen centroids, the
    // h_routed_drift alarm's subject) re-routes through a freshly
    // trained quantizer built from the index's OWN shards — no external
    // table read; tombstones fold out; skewed cells rebalance. The
    // exhaustive regime is routing-invariant, so the retrained index
    // answers the SAME exact oracle — what retrain buys is the
    // nProbe-regime recall drift was eroding (HnswRoutedSpec pins the
    // rebalance on a planted skew).
    "h_knn_routed_retrained" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val vecs = vectorsDf(s, dir)
      val index = HnswRouted.retrainCached(
        vecs.filter(col("id") % 10 =!= 0), vecs.filter(col("id") % 10 === 0),
        exactishCfg, nCells = 16, key = dir)
      HnswRouted.search(index, queriesDf(s, dir), 10, nProbe = 16)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // (An ef0-sweep catalog row was tried and deliberately NOT shipped:
    // at sf scale every cell holds ~n/16 < ef_search vectors, so in-cell
    // search is already exhaustive and the curve reads flat — the
    // catalog-scale loss is ALL cell boundaries. The in-cell-beam loss
    // mode only exists in the dense regime, where it is pinned by
    // HnswRoutedSpec's dense-cloud test and measured at 1e7 in the
    // rehearsal: probe4+ef128 = 95.9% vs 85.7% default self-match.)

    // Tombstone serving on the ROUTED tier — delete-without-rebuild at
    // the scale tier: the deletion set is O(deletes) handle metadata
    // over the SAME cached shards as h_knn_routed (no second build, no
    // copy); each probed cell runs the overfetch-with-escalation loop
    // executor-local with the exact in-cell fallback, so the exhaustive
    // regime provably equals the exclusion oracle.
    "h_knn_routed_tombstone" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val deleted = t(s, dir).filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      val index = HnswRouted.deleteCached(vectorsDf(s, dir), deleted,
        exactishCfg, nCells = 16, key = dir, delKey = "mod7")
      HnswRouted.search(index, queriesDf(s, dir), 10, nProbe = 16)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Per-cell compaction: the SAME deletion set folded OUT of the
    // graphs — ONLY cells holding a tombstoned id rebuild (fresh, from
    // survivors, graph-identical to a fresh build by the shared build
    // kernel); untouched cells pass through by reference, so compaction
    // cost is O(affected cells), never O(index). Post-compaction search
    // needs no exclusion set and must still match the exclusion oracle
    // — the routed twin of h_knn_compacted's contract.
    "h_knn_routed_compacted" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val deleted = t(s, dir).filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      val index = HnswRouted.compactCached(vectorsDf(s, dir), deleted,
        exactishCfg, nCells = 16, key = dir, delKey = "mod7")
      HnswRouted.search(index, queriesDf(s, dir), 10, nProbe = 16)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Attribute-filtered ANN on the ROUTED tier ("top-k WHERE label =
    // 3" at the scale tier): the allow-set rides as one sorted
    // primitive broadcast (8 B/id — a label partition's id list);
    // routing is unchanged, the predicate applies in-cell with
    // escalation. Exhaustive regime -> exact label-restricted oracle.
    "h_knn_routed_filtered" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val index = HnswRouted.buildCached(vectorsDf(s, dir), exactishCfg,
        nCells = 16, key = dir)
      val allowed = t(s, dir).filter(col("label") === 3).select(col("vec_id"))
      HnswRouted.searchFiltered(index, queriesDf(s, dir), allowed, 10, nProbe = 16)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The DISTRIBUTED allow-set transport (searchFiltered takes it
    // automatically above 16M ids) forced through the explicit entry
    // point and held to the SAME filtered oracle: pins the
    // id->cell-join + 3-way-zipPartitions machinery end-to-end through
    // DuckDB, the h_knn_routed_distrib pattern for the filtered path.
    "h_knn_routed_filtered_distrib" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val index = HnswRouted.buildCached(vectorsDf(s, dir), exactishCfg,
        nCells = 16, key = dir)
      val allowed = t(s, dir).filter(col("label") === 3).select(col("vec_id"))
      HnswRouted.searchFilteredDistributed(index, queriesDf(s, dir),
          allowed, 10, nProbe = 16)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // HNSW over the reference's native representation: u64 sign-packed
    // codes under Hamming distance (lazy_memory_store.rs:49-54). Exact
    // regime (ef=128) -> shares v_knn_hamming's oracle shape.
    "h_knn_hamming" -> ((s, dir) => {
      import graft.functions.VectorFunctions.signPack64
      import graft.hnsw.HnswCodes
      val codes = t(s, dir).select(col("vec_id").as("id"),
        signPack64(col("embedding")).as("code"))
      val model = HnswCodes.buildCached(codes,
        HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
        seed = 42L, key = s"$dir|signpack64")
      val qs = codes.filter(col("id") % 25 === 0)
        .select(col("id").as("qid"), col("code").as("qcode"))
      HnswCodes.search(qs, model, 5)
        .select(col("qid"), col("id"), col("hamming"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The ROUTED tier over the native representation: u64 sign-packed
    // codes under Hamming, k-majority anchors routing per-cell HNSW
    // graphs (HnswRoutedCodes). At 8 B/row this tier has no broadcast
    // envelope anywhere near practical scale — the 1e8 rehearsal rung
    // runs here. Exhaustive regime (nProbe = nCells) against the same
    // DuckDB bit-arithmetic oracle as the flat Hamming index.
    "h_knn_routed_hamming" -> ((s, dir) => {
      import graft.functions.VectorFunctions.signPack64
      import graft.hnsw.HnswRoutedCodes
      val codes = t(s, dir).select(col("vec_id").as("id"),
        signPack64(col("embedding")).as("code"))
      val index = HnswRoutedCodes.buildCached(codes,
        HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
        nCells = 16, seed = 42L, key = s"$dir|signpack64")
      val qs = codes.filter(col("id") % 25 === 0)
        .select(col("id").as("qid"), col("code").as("qcode"))
      HnswRoutedCodes.search(index, qs, 5, nProbe = 16)
        .select(col("qid"), col("id"), col("hamming"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Merged-cell remedy on the CODES tier (round 16 — the float
    // tier's h_merged_remedy_knn shape on the native representation):
    // halfspace delete -> audit -> targeted remediation -> exhaustive
    // predicated serving, which must equal the exact Hamming oracle
    // over the survivors whether or not any cell was flagged (the
    // remedy pipeline's exactness is the claim; the planted-geometry
    // flagging behavior is HnswRoutedCodesMergedSpec + the
    // merged_remedy_codes rung's job).
    "h_merged_remedy_knn_codes" -> ((s, dir) => {
      import graft.functions.VectorFunctions.signPack64
      import graft.hnsw.HnswRoutedCodes
      val codes = t(s, dir).select(col("vec_id").as("id"),
        signPack64(col("embedding")).as("code"))
      val base = HnswRoutedCodes.buildCached(codes,
        HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
        nCells = 16, seed = 42L, key = s"$dir|signpack64")
      val dead = t(s, dir)
        .filter(element_at(col("embedding"), 1) > 0.0f).select(col("vec_id"))
      val tombed = HnswRoutedCodes.delete(base, dead)
      val (rem, _) = HnswRoutedCodes.remediateMergedCells(tombed,
        minCellRows = 16, persist = false, unpersistPrior = false)
      val qs = codes.filter(col("id") % 25 === 0)
        .select(col("id").as("qid"), col("code").as("qcode"))
      HnswRoutedCodes.search(rem, qs, 5, nProbe = 16)
        .select(col("qid"), col("id"), col("hamming"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The routed-codes DURABLE path (the h_knn_routed_attach shape on
    // the native representation): build once, persist the versioned
    // parquet image (anchors + per-cell codes/links/entries), ATTACH —
    // a parquet scan + CSR assembly, no k-majority training — and serve
    // the SAME exhaustive-regime Hamming oracle from the attached copy.
    // This is the 1e8-decade tier's restart story: the float tier's
    // broadcast build refuses at ~8M rows, so THIS image is the one a
    // 1e8-code deployment actually persists.
    "h_knn_routed_hamming_attach" -> ((s, dir) => {
      import graft.functions.VectorFunctions.signPack64
      import graft.hnsw.HnswRoutedCodes
      val codes = t(s, dir).select(col("vec_id").as("id"),
        signPack64(col("embedding")).as("code"))
      val index = HnswRoutedCodes.attachCached(codes,
        HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
        nCells = 16, seed = 42L, key = s"$dir|signpack64")
      val qs = codes.filter(col("id") % 25 === 0)
        .select(col("id").as("qid"), col("code").as("qcode"))
      HnswRoutedCodes.search(index, qs, 5, nProbe = 16)
        .select(col("qid"), col("id"), col("hamming"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The routed-codes INCREMENTAL path: 90% builds, 10% ingests (routed
    // by frozen anchors, merged per cell — only the batch shuffles), and
    // the grown index answers the exhaustive-regime oracle EXACTLY.
    "h_knn_routed_hamming_grow" -> ((s, dir) => {
      import graft.functions.VectorFunctions.signPack64
      import graft.hnsw.HnswRoutedCodes
      val codes = t(s, dir).select(col("vec_id").as("id"),
        signPack64(col("embedding")).as("code"))
      val index = HnswRoutedCodes.growCached(
        codes.filter(col("id") % 10 =!= 0), codes.filter(col("id") % 10 === 0),
        HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
        nCells = 16, seed = 42L, key = s"$dir|signpack64")
      val qs = codes.filter(col("id") % 25 === 0)
        .select(col("id").as("qid"), col("code").as("qcode"))
      HnswRoutedCodes.search(index, qs, 5, nProbe = 16)
        .select(col("qid"), col("id"), col("hamming"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Tombstone + compaction on the routed-codes tier — the serving
    // lifecycle at the 1e8-decade tier's representation (integer
    // Hamming distances make ties the COMMON case, so these rows also
    // pin the queue's total (dist, id) order through the predicated
    // path). Exhaustive regime against the bit-arithmetic exclusion
    // oracle; the codes index is the SAME cached build as
    // h_knn_routed_hamming.
    "h_knn_routed_hamming_tombstone" -> ((s, dir) => {
      import graft.functions.VectorFunctions.signPack64
      import graft.hnsw.HnswRoutedCodes
      val codes = t(s, dir).select(col("vec_id").as("id"),
        signPack64(col("embedding")).as("code"))
      val deleted = t(s, dir).filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      val index = HnswRoutedCodes.deleteCached(codes, deleted,
        HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
        nCells = 16, seed = 42L, key = s"$dir|signpack64", delKey = "mod7")
      val qs = codes.filter(col("id") % 25 === 0)
        .select(col("id").as("qid"), col("code").as("qcode"))
      HnswRoutedCodes.search(index, qs, 5, nProbe = 16)
        .select(col("qid"), col("id"), col("hamming"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Attribute-filtered ANN on the routed-codes tier ("top-k WHERE
    // label = 3" at the 1e8-decade representation) — the allow-set is
    // the label partition's id list, broadcast sorted; escalation +
    // exact in-cell fallback guarantee the exhaustive regime equals the
    // label-restricted bit-arithmetic oracle.
    "h_knn_routed_hamming_filtered" -> ((s, dir) => {
      import graft.functions.VectorFunctions.signPack64
      import graft.hnsw.HnswRoutedCodes
      val codes = t(s, dir).select(col("vec_id").as("id"),
        signPack64(col("embedding")).as("code"))
      val index = HnswRoutedCodes.buildCached(codes,
        HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
        nCells = 16, seed = 42L, key = s"$dir|signpack64")
      val allowed = t(s, dir).filter(col("label") === 3).select(col("vec_id"))
      val qs = codes.filter(col("id") % 25 === 0)
        .select(col("id").as("qid"), col("code").as("qcode"))
      HnswRoutedCodes.searchFiltered(index, qs, allowed, 5, nProbe = 16)
        .select(col("qid"), col("id"), col("hamming"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    "h_knn_routed_hamming_compacted" -> ((s, dir) => {
      import graft.functions.VectorFunctions.signPack64
      import graft.hnsw.HnswRoutedCodes
      val codes = t(s, dir).select(col("vec_id").as("id"),
        signPack64(col("embedding")).as("code"))
      val deleted = t(s, dir).filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      val index = HnswRoutedCodes.compactCached(codes, deleted,
        HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
        nCells = 16, seed = 42L, key = s"$dir|signpack64", delKey = "mod7")
      val qs = codes.filter(col("id") % 25 === 0)
        .select(col("id").as("qid"), col("code").as("qcode"))
      HnswRoutedCodes.search(index, qs, 5, nProbe = 16)
        .select(col("qid"), col("id"), col("hamming"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // HNSW traversal in PQ-compressed space (graft.hnsw.HnswPq): the
    // executor-side state is graph + 8-byte codes (no raw vectors), and
    // the full-precision table is touched only by the exact re-rank join
    // of the ef traversal candidates — the DiskANN-style beyond-memory
    // serving tier. PQ is lossy (a true neighbor can rank beyond the
    // ADC beam no matter how exact the graph), so unlike the h_knn_*
    // family this op is measured, not asserted exact: self-carried
    // recall vs the in-Spark exact L2 oracle (the h_recall_ann shape;
    // ~98.5% at sf0.01 with ef=128). Rows-only check; HnswPqSpec
    // asserts the recall floor and the no-raw-vectors broadcast claim.
    "h_recall_pq" -> ((s, dir) => {
      import graft.hnsw.HnswPq
      val vecs = vectorsDf(s, dir)
      val qs = queriesDf(s, dir)
      val model = HnswDistributed.buildCached(vecs, l2Cfg, dir)
      val pq = HnswPq.fromModelCached(model, dir)
      val approx = HnswPq.search(qs, pq, vecs, k = 10, ef = 128)
      val exact = Vector.exactTruthIds(s, dir, "l2", 10)
      val (expected, hits) = recallCounts(approx, exact.select(col("qid"), col("id")))
      val nq = qs.count()
      import s.implicits._
      Seq((nq, expected, hits, hits * 10000L / expected))
        .toDF("n_queries", "n_expected", "n_hit", "recall_bp")
    }),

    // Routed + PQ compose (graft.hnsw.HnswRoutedPq): per-cell ADC codes
    // over the routed tier's cell graphs — the beyond-memory serving
    // shape at the SCALE tier (what an executor holds per cell is graph
    // + 8-byte codes; raw vectors appear only in the exact re-rank
    // join). Exhaustive regime + exact per-cell ADC scans + generous
    // candidate budget: every cell contributes its true ADC-top-C, so
    // the re-ranked top-10 matches the exact L2 oracle at catalog scale
    // (the h_knn_cosine empirical-exactness bar — the honest caveat is
    // quantization, not routing; candidates scales with corpus density,
    // and h_recall_routed_pq measures the true ANN regime below).
    // Shares one cached l2 routed build with the recall row.
    "h_knn_routed_pq" -> ((s, dir) => {
      import graft.hnsw.{HnswRouted, HnswRoutedPq}
      val base = HnswRouted.buildCached(vectorsDf(s, dir), l2Cfg,
        nCells = 16, key = dir)
      val index = HnswRoutedPq.fromRoutedCached(base, key = dir)
      HnswRoutedPq.search(index, queriesDf(s, dir), vectorsDf(s, dir),
          k = 10, nProbe = 16, candidates = 192)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The FLOAT-FREE build path (round 16): the PQ tier built directly
    // from the vector table — no float index exists at any point in
    // this query's lineage (buildSolo trains the codebook on a
    // decimated sample, plans the router with the float tier's own
    // machinery, and constructs per-cell graphs in ADC space with the
    // solo ingest kernel). Exhaustive candidates + exact re-rank =
    // exact L2, same empirical-exactness bar as h_knn_routed_pq.
    "h_knn_routed_pq_solo_build" -> ((s, dir) => {
      import graft.hnsw.HnswRoutedPq
      val index = HnswRoutedPq.buildSoloCached(vectorsDf(s, dir), l2Cfg,
        nCells = 16, key = dir)
      HnswRoutedPq.search(index, queriesDf(s, dir), vectorsDf(s, dir),
          k = 10, nProbe = 16, candidates = 192)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The honest nProbe regime of the routed+PQ tier: 4 of 16 cells,
    // candidates=64 — self-carried recall vs the exact L2 truth (the
    // h_recall_pq shape), AND against the FLOAT routed tier at the
    // identical settings over the SAME cached build, so the row
    // separates the two loss sources: recall_bp_float is the routing
    // loss (a true neighbor in an unprobed cell — shared by both
    // tiers), and pq_loss_bp = recall_bp_float - recall_bp_pq is what
    // quantization itself costs. Rows-only; HnswRoutedPqSpec asserts
    // the floor.
    "h_recall_routed_pq" -> ((s, dir) => {
      import graft.hnsw.{HnswRouted, HnswRoutedPq}
      val base = HnswRouted.buildCached(vectorsDf(s, dir), l2Cfg,
        nCells = 16, key = dir)
      val index = HnswRoutedPq.fromRoutedCached(base, key = dir)
      val qs = queriesDf(s, dir)
      val approx = HnswRoutedPq.search(index, qs, vectorsDf(s, dir),
        k = 10, nProbe = 4, candidates = 64)
      val floatTier = HnswRouted.search(base, qs, 10, nProbe = 4, ef0 = 64)
      val exactIds = Vector.exactTruthIds(s, dir, "l2", 10)
        .select(col("qid"), col("id")).cache()
      // two independent count jobs over the same cached truth — overlapped
      val counts = inParallel(Seq(approx, floatTier))(df => recallCounts(df, exactIds))
      val (expected, hitsPq) = counts(0)
      val hitsFloat = counts(1)._2
      exactIds.unpersist(blocking = false)
      val nq = qs.count()
      import s.implicits._
      Seq((nq, expected, hitsPq, hitsPq * 10000L / expected,
          hitsFloat * 10000L / expected,
          (hitsFloat - hitsPq) * 10000L / expected))
        .toDF("n_queries", "n_expected", "n_hit_pq", "recall_bp_pq",
          "recall_bp_float", "pq_loss_bp")
    }),

    // Lifecycle on the routed+PQ tier, part 1 — direct tombstone
    // delete: O(set) handle metadata over the SHARED cached derivation
    // (no code block moves), exhaustive serve excludes the set, and the
    // exact re-rank of survivors matches the label-restricted exact-L2
    // oracle. The PQ twin of h_knn_routed_tombstone.
    "h_knn_routed_pq_tombstone" -> ((s, dir) => {
      import graft.hnsw.{HnswRouted, HnswRoutedPq}
      val base = HnswRouted.buildCached(vectorsDf(s, dir), l2Cfg,
        nCells = 16, key = dir)
      val index = HnswRoutedPq.fromRoutedCached(base, key = dir)
      val tombed = HnswRoutedPq.delete(index,
        vectorsDf(s, dir).filter(col("id") % 7 === 0).select(col("id")))
      HnswRoutedPq.search(tombed, queriesDf(s, dir), vectorsDf(s, dir),
          k = 10, nProbe = 16, candidates = 192)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Lifecycle part 2 — the RE-DERIVE cadence: the float source folds
    // a halfspace delete out via compact (touched cells rebuilt), and
    // the PQ tier follows incrementally (HnswRoutedPq.rederive):
    // content-unchanged cells carry their codes by reference
    // (fingerprint-gated — the halfspace leaves the all-negative cells
    // untouched, so genuine carry happens at catalog scale), touched
    // cells re-encode with the EXISTING codebook. Exhaustive serve over
    // the survivors is held to the exact-L2 hash oracle — the
    // derivation-follows-lifecycle machinery pinned end-to-end through
    // DuckDB. Shares the cached l2 build + PQ derivation + the
    // h_merged_* family's halfspace-compacted float handle.
    "h_knn_routed_pq_rederived" -> ((s, dir) => {
      import graft.hnsw.{HnswRouted, HnswRoutedPq}
      val base = HnswRouted.buildCached(vectorsDf(s, dir), l2Cfg,
        nCells = 16, key = dir)
      val pq = HnswRoutedPq.fromRoutedCached(base, key = dir)
      val dead = vectorsDf(s, dir)
        .filter(element_at(col("vec"), 1) > 0.0f).select(col("id"))
      val compacted = HnswRouted.compactCached(vectorsDf(s, dir), dead,
        l2Cfg, nCells = 16, key = dir, delKey = "half1")
      val re = HnswRoutedPq.rederive(pq, compacted, persist = false)
      HnswRoutedPq.search(re, queriesDf(s, dir), vectorsDf(s, dir),
          k = 10, nProbe = 16, candidates = 192)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Lifecycle part 3 — DURABILITY: the PQ tier's restart story.
    // Deriving the tier needs the float source RESIDENT (full build +
    // encode); attach needs a parquet scan + CSR assembly and no float
    // source at all — at 1e8 that is the difference between a restart
    // that costs ~an hour and one that costs a scan. save persists the
    // eight-table image (codebook + per-cell codes/links/entries +
    // fingerprints + tombstones, versioned-dir discipline); the
    // ATTACHED copy must answer the same exhaustive-regime exact-L2
    // hash oracle as the resident derivation.
    "h_knn_routed_pq_durable" -> ((s, dir) => {
      import graft.hnsw.{HnswRouted, HnswRoutedPq}
      val base = HnswRouted.buildCached(vectorsDf(s, dir), l2Cfg,
        nCells = 16, key = dir)
      val index = HnswRoutedPq.attachCached(base, key = dir)
      HnswRoutedPq.search(index, queriesDf(s, dir), vectorsDf(s, dir),
          k = 10, nProbe = 16, candidates = 192)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Attribute-filtered ANN on the COMPRESSED tier ("top-k WHERE
    // label = 3" over codes): the allow-set rides as one sorted
    // primitive broadcast, membership applies inside the per-cell ADC
    // kernel (allowed AND not tombstoned), and the exact re-rank
    // restores true order — exhaustive regime -> exact label-restricted
    // L2 oracle. Mirrors h_knn_routed_filtered so the PQ tier carries
    // the full serving surface, not a subset.
    "h_knn_routed_pq_filtered" -> ((s, dir) => {
      import graft.hnsw.{HnswRouted, HnswRoutedPq}
      val base = HnswRouted.buildCached(vectorsDf(s, dir), l2Cfg,
        nCells = 16, key = dir)
      val index = HnswRoutedPq.fromRoutedCached(base, key = dir)
      val allowed = t(s, dir).filter(col("label") === 3).select(col("vec_id"))
      HnswRoutedPq.searchFiltered(index, queriesDf(s, dir), vectorsDf(s, dir),
          allowed, k = 10, nProbe = 16, candidates = 192)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The distributed allow-set + query transport on the PQ tier
    // (searchFiltered reroutes automatically above 16M allow-ids),
    // forced through the explicit entry point and held to the SAME
    // filtered oracle — pins the id->cell-join + 3-way-zipPartitions
    // machinery through DuckDB on the compressed tier.
    "h_knn_routed_pq_filtered_distrib" -> ((s, dir) => {
      import graft.hnsw.{HnswRouted, HnswRoutedPq}
      val base = HnswRouted.buildCached(vectorsDf(s, dir), l2Cfg,
        nCells = 16, key = dir)
      val index = HnswRoutedPq.fromRoutedCached(base, key = dir)
      val allowed = t(s, dir).filter(col("label") === 3).select(col("vec_id"))
      HnswRoutedPq.searchFilteredDistributed(index, queriesDf(s, dir),
          vectorsDf(s, dir), allowed, k = 10, nProbe = 16, candidates = 192)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // SOLO lifecycle part 1 — ingest WITHOUT a float source (the
    // attached tier's grow path): 90% of the corpus builds + derives,
    // the remaining 10% ingests in ADC space — the new point's raw
    // float serves its own insertion beam against member CODES, then
    // quantizes (CodeQuery.quantized). Exhaustive serve + exact
    // re-rank over the union must match the exact-L2 oracle: the
    // re-rank table holds every row full-precision, so quantized
    // insertion costs candidate recall only, which the exhaustive
    // regime + generous candidates keeps total at catalog scale.
    "h_knn_routed_pq_ingest" -> ((s, dir) => {
      import graft.hnsw.{HnswRouted, HnswRoutedPq}
      val vecs = vectorsDf(s, dir)
      val base = HnswRouted.buildCached(vecs.filter(col("id") % 10 =!= 0),
        l2Cfg, nCells = 16, key = s"$dir|pq90")
      val pq90 = HnswRoutedPq.fromRoutedCached(base, key = s"$dir|pq90")
      val grown = HnswRoutedPq.ingest(pq90,
        vecs.filter(col("id") % 10 === 0), persist = false)
      HnswRoutedPq.search(grown, queriesDf(s, dir), vecs,
          k = 10, nProbe = 16, candidates = 192)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The solo-ingest QUALITY audit (rows-only, self-carried like every
    // recall row): quantize-on-insert builds the new nodes' links
    // through ADC/SDC distances, where the float tier's ingest links
    // through exact float distances — this row serves BOTH grown
    // indexes in the honest nProbe regime at identical settings over
    // the same 90/10 split and the same codebook, so solo_loss_bp =
    // recall_bp_float_grown - recall_bp_solo isolates what ADC-space
    // insertion costs in graph quality (candidate recall; the exact
    // re-rank is common to both).
    "h_recall_routed_pq_solo" -> ((s, dir) => {
      import graft.hnsw.{HnswRouted, HnswRoutedPq}
      val vecs = vectorsDf(s, dir)
      val base90 = HnswRouted.buildCached(vecs.filter(col("id") % 10 =!= 0),
        l2Cfg, nCells = 16, key = s"$dir|pq90")
      val pq90 = HnswRoutedPq.fromRoutedCached(base90, key = s"$dir|pq90")
      val batch = vecs.filter(col("id") % 10 === 0)
      val solo = HnswRoutedPq.ingest(pq90, batch, persist = false)
      val floatGrown = HnswRouted.ingest(base90, batch, persist = false)
      val viaFloat = HnswRoutedPq.rederive(pq90, floatGrown, persist = false)
      val qs = queriesDf(s, dir)
      val exactIds = Vector.exactTruthIds(s, dir, "l2", 10)
        .select(col("qid"), col("id")).cache()
      def hits(ix: graft.hnsw.HnswRoutedPq.RoutedPqIndex): Long =
        recallCounts(
          HnswRoutedPq.search(ix, qs, vecs, k = 10, nProbe = 4, candidates = 64),
          exactIds)._2
      // the two grown-index serves are independent jobs — overlapped
      val grownHits = inParallel(Seq(solo, viaFloat))(hits)
      val (hitsSolo, hitsFloat) = (grownHits(0), grownHits(1))
      val expected = exactIds.count()
      exactIds.unpersist(blocking = false)
      val nq = qs.count()
      import s.implicits._
      Seq((nq, expected, hitsSolo * 10000L / expected,
          hitsFloat * 10000L / expected,
          (hitsFloat - hitsSolo) * 10000L / expected))
        .toDF("n_queries", "n_expected", "recall_bp_solo",
          "recall_bp_float_grown", "solo_loss_bp")
    }),

    // SOLO lifecycle part 2 — compaction WITHOUT a float source: fold
    // the mod-7 deletion set by rebuilding ONLY touched cells from the
    // raw-vector table (survivor floats fetched per touched cell — the
    // one full-precision copy the design keeps), float-exact fresh
    // graphs + re-encoded codes + true content fingerprints back;
    // untouched cells carry by reference, tombstones empty. Exhaustive
    // serve over survivors against the exact-L2 oracle.
    "h_knn_routed_pq_compact_solo" -> ((s, dir) => {
      import graft.hnsw.{HnswRouted, HnswRoutedPq}
      val vecs = vectorsDf(s, dir)
      val base = HnswRouted.buildCached(vecs, l2Cfg, nCells = 16, key = dir)
      val pq = HnswRoutedPq.fromRoutedCached(base, key = dir)
      val tombed = HnswRoutedPq.delete(pq,
        vecs.filter(col("id") % 7 === 0).select(col("id")))
      val compacted = HnswRoutedPq.compactSolo(tombed, vecs, persist = false)
      HnswRoutedPq.search(compacted, queriesDf(s, dir), vecs,
          k = 10, nProbe = 16, candidates = 192)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Merged-cell remedy on the COMPRESSED tier (round 17 — the last
    // tier unguarded against the dead-side tax): halfspace delete →
    // audit over code RECONSTRUCTIONS (no float access — the solo/
    // attached posture's constraint) → targeted solo compaction of the
    // flagged cells (survivor floats fetched for only them) →
    // exhaustive serving with the exact re-rank, held to the same
    // exact-L2-over-survivors oracle as the float tier's remedy row.
    // Planted-geometry flagging behavior is HnswRoutedPqMergedSpec's
    // job; this row pins the pipeline's exactness through DuckDB.
    "h_merged_remedy_knn_pq" -> ((s, dir) => {
      import graft.hnsw.{HnswRouted, HnswRoutedPq}
      val vecs = vectorsDf(s, dir)
      val base = HnswRouted.buildCached(vecs, l2Cfg, nCells = 16, key = dir)
      val pq = HnswRoutedPq.fromRoutedCached(base, key = dir)
      val dead = vecs
        .filter(element_at(col("vec"), 1) > 0.0f).select(col("id"))
      val tombed = HnswRoutedPq.delete(pq, dead)
      val (rem, _) = HnswRoutedPq.remediateMergedCellsSolo(tombed, vecs,
        minCellRows = 16, persist = false, unpersistPrior = false)
      HnswRoutedPq.search(rem, queriesDf(s, dir), vecs,
          k = 10, nProbe = 16, candidates = 192)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The DISTRIBUTED routing path (the batch-side serving shape —
    // search() takes it automatically above 256k queries) held to the
    // SAME exhaustive-regime hash oracle as h_knn_routed: the per-shard
    // kernel is shared with the driver path, so this row pins the
    // query-side shuffle + zipPartitions machinery end-to-end through
    // DuckDB, not just the in-JVM spec.
    "h_knn_routed_distrib" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val index = HnswRouted.buildCached(vectorsDf(s, dir), exactishCfg,
        nCells = 16, key = dir)
      HnswRouted.searchDistributed(index, queriesDf(s, dir), 10, nProbe = 16)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Merged-cell lifecycle on real data: delete a GEOMETRIC halfspace
    // (every vector whose first coordinate is positive — the shape a
    // real retention policy or domain purge takes), audit the cells
    // for merged dead/live clusters, remediate via the targeted
    // compact, and serve the exhaustive regime — held to the exact
    // L2 hash oracle over the survivors. Shares the cached l2 routed
    // build with the routed_pq rows; remediation builds transient
    // handles (persist=false) and never disturbs the shared memo
    // (unpersistPrior=false).
    "h_merged_remedy_knn" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val base = HnswRouted.buildCached(vectorsDf(s, dir), l2Cfg,
        nCells = 16, key = dir)
      val dead = vectorsDf(s, dir)
        .filter(element_at(col("vec"), 1) > 0.0f).select(col("id"))
      val tombed = HnswRouted.delete(base, dead)
      val (rem, _) = HnswRouted.remediateMergedCells(tombed,
        minCellRows = 16, persist = false, unpersistPrior = false)
      HnswRouted.search(rem, queriesDf(s, dir), 10, nProbe = 16)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The audit surface itself, rows-only: per-cell separability
    // census after the halfspace delete — (cells_audited, flagged,
    // tombstones_before, tombstones_after_remedy). Deterministic given
    // the data and seed; no SQL engine can run the index, so the row
    // self-carries its counts (the recall-row pattern).
    "h_merged_audit" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val base = HnswRouted.buildCached(vectorsDf(s, dir), l2Cfg,
        nCells = 16, key = dir)
      val dead = vectorsDf(s, dir)
        .filter(element_at(col("vec"), 1) > 0.0f).select(col("id"))
      val tombed = HnswRouted.delete(base, dead)
      // (audited, flagged) in ONE job (round-19 session 2, the
      // recallCounts fusion shape) — the cache + two count() actions
      // paid a second scheduler round-trip for a sum the first pass
      // already saw. coalesce: SUM over zero cells is null where the
      // old filter-count returned 0.
      val aRow = HnswRouted.mergedCellAudit(tombed, minCellRows = 16)
        .agg(count(lit(1)).as("n_audited"),
          coalesce(sum(when(col("merged"), 1L).otherwise(0L)), lit(0L))
            .as("n_flagged"))
        .head()
      val audited = aRow.getLong(0)
      val flagged = aRow.getLong(1)
      val (rem, _) = HnswRouted.remediateMergedCells(tombed,
        minCellRows = 16, persist = false, unpersistPrior = false)
      import s.implicits._
      Seq((audited, flagged, tombed.tombstones.length.toLong,
          rem.tombstones.length.toLong))
        .toDF("n_audited", "n_flagged", "tomb_before", "tomb_after")
    }),

    // The cold-tax watch surface (rows-only, self-carried timings —
    // the h_merged_audit pattern): a FRESH routed build (never the
    // shared memo — cold by construction; the build itself is
    // ledger-attributed one-time), warmed by the block sweep + the
    // covering probe, then the FIRST real serve vs a min-of-3 steady
    // serve. The rung-grade claim (warmed first serve ≤1.5x steady at
    // 1e7) lives in BASELINE; this row makes the regression class
    // driver-watched every round instead of prose-watched.
    "h_warm_first_serve" -> ((s, dir) => {
      import graft.hnsw.HnswRouted
      val index = graft.BuildLedger.timed("h_warm_fresh_build")(
        HnswRouted.build(vectorsDf(s, dir), l2Cfg, nCells = 16))
      try {
        val qs = queriesDf(s, dir)
        def serveMs(): Long = {
          val t0 = System.nanoTime()
          HnswRouted.search(index, qs, 10, nProbe = 4).count()
          (System.nanoTime() - t0) / 1000000L
        }
        HnswRouted.warm(index)
        HnswRouted.warmProbe(index)
        val first = serveMs()
        val steady = (1 to 3).map(_ => serveMs()).min
        import s.implicits._
        Seq((first, steady,
            if (steady == 0) 0L else first * 10000L / steady))
          .toDF("first_ms", "steady_ms", "first_over_steady_bp")
      } finally index.unpersist()
    }),

    // Frontier-join search: layer 0 stays a distributed links table
    // (never broadcast), expanded by iterative joins — the path for
    // graphs beyond executor memory. Exact regime -> exact oracle.
    "h_knn_frontier" -> ((s, dir) => {
      val model = HnswDistributed.buildCached(vectorsDf(s, dir), exactishCfg, dir)
      val links = GraphFrames.toLinksDF(s, model.snapshot)
      HnswFrontier.search(links, HnswFrontier.upperSnapshot(model.snapshot),
          vectorsDf(s, dir), queriesDf(s, dir), k = 10, ef = 128)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The beyond-broadcast durable BUILD path: micro-batches search the
    // current persisted graph (upper layers broadcast, layer 0 via
    // frontier joins) and merge through connectBidirMerge ->
    // ParquetGraphStore.mergeBatch — no driver-side vector map at any
    // point (reference analog: the pg-backed e2e build,
    // graph_pg.rs:288-325). Search runs over the durable links table the
    // same way. Exact regime -> exact oracle.
    "h_knn_durable" -> ((s, dir) => {
      // seed 256: the sequential bootstrap is cheap and fewer durable
      // micro-batches means fewer parquet merge cycles — while still
      // exercising the micro-batched path at every scale factor.
      // Cost shape at bench scale: ~#batches x ~5 frontier rounds, each
      // round a fixed ~1s of scheduling overhead in local mode — a bulk
      // once-per-corpus build; at cluster scale the same plan amortizes
      // that overhead over vastly more rows per stage.
      val durableCfg = exactishCfg.copy(seedBatch = 256)
      val path = HnswDurable.buildCached(vectorsDf(s, dir), durableCfg, dir)
      val store = new graft.store.ParquetGraphStore(s, path)
      HnswDurable.search(store, vectorsDf(s, dir), queriesDf(s, dir), k = 10, ef = 128)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Attribute-filtered ANN ("top-k WHERE label = 3"): overfetch-with-
    // escalation inside the executor-local kernel — post-filtering a
    // k-sized result would under-return; this widens the layer-0 beam
    // per query until k allowed hits surface. Exact regime -> exact
    // label-restricted oracle.
    "h_knn_filtered" -> ((s, dir) => {
      val model = HnswDistributed.buildCached(vectorsDf(s, dir), exactishCfg, dir)
      val allowed = t(s, dir).filter(col("label") === 3).select(col("vec_id"))
      HnswDistributed.searchFiltered(queriesDf(s, dir), model, allowed, 10)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Tombstone serving: delete-without-rebuild. Only the deletion set
    // broadcasts (O(deletes), never the corpus-sized complement);
    // tombstoned vertices still conduct the traversal (soft-delete
    // until the next compaction), the overfetch loop guarantees k
    // eligible results, and the exact executor-local fallback makes it
    // provably equal to the exclusion oracle.
    "h_knn_tombstone" -> ((s, dir) => {
      val model = HnswDistributed.buildCached(vectorsDf(s, dir), exactishCfg, dir)
      val deleted = t(s, dir).filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      HnswDistributed.searchExcluding(queriesDf(s, dir), model, deleted, 10)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Post-compaction serving: the SAME deletion set as h_knn_tombstone,
    // folded OUT of the graph by the relational links-out pass
    // (GraphFrames.compactTombstones) — surviving queues bridge through
    // their deleted neighbors and re-trim to M_max. Search then needs no
    // exclusion set and must still match the exclusion oracle: the
    // "compaction preserves the served result" contract, driver-checked.
    // (Probe note: at sf0.1 the bridge edges actually IMPROVED one
    // marginal query — the pre-compaction exclusion beam missed true
    // rank-9 for qid 1850; the compacted graph found it. Both regimes
    // are oracle-exact at the verification SF.)
    "h_knn_compacted" -> ((s, dir) => {
      val model = HnswDistributed.buildCached(vectorsDf(s, dir), exactishCfg, dir)
      val deleted = t(s, dir).filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      val compacted = HnswDistributed.compactModelCached(model, deleted, s"$dir|mod7")
      HnswDistributed.search(queriesDf(s, dir), compacted, 10)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // The beyond-broadcast scale path: independent per-shard graphs +
    // global top-k merge, served from a PREBUILT persisted handle
    // (buildShardedCached) so repeated query batches pay zero rebuild.
    // Exact-regime ef on each shard searching its own subset => the
    // merged top-k equals the exact top-k (each true neighbor lives in
    // exactly one shard), so it shares the exact oracle.
    "h_knn_sharded" -> ((s, dir) => {
      val index = HnswDistributed.buildShardedCached(
        vectorsDf(s, dir), exactishCfg, numShards = 8, key = dir)
      HnswDistributed.searchSharded(index, queriesDf(s, dir), 10)
        .select(col("qid"), col("id"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    })
  )

  private val qFilter = "vec_id % 25 = 0"

  private def exactKnnOracle(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE $qFilter),
       |     v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |     p AS (SELECT qid, id,
       |           list_dot_product(qv, vv) / sqrt(list_dot_product(qv, qv) * list_dot_product(vv, vv)) AS s
       |           FROM q, v),
       |     r AS (SELECT qid, id, CAST(row_number() OVER (
       |            PARTITION BY qid ORDER BY s DESC, id) AS INT) AS rank FROM p)
       |SELECT qid, id, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Exact squared-L2 oracle (ASC; ties by id) — the routed+PQ row's
    * bar. list_distance is the sqrt of the Spark-side score; the
    * ordering (and the rank column compared) is identical. */
  private def exactL2KnnOracle(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE $qFilter),
       |     v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |     p AS (SELECT qid, id, list_distance(qv, vv) AS s FROM q, v),
       |     r AS (SELECT qid, id, CAST(row_number() OVER (
       |            PARTITION BY qid ORDER BY s, id) AS INT) AS rank FROM p)
       |SELECT qid, id, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** [[exactL2KnnOracle]] with a corpus-side survivor predicate — the
    * routed+PQ lifecycle rows' bar (queries stay the full qid set). */
  private def exactL2KnnOracleWhere(k: Int, corpusPred: String): String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE $qFilter),
       |     v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vv
       |           FROM embeddings WHERE $corpusPred),
       |     p AS (SELECT qid, id, list_distance(qv, vv) AS s FROM q, v),
       |     r AS (SELECT qid, id, CAST(row_number() OVER (
       |            PARTITION BY qid ORDER BY s, id) AS INT) AS rank FROM p)
       |SELECT qid, id, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  private def filteredKnnOracle(k: Int, labelPred: String): String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE $qFilter),
       |     v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vv
       |           FROM embeddings WHERE $labelPred),
       |     p AS (SELECT qid, id,
       |           list_dot_product(qv, vv) / sqrt(list_dot_product(qv, qv) * list_dot_product(vv, vv)) AS s
       |           FROM q, v),
       |     r AS (SELECT qid, id, CAST(row_number() OVER (
       |            PARTITION BY qid ORDER BY s DESC, id) AS INT) AS rank FROM p)
       |SELECT qid, id, rank FROM r WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Bit-arithmetic Hamming oracle; `corpusPred` restricts the CORPUS
    * side only (queries stay the full qid set) — the exclusion-oracle
    * shape for the routed-codes tombstone/compaction rows. */
  private def hammingKnnOracleWhere(corpusPred: String): String =
    s"""WITH c AS (
       |  SELECT vec_id, bit_or(CASE WHEN e >= 0 THEN
       |    CASE WHEN i = 64 THEN -9223372036854775808 ELSE (CAST(1 AS BIGINT) << (i-1)) END
       |    ELSE 0 END) AS code
       |  FROM (SELECT vec_id, unnest(embedding) AS e,
       |        generate_subscripts(embedding, 1) AS i FROM embeddings)
       |  GROUP BY vec_id),
       | q AS (SELECT vec_id AS qid, code AS qc FROM c WHERE $qFilter),
       | p AS (SELECT qid, c.vec_id AS id, bit_count(xor(qc, c.code)) AS hamming
       |       FROM q, c WHERE $corpusPred),
       | r AS (SELECT qid, id, CAST(hamming AS INT) AS hamming,
       |       CAST(row_number() OVER (PARTITION BY qid ORDER BY hamming, id) AS INT) AS rank
       |       FROM p)
       |SELECT qid, id, hamming, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  private val hammingKnnOracle: String = hammingKnnOracleWhere("TRUE")

  val oracles: Map[String, String] = Map(
    "h_knn_cosine" -> exactKnnOracle(10),
    "h_knn_filtered" -> filteredKnnOracle(10, "label = 3"),
    "h_knn_tombstone" -> filteredKnnOracle(10, "vec_id % 7 <> 0"),
    "h_knn_compacted" -> filteredKnnOracle(10, "vec_id % 7 <> 0"),
    "h_knn_sharded" -> exactKnnOracle(10),
    "h_knn_routed" -> exactKnnOracle(10),
    "h_knn_routed_distrib" -> exactKnnOracle(10),
    "h_knn_routed_attach" -> exactKnnOracle(10),
    "h_knn_routed_grow" -> exactKnnOracle(10),
    "h_knn_routed_retrained" -> exactKnnOracle(10),
    "h_knn_routed_tombstone" -> filteredKnnOracle(10, "vec_id % 7 <> 0"),
    "h_knn_routed_compacted" -> filteredKnnOracle(10, "vec_id % 7 <> 0"),
    "h_knn_routed_filtered" -> filteredKnnOracle(10, "label = 3"),
    "h_knn_routed_filtered_distrib" -> filteredKnnOracle(10, "label = 3"),
    "h_knn_frontier" -> exactKnnOracle(10),
    "h_knn_durable" -> exactKnnOracle(10),
    // routed+PQ exhaustive regime against the exact L2 oracle (ASC):
    // candidate recall is total at catalog scale (exhaustive per-cell
    // ADC scans, candidates=192/cell) and the exact re-rank restores
    // true ordering — held to the same empirical-exactness hash bar as
    // h_knn_cosine. h_recall_routed_pq (no oracle) carries the honest
    // nProbe-regime number.
    "h_knn_routed_pq" -> exactL2KnnOracle(10),
    "h_knn_routed_pq_solo_build" -> exactL2KnnOracle(10),
    // lifecycle twins: direct PQ-tier tombstones / the float-compact +
    // incremental re-derive cadence — both exhaustive-regime exact over
    // survivors
    "h_knn_routed_pq_tombstone" ->
      exactL2KnnOracleWhere(10, "vec_id % 7 <> 0"),
    "h_knn_routed_pq_rederived" ->
      exactL2KnnOracleWhere(10, "embedding[1] <= 0.0"),
    // durable round-trip: the attached copy answers the same oracle as
    // the resident derivation
    "h_knn_routed_pq_durable" -> exactL2KnnOracle(10),
    // solo lifecycle: ADC-space ingest over the union / raw-table
    // compaction over the survivors — both float-source-free
    "h_knn_routed_pq_ingest" -> exactL2KnnOracle(10),
    "h_knn_routed_pq_compact_solo" ->
      exactL2KnnOracleWhere(10, "vec_id % 7 <> 0"),
    // label-filtered serving on the compressed tier, both transports
    "h_knn_routed_pq_filtered" -> exactL2KnnOracleWhere(10, "label = 3"),
    "h_knn_routed_pq_filtered_distrib" ->
      exactL2KnnOracleWhere(10, "label = 3"),
    // halfspace-deleted exact L2 over survivors: remediated routed
    // serving in the exhaustive regime must match the oracle exactly
    "h_merged_remedy_knn" ->
      s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE $qFilter),
         |     v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vv
         |           FROM embeddings WHERE embedding[1] <= 0.0),
         |     p AS (SELECT qid, id, list_distance(qv, vv) AS s FROM q, v),
         |     r AS (SELECT qid, id, CAST(row_number() OVER (
         |            PARTITION BY qid ORDER BY s, id) AS INT) AS rank FROM p)
         |SELECT qid, id, rank FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // h_recall_pq: intentionally no oracle (rows-only) — PQ-compressed
    // traversal is lossy by design; the query self-carries its recall.

    // halfspace-deleted exact Hamming over survivors — the codes
    // tier's remediated exhaustive serving (the h_merged_remedy_knn
    // twin on the native representation)
    "h_merged_remedy_knn_codes" -> hammingKnnOracleWhere(
      "c.vec_id IN (SELECT vec_id FROM embeddings WHERE embedding[1] <= 0.0)"),
    // the compressed tier's remediated exhaustive serving + exact
    // re-rank: same survivors, same exact-L2 truth as the float remedy
    "h_merged_remedy_knn_pq" -> exactL2KnnOracleWhere(10,
      "embedding[1] <= 0.0"),

    "h_knn_hamming" -> hammingKnnOracle,
    // identical oracle: the routed tier's exhaustive regime must be
    // row-identical to the flat Hamming index's exact answer
    "h_knn_routed_hamming" -> hammingKnnOracle,
    "h_knn_routed_hamming_attach" -> hammingKnnOracle,
    "h_knn_routed_hamming_grow" -> hammingKnnOracle,
    "h_knn_routed_hamming_tombstone" ->
      hammingKnnOracleWhere("c.vec_id % 7 <> 0"),
    "h_knn_routed_hamming_filtered" ->
      hammingKnnOracleWhere(
        "c.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 3)"),
    "h_knn_routed_hamming_compacted" ->
      hammingKnnOracleWhere("c.vec_id % 7 <> 0"),
    "h_match_self" ->
      """SELECT count(*) AS n_vectors, CAST(count(*) AS BIGINT) AS n_matched
        |FROM embeddings""".stripMargin
    // h_recall_ann: intentionally no oracle (rows-only) — see above.
  )
}
