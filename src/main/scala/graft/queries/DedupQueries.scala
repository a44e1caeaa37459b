package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.hnsw.HnswDistributed.BuildConfig
import graft.hnsw.HnswParams
import graft.operators.{ChunkDedup, Dedup}

/** Dedup operator queries: the LinearDb insert contract plus the LSH /
  * MinHash / SimHash / ANN near-duplicate family over `embeddings` and
  * `documents` — the dedup toolkit of an LLM-data pipeline, each with the
  * scale-path implementation and (where DuckDB can express the same
  * computation) a hash-match oracle.
  */
object DedupQueries {
  private def emb(s: SparkSession, dir: String) = Tables(s, dir, "embeddings")
  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** MinHash parameters shared by the Spark query and the DuckDB oracle:
    * K=12 md5-keyed min-hashes over distinct char-8-shingles, banded 3x4,
    * exact-Jaccard verify at 0.8 in integer arithmetic (9|I| >= 4(|A|+|B|)
    * <=> |I|/(|A|+|B|-|I|) >= 0.8). Four-row bands keep the
    * false-candidate rate at background similarity (~0.05 here) to
    * ~s^4 x bands per pair — the verify stage's cost is proportional to
    * candidates, so banding width is the knob that keeps it sub-O(n^2). */
  private val MinhashK = 12
  private val MinhashBands = 3
  private val MinhashRows = 4

  /** Banded-minhash candidate pairs joined with the exact distinct
    * shingle sets of candidate docs only — shared by the document-dedup
    * queries. Native one-pass banded K-minhash straight from text
    * (duplicate shingles can't change a min; band values emitted directly
    * so the kernel is evaluated once per row) == the SQL
    * md5('k:'||s)-over-distinct-shingles + concat form the oracles run.
    * repartition: the parquet arrives as one split; spread the hash-heavy
    * projection across cores (at real scale the scan is already many
    * splits). cache: multiple consumers — without it the kernel pass
    * re-runs per consumer. Verify inputs (shingle sets) are materialized
    * only for candidate docs — the 100 TB shape, where verify cost is
    * proportional to candidates, not corpus size. Output columns:
    * (a_id, b_id, a_sh, b_sh). */
  private val candDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val containDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val spanDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Memoized duplicated spans at the catalog parameters (L = 20):
    * d_substring_spans and p_span_excise consume the same anchor/merge
    * stage — one catalog run pays the token scan once. Parquet-path memo
    * (the candidatePairsWithShingles pattern). */
  private def substringSpans(s: SparkSession, dir: String): DataFrame = {
    val path = spanDirCache.computeIfAbsent(dir, { _ =>
      graft.BuildLedger.timed("substring_spans") {
        val out = graft.TempDirs.create("graft_spans_")
        graft.operators.SubstringDedup
          // spread (round-19): the anchor-hash explode is a CPU-heavy
          // per-row kernel on a single-split scan — serialized on one
          // core without it (Tables.spread is the identity at real scale)
          .duplicatedSpans(Tables.spread(docs(s, dir)), "text", "doc_id",
            minTokens = 20)
          .write.mode("overwrite").parquet(out)
        out
      }
    })
    s.read.parquet(path)
  }

  /** Memoized containment pairs at the catalog parameters (char-8,
    * 0.8 = 4/5, df <= 200): d_containment and p_chunk_curate consume the
    * same inverted-index join — one catalog run pays it once. Parquet-
    * path memo (the candidatePairsWithShingles pattern). */
  private def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val path = containDirCache.computeIfAbsent(dir, { _ =>
      graft.BuildLedger.timed("containment_pairs") {
        val out = graft.TempDirs.create("graft_contain_")
        // ExactOrFail (round-11): this row is ORACLE-VERIFIED, so a
        // silent estimate-driven flip to the LSH route (banding-curve
        // recall) must never happen under corpus drift — the router
        // still guards the cost (it fails fast with the Σdf² estimate
        // instead of launching the r9 rehearsal's 445 s exact regime),
        // but degrading recall is an explicit user decision, not a
        // stderr line
        graft.operators.Containment
          // spread (round-19): the shingle-hash explode (~5M rows at
          // sf0.1) is re-run by the router's estimate AND the capped
          // inverted index, each single-task on the one-split scan —
          // measured ~2.4 s per pass serialized. Spread parallelizes
          // both passes; identity at real scale.
          .pairsAuto(Tables.spread(docs(s, dir)), shingleLen = 8, num = 4, den = 5, maxDf = 200,
            route = graft.operators.Containment.Route.ExactOrFail)
          .write.mode("overwrite").parquet(out)
        out
      }
    })
    s.read.parquet(path)
  }

  /** Memoized: d_neardup_minhash, d_jaccard_pairs and p_curate all verify
    * from the same candidate stage — one catalog run pays the shingle
    * hashing once. The memo holds a parquet PATH, never a live DataFrame
    * (the dupComponents pattern — a session-bound frame pinned in a
    * static map outlives its app and leaks cached blocks); deterministic
    * in `dir`, so the path is reusable across sessions in one JVM. */
  private def candidatePairsWithShingles(s: SparkSession, dir: String): DataFrame = {
    val path = candDirCache.computeIfAbsent(dir, { _ =>
      graft.BuildLedger.timed("minhash_candidates") {
        val out = graft.TempDirs.create("graft_minhashcand_")
        val (result, intermediates) = computeCandidatePairs(s, dir)
        result.write.mode("overwrite").parquet(out)
        intermediates.foreach(_.unpersist())
        out
      }
    })
    s.read.parquet(path)
  }

  private def computeCandidatePairs(s: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val d = docs(s, dir)
    val banded = d
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.md5MinHashShingles(
          col("text"), 8, MinhashK, MinhashBands, MinhashRows))
          .as(Seq("band_idx", "band_val")))
      .cache()
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
      .cache()
    val candIds = cand.select(explode(array(col("a_id"), col("b_id"))).as("doc_id")).distinct()
    // cached: the shingle projection feeds BOTH sides of the pair join
    // on different keys, so exchange reuse can't deduplicate it — without
    // the cache the documents scan + charShingles kernel runs twice
    val shCand = d.join(broadcast(candIds), "doc_id")
      .select(col("doc_id"),
        graft.functions.TextFunctions.charShingles(col("text"), 8).as("sh"))
      .cache()
    val joined = cand
      .join(shCand.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(shCand.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
    (joined, Seq(banded, cand, shCand))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact substring-level duplication: the maximal >= 20-token spans of
    // each document that occur verbatim in another document — anchor
    // hashes (8-byte shuffle keys), min != max distinct-doc test, gaps-
    // and-islands merge (graft.operators.SubstringDedup). The oracle runs
    // the identical anchor/merge logic string-keyed, so the hash compare
    // doubles as a 64-bit-collision audit at test scale.
    "d_substring_spans" -> ((s, dir) =>
      substringSpans(s, dir).orderBy(col("doc_id"), col("span_start"))),

    // Span excision accounting: per document, how many tokens sit inside
    // SOME cross-doc duplicated >= 20-token window — the number a
    // curation pass removes when excising spans instead of dropping
    // docs. Adjacent islands can overlap textually (two runs of anchors
    // separated by a < L gap cover overlapping token ranges), so the
    // spans go through a proper interval-union merge (running-max window
    // + group flag) before counting; summing span_len would double-count.
    // Integer permille — exact.
    "p_span_excise" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val spans = substringSpans(s, dir)
      val prevMax = Window.partitionBy(col("doc_id")).orderBy(col("span_start"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val runGrp = Window.partitionBy(col("doc_id")).orderBy(col("span_start"))
      val dup = spans
        .withColumn("pme", max(col("span_end")).over(prevMax))
        .withColumn("new_grp",
          when(col("pme").isNull || col("span_start") > col("pme"), 1L).otherwise(0L))
        .withColumn("grp", sum(col("new_grp")).over(runGrp))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("span_start")).as("s"), max(col("span_end")).as("e"))
        .groupBy(col("doc_id"))
        .agg(sum(col("e") - col("s") + 1).as("dup_tok"))
      d.join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("dup_tok"), lit(0L)).as("dup_tok"))
        .withColumn("dup_permille", expr("dup_tok * 1000 div n_tok"))
        .orderBy(col("doc_id"))
    }),

    // L1 insert-if-not-exists + idempotence (linear_db.rs:17-25, 43-52):
    // inserting the corpus twice leaves the store where one insert put it.
    "v_dedup_insert" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val empty = e.limit(0)
      // localCheckpoint: `once` is consumed three times (the counting
      // union below, and as both the store and the dedup target inside
      // `twice`) — uncached, the window + anti-join pipeline would
      // re-execute per consumer. The checkpoint pays the heavy lineage
      // ONCE; the three counts then ride ONE job (tag-union + single
      // agg) instead of three separate count() actions — the r14 bench
      // read the 4-action version at 14 s for a 3-row result.
      val once = Dedup.insertIfAbsent(empty, e, key = "embedding", idCol = "vec_id")
        .localCheckpoint()
      val twice = Dedup.insertIfAbsent(once, e, key = "embedding", idCol = "vec_id")
      e.select(lit(0).as("t"))
        .unionAll(once.select(lit(1).as("t")))
        .unionAll(twice.select(lit(2).as("t")))
        .agg(
          sum(when(col("t") === 0, 1L).otherwise(0L)).as("n_input"),
          sum(when(col("t") === 1, 1L).otherwise(0L)).as("n_after_first"),
          sum(when(col("t") === 2, 1L).otherwise(0L)).as("n_after_second"))
    }),

    // Embedding near-dup through the HNSW index + exact cosine verify —
    // the sub-linear replacement for the O(n^2) v_neardup_pairs theta
    // join; shares its oracle (candidate recall is total at this scale,
    // and the verify step reuses the identical Catalyst kernel).
    "v_neardup_ann" -> ((s, dir) => {
      val cfg = BuildConfig(HnswParams.standard(64, 128, 16), "cosine", seed = 42L)
      Dedup.neardupAnn(
          emb(s, dir).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", threshold = 0.4, k = 48, cfg = cfg,
          cacheKey = Some(dir))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Banded SimHash-LSH near-dup (512 seeded Rademacher projections,
    // 102 bands x 5 bits) + exact verify at 0.45 — banded for this
    // threshold per the OR-amplification math: p = 1 - arccos(0.45)/pi
    // = 0.6486, per-pair miss (1 - p^5)^102 = (1 - 0.115)^102 ~ 4e-6,
    // so with the tens of qualifying pairs at these scale factors the
    // candidate stage finds every pair (any-miss probability < 1e-4) and
    // the exact verify makes the output identical to brute force -> full
    // hash-match oracle. Honest regime note: at moderate thresholds in
    // 64 dims the background collision rate (p_bg = 0.5 per bit) keeps
    // the pruning factor small, so this operator's efficiency sweet spot
    // is high-similarity dedup; the ANN-index path (v_neardup_ann) is
    // the preferred scale route here.
    "v_neardup_lsh" -> ((s, dir) => {
      Dedup.neardupLsh(
          emb(s, dir).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", threshold = 0.45,
          nBits = 512, bands = 102, rowsPerBand = 5)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // The SCALE regime of the same operator: banding chosen by the
    // closed-form calculator (LshPlan) for a 0.95 recall target instead
    // of the oracle-parity near-certainty above — wider bands (7 bits vs
    // 5) and fewer of them (~61 vs 102), so the background candidate
    // stream (the whole cost at moderate thresholds: b * 0.5^r per
    // unrelated pair) shrinks ~6.7x. Rows-only by necessity (the output
    // is recall-bounded, not exact); the recall audit is self-carried
    // v_recall_*-style: one row comparing found pairs against the
    // in-Spark brute-force truth (checkpointed — it is this query's
    // oracle and runs exactly once), with the plan's predicted floor
    // alongside. LshPlanRecallSpec asserts the floor holds on data.
    "v_neardup_lsh_recall" -> ((s, dir) => {
      import graft.operators.LshPlan
      val threshold = 0.45
      val p = LshPlan.plan(threshold, targetRecall = 0.95, nBits = 512, n = 10000L)
      val vecs = emb(s, dir).select(col("vec_id"), col("embedding"))
      val found = Dedup.neardupLsh(vecs, idCol = "vec_id", vecCol = "embedding",
        threshold = threshold, nBits = 512,
        bands = p.bands, rowsPerBand = p.rowsPerBand)
      // streamed side repartitioned: the non-equi self-join is a
      // BroadcastNestedLoop whose parallelism is a's partition count,
      // and the small embeddings scan arrives as one partition
      val a = vecs.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
        .repartition(s.sparkContext.defaultParallelism)
      val b = vecs.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
      val truth = a.join(b, col("a_id") < col("b_id"))
        .filter(graft.functions.VectorFunctions
          .cosineSim(col("a_vec"), col("b_vec")) >= threshold)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint()
      // (nTrue, nFound) in ONE job (round-19 session 2, the recallCounts
      // fusion shape): hit flags left-joined onto the truth rows and
      // aggregated in the same pass. Equality with the old
      // count() + semi-join count(): found is distinct by construction
      // (neardupLsh ends in .distinct()), so the flag sum counts exactly
      // the truth rows found would semi-keep.
      val cRow = truth
        .join(found.withColumn("h", lit(1L)), Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          // outer coalesce: SUM over ZERO truth rows is null, the old
          // two-count path returned 0 there (the nTrue == 0 guard below)
          coalesce(sum(coalesce(col("h"), lit(0L))), lit(0L)).as("n_found"))
        .head()
      val nTrue = cRow.getLong(0)
      val nFound = cRow.getLong(1)
      import s.implicits._
      Seq((p.bands, p.rowsPerBand, nTrue, nFound,
          if (nTrue == 0) 10000L else nFound * 10000L / nTrue,
          (p.recallBound * 10000).toLong))
        .toDF("bands", "rows_per_band", "n_true", "n_found",
          "recall_bp", "predicted_floor_bp")
    }),

    // Document near-dup: MinHash over distinct char-8-shingles, banded
    // 4x3, exact shingle-Jaccard verify at 0.8. All hashing is md5 so the
    // DuckDB oracle runs the identical computation.
    "d_neardup_minhash" -> ((s, dir) => {
      candidatePairsWithShingles(s, dir)
        .filter(graft.functions.TextFunctions
          .jaccardAtLeast08(col("a_sh"), col("b_sh")))
        .select(col("a_id"), col("b_id"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Exact char-8-gram Jaccard similarity for the banded candidates, as
    // a first-class similarity measure (integer permille so the oracle
    // compare is exact): the n-gram-Jaccard member of the dedup family.
    "d_jaccard_pairs" -> ((s, dir) => {
      candidatePairsWithShingles(s, dir)
        .withColumn("ni", size(array_intersect(col("a_sh"), col("b_sh"))).cast("long"))
        .withColumn("nu",
          size(col("a_sh")).cast("long") + size(col("b_sh")).cast("long") - col("ni"))
        .select(col("a_id"), col("b_id"),
          expr("(ni * 1000) div nu").as("jaccard_pm"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // The composite curation pipeline — the end-to-end training-data
    // shape: heuristic quality gate, then near-dup drop (minhash pairs,
    // lowest doc_id survives), then corpus stats. Each stage is an
    // operator proven above; this query proves they compose.
    "p_curate" -> ((s, dir) => {
      val d = docs(s, dir)
      val stop = graft.queries.Text.stopSql
      // ONE corpus pass for all three funnel counts (round-19 session 2,
      // guide §1.2 don't compute things twice): the old three count()
      // actions evaluated the stop-token quality kernel TWICE (once for
      // n_after_quality, again under the anti-join for n_after_dedup)
      // and paid three scheduler round-trips. The quality gate becomes a
      // flag column, the drop set left-joins on (distinct ids — no row
      // duplication), and one aggregate reads the funnel. Identical
      // values: count(q) == the old filter-then-count (a null quality —
      // n_tok = 0 — fails the filter AND the when()), and q && no-drop
      // is the anti-join's membership test.
      val flags = d
        .select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          expr(s"size(filter(split(text, ' '), tok -> tok IN $stop))")
            .cast("long").as("n_stop"))
        .withColumn("quality",
          (col("n_stop") / col("n_tok")) * 0.5 +
            least(lit(1.0), col("n_chars") / lit(500.0)) * 0.5)
        .select(col("doc_id"), (col("quality") >= 0.5).as("q"))
      val dupPairs = defs("d_neardup_minhash")(s, dir) // (a_id, b_id), a < b
      val dropped = dupPairs.select(col("b_id").as("doc_id")).distinct()
        .withColumn("dr", lit(1L))
      val row = flags.join(dropped, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_input"),
          // coalesce: SUM over an empty corpus is null where the old
          // filter-then-count() path returned 0
          coalesce(sum(when(col("q"), 1L).otherwise(0L)), lit(0L))
            .as("n_after_quality"),
          coalesce(sum(when(col("q") && col("dr").isNull, 1L).otherwise(0L)),
            lit(0L)).as("n_after_dedup"))
        .head()
      import s.implicits._
      Seq((row.getLong(0), row.getLong(1), row.getLong(2)))
        .toDF("n_input", "n_after_quality", "n_after_dedup")
    }),

    // SimHash document fingerprint: 64-bit signature from md5-bit votes
    // over whitespace tokens, emitted as a bit-string. Deterministic and
    // md5-based end to end -> full hash-match oracle (which runs the SQL
    // bit-vote form, SimhashSqlForms.duckdb); the Spark side uses the native
    // one-pass kernel (graft.functions.SimHash64Md5).
    "d_simhash" -> ((s, dir) => {
      // text IS NOT NULL pinned on BOTH sides: the native kernel is
      // null-intolerant (NULL sig64) while the SQL bit-vote form's
      // CASE WHEN NULL >= 0 collapses to the all-zeros string — a
      // null-text row would hash-diverge (latent: this corpus has none)
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.TextFunctions.simhash64(split(col("text"), " ")).as("sig64"))
        .orderBy(col("doc_id"))
    }),

    // Document near-dup through the reference's NATIVE representation:
    // SimHash the text to a u64 code, build the Hamming HNSW over the
    // codes (micro-batched — the scale path), search every doc, keep
    // pairs within Hamming 5 (planted near-dups sit at <= 5 in this
    // corpus; background starts at 6). Exact-regime search => the pair
    // set equals the brute-force Hamming self-join, which DuckDB
    // reproduces positionally from the identical md5 bit votes. k bounds
    // the per-doc duplicate fan-out (same contract as neardupAnn); a
    // near-dup family larger than k would need a larger k or an
    // LSH-candidate verify stage.
    "d_neardup_hamming" -> ((s, dir) => {
      import graft.hnsw.{HnswCodes, HnswParams}
      // bitstring -> long: bit k of the code is character k+1 of the sig
      val bitsToLong =
        "aggregate(sequence(0, 63), 0L, (acc, k) -> acc | " +
          "CASE WHEN substring(sig, k + 1, 1) = '1' THEN shiftleft(1L, k) ELSE 0L END)"
      // repartition: the parquet arrives as one split and the md5-vote
      // SimHash pass is the expensive part — spread it across cores. The
      // single materialization happens inside the build's collect; the
      // query side reuses the model's own code table (no cache to leak).
      val codes = docs(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id").as("id"),
          graft.functions.TextFunctions.simhash64(split(col("text"), " ")).as("sig"))
        .select(col("id"), expr(bitsToLong).as("code"))
      val model = HnswCodes.buildCached(codes,
        HnswParams.standard(efConstruction = 64, efSearch = 128, m = 16),
        seed = 42L, key = s"$dir|simhash64", batched = true)
      import s.implicits._
      val queries = s.createDataset(model.form.store.rows.toSeq.sortBy(_._1))
        .toDF("qid", "qcode")
      HnswCodes.search(queries, model, 64)
        .filter(col("hamming") <= 5)
        .select(least(col("qid"), col("id")).as("a_id"),
          greatest(col("qid"), col("id")).as("b_id"))
        .filter(col("a_id") =!= col("b_id"))
        .distinct()
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Sub-document chunk dedup (graft.operators.ChunkDedup): 20-word
    // window chunks, exact-string identity. Detection pass — which
    // chunks recur across documents (boilerplate discovery).
    "d_chunk_dups" -> ((s, dir) =>
      ChunkDedup.dupChunks(docs(s, dir), w = 20)
        .orderBy(col("chunk_hash"))),

    // Keep-first chunk dedup per document: global (doc_id, chunk_no)
    // occurrence order, first occurrence of each distinct chunk
    // survives — the paragraph-level pass a training pipeline runs
    // between doc-level dedup and quality filtering.
    "d_chunk_dedup" -> ((s, dir) =>
      ChunkDedup.dedupStats(docs(s, dir), w = 20)
        .orderBy(col("doc_id"))),

    // Asymmetric containment (doc-in-doc duplication): the web-corpus
    // mode symmetric Jaccard misses — truncated copies, quoted-whole
    // pages. Exact inverted-index join over distinct char-8 shingles,
    // both directions from one intersection count, cross-multiplied
    // integer threshold (0.8 = 4/5). The df <= 200 cap IS engaged (and
    // mirrored in the oracle): it cuts the sum-of-df^2 join fan-out 75x
    // at sf0.1 (561M -> 7.4M rows) while losing zero true containments
    // — contained docs share RARE shingles; the dropped head is
    // non-discriminative boilerplate vocabulary.
    "d_containment" -> ((s, dir) =>
      containmentPairs(s, dir)
        .orderBy(col("contained_id"), col("container_id"))),

    // Round-6 capstone: the sub-document curation pipeline end-to-end —
    // containment dedup (drop docs >= 0.8-contained in a LOWER-id doc:
    // arrival-order greedy, the d_dedup_resolve min-id convention),
    // then keep-first chunk dedup over the SURVIVORS, rolled up per
    // source. One DAG, one composed oracle; every stage is a proven
    // operator (Containment at the catalog cap, ChunkDedup).
    "p_chunk_curate" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
      val dropped = containmentPairs(s, dir)
        .filter(col("container_id") < col("contained_id"))
        .select(col("contained_id").as("doc_id")).distinct()
      val kept = d.join(dropped, Seq("doc_id"), "left_anti")
      val stats = ChunkDedup.dedupStats(kept, w = 20)
      // every kept doc yields >= 1 chunk (chunksOf emits at least one
      // even for empty text), so the stats row count IS docs_kept — no
      // second marker join re-running the anti-join subtree
      d.select(col("doc_id"), col("source"))
        .join(stats, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs_in"),
          count(col("n_chunks")).as("docs_kept"),
          coalesce(sum(col("n_chunks")), lit(0L)).as("chunks_total"),
          coalesce(sum(col("n_chunks") - col("n_dropped")), lit(0L)).as("chunks_unique"),
          coalesce(sum(col("chars_kept")), lit(0L)).as("chars_kept"))
        .orderBy(col("source"))
    }),

    // Corpus-quality report: per-source chunk duplication ratio (basis
    // points, integer division — no float in the hashed row). The
    // roll-up a curation run reads to decide which sources need a
    // boilerplate-stripping pass.
    "d_source_dup_ratio" -> ((s, dir) =>
      ChunkDedup.dedupStats(docs(s, dir), w = 20)
        .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chunks")).as("n_chunks"),
          sum(col("n_dropped")).as("n_dropped"))
        .withColumn("dup_bp", expr("n_dropped * 10000 div n_chunks"))
        .orderBy(col("source")))
  )

  /** The sh/mh/banded/cand/pairs CTE chain shared by every oracle that
    * starts from the verified MinHash near-dup pairs — one definition so
    * d_neardup_minhash, p_curate and the Curation group oracles stay in
    * lockstep with the Spark-side candidate stage. `pairs(a_id, b_id)`
    * with a_id < b_id. */
  private[queries] val minhashPairsCtes: String = {
    val mhList = (0 until MinhashK).map(k =>
      s"list_aggregate(list_transform(sh, s -> md5('$k' || ':' || s)), 'min')")
      .mkString("[", ", ", "]")
    val bandList = (0 until MinhashBands).map { j =>
      (0 until MinhashRows).map(r => s"mh[${j * MinhashRows + r + 1}]").mkString(" || ")
    }.mkString("[", ", ", "]")
    s"""sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, greatest(length(text)-7, 1)),
       |      i -> substring(text, i, 8))) AS sh
       |  FROM documents),
       |mh AS (SELECT doc_id, sh, $mhList AS mh FROM sh),
       |banded AS (
       |  SELECT doc_id, sh, unnest($bandList) AS band_val,
       |         unnest(generate_series(1, $MinhashBands)) AS band_idx
       |  FROM mh),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM banded x, banded y
       |  WHERE x.band_idx = y.band_idx AND x.band_val = y.band_val
       |    AND x.doc_id < y.doc_id),
       |pairs AS (
       |  SELECT a_id, b_id FROM cand
       |  JOIN sh a ON a.doc_id = a_id
       |  JOIN sh b ON b.doc_id = b_id
       |  WHERE len(list_intersect(a.sh, b.sh)) * 9 >= (len(a.sh) + len(b.sh)) * 4)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "d_substring_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |anchors AS (
        |  SELECT doc_id, i.i AS pos, array_to_string(t[i.i:i.i+19], ' ') AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 18)) AS i) i
        |  WHERE len(t) >= 20),
        |dup AS (
        |  SELECT gram FROM anchors GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |hits AS (
        |  SELECT a.doc_id, a.pos FROM anchors a JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM hits)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |       CAST(max(pos) + 19 AS BIGINT) AS span_end,
        |       CAST(max(pos) + 19 - min(pos) + 1 AS BIGINT) AS span_len
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    "p_span_excise" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |anchors AS (
        |  SELECT doc_id, i.i AS pos, array_to_string(t[i.i:i.i+19], ' ') AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 18)) AS i) i
        |  WHERE len(t) >= 20),
        |dup0 AS (
        |  SELECT gram FROM anchors GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |hits AS (
        |  SELECT a.doc_id, a.pos FROM anchors a JOIN dup0 USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM hits),
        |spans AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) + 19 AS e
        |  FROM isl GROUP BY doc_id, island),
        |m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM spans),
        |g AS (
        |  SELECT doc_id, s, e, sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY s) AS grp
        |  FROM m),
        |mi AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM g GROUP BY doc_id, grp),
        |dup AS (SELECT doc_id, sum(e - s + 1) AS dup_tok FROM mi GROUP BY doc_id),
        |n AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents)
        |SELECT n.doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |       CAST(COALESCE(dup_tok, 0) AS BIGINT) AS dup_tok,
        |       CAST(COALESCE(dup_tok, 0) * 1000 // n_tok AS BIGINT) AS dup_permille
        |FROM n LEFT JOIN dup USING (doc_id) ORDER BY n.doc_id""".stripMargin,

    "v_dedup_insert" ->
      """SELECT count(*) AS n_input,
        | CAST(count(DISTINCT embedding) AS BIGINT) AS n_after_first,
        | CAST(count(DISTINCT embedding) AS BIGINT) AS n_after_second
        |FROM embeddings""".stripMargin,

    "v_neardup_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.v, b.v)
        |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    // LSH banding at 102x5 recovers every >= 0.45 pair (miss ~ 4e-6 per
    // pair; < 1e-4 across the corpus's qualifying pairs) and the exact
    // verify removes false candidates, so the output equals the
    // brute-force self-join at the same threshold.
    "v_neardup_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.v, b.v)
        |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) >= 0.45
        |ORDER BY a_id, b_id""".stripMargin,

    "d_neardup_minhash" ->
      s"""WITH $minhashPairsCtes
         |SELECT a_id, b_id FROM pairs
         |ORDER BY a_id, b_id""".stripMargin,

    "d_simhash" ->
      s"""SELECT doc_id, ${SimhashSqlForms.duckdb} AS sig64
         |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,

    "d_neardup_hamming" ->
      s"""WITH s AS (SELECT doc_id, ${SimhashSqlForms.duckdb} AS sig FROM documents),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |      len(list_filter(generate_series(1, 64),
         |          i -> substring(a.sig, i, 1) != substring(b.sig, i, 1))) AS d
         |      FROM s a, s b WHERE a.doc_id < b.doc_id)
         |SELECT a_id, b_id FROM p WHERE d <= 5 ORDER BY a_id, b_id""".stripMargin,

    "d_jaccard_pairs" ->
      s"""WITH $minhashPairsCtes
         |SELECT a_id, b_id,
         |  CAST((len(list_intersect(a.sh, b.sh)) * 1000)
         |    // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS BIGINT) AS jaccard_pm
         |FROM cand
         |JOIN sh a ON a.doc_id = a_id
         |JOIN sh b ON b.doc_id = b_id
         |ORDER BY a_id, b_id""".stripMargin,

    "p_curate" -> {
      val stop = graft.queries.Text.stopSql
      s"""WITH q AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |      (CAST(len(list_filter(string_split(text, ' '), tok -> tok IN $stop)) AS BIGINT) * 1.0
         |        / len(string_split(text, ' '))) * 0.5
         |      + least(1.0, n_chars / 500.0) * 0.5 AS quality
         |    FROM documents)
         |  WHERE quality >= 0.5),
         |$minhashPairsCtes,
         |dropped AS (SELECT DISTINCT b_id AS doc_id FROM pairs)
         |SELECT (SELECT count(*) FROM documents) AS n_input,
         |  (SELECT count(*) FROM q) AS n_after_quality,
         |  (SELECT count(*) FROM q WHERE doc_id NOT IN (SELECT doc_id FROM dropped)) AS n_after_dedup""".stripMargin
    },

    // 20-word chunking expressed positionally: split -> unnest with
    // subscripts -> per-(doc, floor(pos/20)) ordered string_agg — the
    // same chunk strings the Spark transform/slice path produces.
    "d_chunk_dups" ->
      s"""WITH $chunkCte
         |SELECT md5(chunk) AS chunk_hash,
         |  count(DISTINCT doc_id) AS n_docs,
         |  count(*) AS n_occurrences,
         |  min(doc_id) AS first_doc
         |FROM chunks GROUP BY md5(chunk)
         |HAVING count(DISTINCT doc_id) > 1
         |ORDER BY chunk_hash""".stripMargin,

    "d_chunk_dedup" ->
      s"""WITH $chunkCte,
         |r AS (SELECT doc_id, chunk_no, chunk,
         |      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_no) AS rn
         |      FROM chunks)
         |SELECT doc_id,
         |  count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN rn = 1 THEN length(chunk) ELSE 0 END) AS BIGINT) AS chars_kept
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d_containment" ->
      s"""WITH $containmentCtes
        |SELECT contained_id, container_id, n_shared, containment_bp FROM (
        |  SELECT a_id AS contained_id, b_id AS container_id, n_inter AS n_shared,
        |         CAST(n_inter * 10000 // a_n AS BIGINT) AS containment_bp
        |  FROM sized WHERE n_inter * 5 >= a_n * 4
        |  UNION ALL
        |  SELECT b_id, a_id, n_inter,
        |         CAST(n_inter * 10000 // b_n AS BIGINT)
        |  FROM sized WHERE n_inter * 5 >= b_n * 4)
        |ORDER BY contained_id, container_id""".stripMargin,

    "p_chunk_curate" ->
      s"""WITH $containmentCtes,
         |dropped AS (
         |  -- sized guarantees a_id < b_id, so "contained in a lower-id
         |  -- doc" can only ever be the b side (container a_id < b_id)
         |  SELECT DISTINCT b_id AS doc_id FROM sized
         |  WHERE n_inter * 5 >= b_n * 4),
         |keepdocs AS (SELECT d.doc_id, d.text FROM documents d
         |  WHERE d.text IS NOT NULL
         |    AND d.doc_id NOT IN (SELECT doc_id FROM dropped)),
         |${chunkCteFrom("keepdocs")},
         |r AS (SELECT doc_id, chunk,
         |      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_no) AS rn
         |      FROM chunks),
         |per_doc AS (SELECT doc_id, count(*) AS n_chunks,
         |            sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_uniq,
         |            sum(CASE WHEN rn = 1 THEN length(chunk) ELSE 0 END) AS chars_kept
         |            FROM r GROUP BY doc_id)
         |SELECT d.source,
         |  count(*) AS docs_in,
         |  count(k.doc_id) AS docs_kept,
         |  CAST(coalesce(sum(p.n_chunks), 0) AS BIGINT) AS chunks_total,
         |  CAST(coalesce(sum(p.n_uniq), 0) AS BIGINT) AS chunks_unique,
         |  CAST(coalesce(sum(p.chars_kept), 0) AS BIGINT) AS chars_kept
         |FROM documents d
         |LEFT JOIN keepdocs k ON k.doc_id = d.doc_id
         |LEFT JOIN per_doc p ON p.doc_id = d.doc_id
         |WHERE d.text IS NOT NULL
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "d_source_dup_ratio" ->
      s"""WITH $chunkCte,
         |r AS (SELECT doc_id, chunk,
         |      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_no) AS rn
         |      FROM chunks),
         |per_doc AS (SELECT doc_id, count(*) AS n_chunks,
         |            sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_dropped
         |            FROM r GROUP BY doc_id)
         |SELECT d.source,
         |  count(*) AS n_docs,
         |  CAST(sum(p.n_chunks) AS BIGINT) AS n_chunks,
         |  CAST(sum(p.n_dropped) AS BIGINT) AS n_dropped,
         |  CAST(sum(p.n_dropped) * 10000 // sum(p.n_chunks) AS BIGINT) AS dup_bp
         |FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin
  )

  /** Shared capped containment CTE chain — `sized(a_id, b_id, n_inter,
    * a_n, b_n)` over df<=200 char-8 shingles. ONE string composed into
    * the d_containment and p_chunk_curate oracles (must mirror
    * Containment.pairs at the catalog parameters). */
  private lazy val containmentCtes: String =
    """sh AS (SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, greatest(length(text)-7, 1)),
      |      i -> substring(text, i, 8))) AS sh
      |  FROM documents WHERE text IS NOT NULL),
      |e0 AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |keep AS (SELECT s FROM (SELECT s, count(*) AS df FROM e0 GROUP BY 1)
      |         WHERE df <= 200),
      |e AS (SELECT e0.doc_id, e0.s FROM e0 JOIN keep USING (s)),
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |          CAST(count(*) AS BIGINT) AS n_inter
      |          FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |sized AS (SELECT i.a_id, i.b_id, i.n_inter,
      |          sa.n AS a_n, sb.n AS b_n
      |          FROM inter i JOIN sz sa ON sa.doc_id = i.a_id
      |          JOIN sz sb ON sb.doc_id = i.b_id)""".stripMargin

  /** Shared 20-word chunking CTE over any doc relation:
    * `chunks(doc_id, chunk_no, chunk)`. */
  private def chunkCteFrom(table: String): String =
    s"""w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |      generate_subscripts(string_split(text, ' '), 1) AS pos
      |      FROM $table),
      |chunks AS (SELECT doc_id, CAST((pos - 1) // 20 AS BIGINT) AS chunk_no,
      |           string_agg(w, ' ' ORDER BY pos) AS chunk
      |           FROM w GROUP BY doc_id, CAST((pos - 1) // 20 AS BIGINT))""".stripMargin

  /** The documents-table instance — referenced by `oracles` above it in
    * declaration order (lazy for that reason). */
  private lazy val chunkCte: String = chunkCteFrom("documents")
}

/** The 64-bit token SimHash, written twice in the two SQL dialects so the
  * oracle runs the identical md5-based computation: per bit k, sum +-1
  * votes from bit k of each token's md5, emit '1' when the vote is
  * non-negative. Bit k of an md5 hex string = bit (3 - k%4) of hex digit
  * k/4. */
object SimhashSqlForms {
  private val hexes = "'0123456789abcdef'"

  // Spark: instr is 1-based; tokens hashed once, then 64 bit-votes.
  val spark: String =
    s"""array_join(
       |  transform(sequence(0, 63), k ->
       |    CASE WHEN aggregate(
       |      transform(split(text, ' '), t -> md5(t)),
       |      0,
       |      (acc, h) -> acc + CASE WHEN
       |        ((instr($hexes, substring(h, CAST(k div 4 AS INT) + 1, 1)) - 1)
       |          div CASE WHEN k % 4 = 0 THEN 8 WHEN k % 4 = 1 THEN 4
       |                   WHEN k % 4 = 2 THEN 2 ELSE 1 END) % 2 = 1
       |        THEN 1 ELSE -1 END
       |    ) >= 0 THEN '1' ELSE '0' END),
       |  '')""".stripMargin

  // DuckDB: strpos is 1-based; same formula.
  val duckdb: String =
    s"""array_to_string(
       |  list_transform(generate_series(0, 63), k ->
       |    CASE WHEN list_sum(
       |      list_transform(string_split(text, ' '), t ->
       |        CASE WHEN
       |          ((strpos($hexes, substring(md5(t), CAST(k // 4 AS INT) + 1, 1)) - 1)
       |            // CASE WHEN k % 4 = 0 THEN 8 WHEN k % 4 = 1 THEN 4
       |                  WHEN k % 4 = 2 THEN 2 ELSE 1 END) % 2 = 1
       |        THEN 1 ELSE -1 END)
       |    ) >= 0 THEN '1' ELSE '0' END),
       |  '')""".stripMargin
}
