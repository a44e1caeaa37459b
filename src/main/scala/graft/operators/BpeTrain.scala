package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.trace.Span

/** Distributed BPE (byte-pair-encoding) tokenizer TRAINING — learning
  * the merge table from the corpus itself, the step upstream of every
  * "count tokens" operation in an LLM pipeline.
  *
  * Algorithm (Sennrich et al. 2016, word-internal BPE): start from
  * whitespace words split into character symbols; each round, count
  * adjacent symbol pairs corpus-wide, merge the most frequent pair
  * everywhere, repeat. Ties break deterministically (max count, then
  * lexicographically smallest pair) so the learned vocabulary is
  * reproducible run-over-run and engine-over-engine.
  *
  * Scale shape: the corpus state is a Dataset of per-word symbol
  * arrays, partitioned across executors and NEVER collected. One round
  * = one map-side pair explode + a partial-aggregated count shuffle of
  * O(distinct pairs) rows + a 1-row argmax collect + one narrow map
  * applying the merge. Words are deduplicated up front with
  * multiplicities (classic BPE trick): pair counts weight by word
  * frequency, so the per-round work is O(distinct words), not
  * O(corpus) — at 100 TB the distinct-word table is orders of
  * magnitude smaller than the corpus and the rounds never touch the
  * raw text again. Lineage is truncated with an eager localCheckpoint
  * per round so round k starts from materialized blocks, never a
  * k-deep map chain.
  *
  * The merge APPLY step is an executor-local imperative kernel (the
  * HNSW-kernel precedent: genuinely sequential per-row work), one
  * left-to-right greedy pass per word — O(len) per round, allocation-
  * light, no quadratic array rebuilding inside Catalyst aggregates.
  */
object BpeTrain {

  /** One learned merge: rank = merge order (0-based). */
  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** Split a word into CODE POINT symbols — never UTF-16 code units: a
    * lone surrogate from a split non-BMP char (emoji, CJK-ext) would be
    * corrupted to '?' by the UTF-8 round-trip through Spark's
    * UTF8String, silently merging counts of every non-BMP character. */
  private[operators] def codePointSymbols(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Greedy left-to-right application of one merge to a symbol array —
    * non-overlapping, leftmost-first (the standard BPE apply). The
    * overwhelmingly common case as training proceeds is "pair absent":
    * a scan-first pass keeps it allocation-free. */
  private[operators] def applyMerge(
      syms: Array[String], left: String, right: String): Array[String] = {
    val n = syms.length
    if (n < 2) return syms
    var first = -1
    var s = 0
    while (first < 0 && s < n - 1) {
      if (syms(s) == left && syms(s + 1) == right) first = s
      s += 1
    }
    if (first < 0) return syms
    val out = new Array[String](n)
    System.arraycopy(syms, 0, out, 0, first)
    var i = first
    var o = first
    while (i < n) {
      if (i + 1 < n && syms(i) == left && syms(i + 1) == right) {
        out(o) = left + right
        i += 2
      } else {
        out(o) = syms(i)
        i += 1
      }
      o += 1
    }
    java.util.Arrays.copyOfRange(out, 0, o)
  }

  /** Signed pair-count deltas one word contributes when its symbols go
    * `oldS -> newS` with multiplicity `n`: every adjacent pair of oldS
    * at -n, every adjacent pair of newS at +n, netted within the word.
    * Only pairs whose count actually changes survive — for a typical
    * merge that is a handful of rows per AFFECTED word and zero for the
    * (overwhelming majority of) untouched words. */
  private[operators] def pairDeltas(oldS: Array[String], newS: Array[String],
                                    n: Long): Array[(String, String, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
    var i = 0
    while (i < oldS.length - 1) {
      m.updateWith((oldS(i), oldS(i + 1)))(v => Some(v.getOrElse(0L) - n)); i += 1
    }
    i = 0
    while (i < newS.length - 1) {
      m.updateWith((newS(i), newS(i + 1)))(v => Some(v.getOrElse(0L) + n)); i += 1
    }
    m.iterator.collect { case ((l, r), d) if d != 0L => (l, r, d) }.toArray
  }

  /** UTF-8 byte order (== code-point order) — the tie-break contract;
    * matches Spark's UTF8String binary comparison on the distributed
    * path. */
  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** Driver-local BPE over the AGGREGATED word table — the classic
    * sequential algorithm with an inverted pair->words index, so a
    * round touches only the words containing the merged pair. This is
    * the regime-router insight applied to training: the CORPUS is
    * cluster-sized (the one-shuffle word aggregation upstream), but
    * the distinct-word state is vocab-sized — hundreds of MB at 1e7
    * words — and the optimal engine for vocab-sized sequential state
    * is one machine, not a per-round distributed pass. Argmax is a
    * scan over the pair-count map per round (fine into the thousands
    * of merges; a lazy-deletion heap is the named upgrade if merge
    * counts grow beyond that). Semantics identical to the distributed
    * loop, tie-break included (spec-pinned both ways). */
  private[operators] def trainLocal(words: Array[(Array[String], Long)],
                                    nMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    val syms = words.map(_._1.clone())
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def indexWord(i: Int): Unit = {
      val w = syms(i); val n = words(i)._2
      var j = 0
      while (j < w.length - 1) {
        val p = (w(j), w(j + 1))
        counts(p) = counts.getOrElse(p, 0L) + n
        where.getOrElseUpdate(p, mutable.BitSet.empty) += i
        j += 1
      }
    }
    def unindexWord(i: Int): Unit = {
      val w = syms(i); val n = words(i)._2
      var j = 0
      while (j < w.length - 1) {
        val p = (w(j), w(j + 1))
        val c = counts(p) - n
        if (c == 0L) { counts.remove(p); where.remove(p) }
        else {
          counts(p) = c
          // membership cleared lazily: a stale index in where(p) is
          // re-checked at merge time (the word may still contain p
          // via another position, so eager removal would need a scan
          // anyway)
        }
        j += 1
      }
    }
    var i = 0
    while (i < syms.length) { indexWord(i); i += 1 }

    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    while (rank < nMerges && counts.nonEmpty) {
      var bl: String = null; var br: String = null; var bf = -1L
      counts.foreach { case ((l, r), f) =>
        if (f > bf || (f == bf && (utf8Lt(l, bl) ||
            (l == bl && utf8Lt(r, br))))) { bl = l; br = r; bf = f }
      }
      merges += Merge(rank, bl, br, bf)
      val hits = where.getOrElse((bl, br), mutable.BitSet.empty).toArray
      var h = 0
      while (h < hits.length) {
        val w = hits(h)
        val ns = applyMerge(syms(w), bl, br)
        if (!(ns eq syms(w))) { // stale index entries skip here
          unindexWord(w)
          syms(w) = ns
          indexWord(w)
        }
        h += 1
      }
      counts.remove((bl, br)); where.remove((bl, br))
      rank += 1
    }
    merges.toSeq
  }

  /** Learn `nMerges` merges from `docs(textCol)`. Whitespace-word BPE:
    * merges never cross word boundaries. Returns merges in rank order.
    *
    * REGIME-ROUTED (the containment-router pattern applied to
    * training): the corpus-sized work — word aggregation with
    * multiplicities — always runs distributed; the per-round merge
    * loop runs DRIVER-LOCAL with an inverted pair index whenever the
    * distinct-word table fits (`localVocabThreshold`, default 2M
    * words ~ a few hundred MB), because a round there touches only
    * the affected words instead of a full vocab pass. Beyond the
    * threshold the distributed incremental loop below takes over.
    *
    * INCREMENTAL pair counting (the standard delta trick): the full
    * corpus-wide pair count is paid ONCE, then each round's merge-apply
    * pass emits signed deltas only for the words that contained the
    * merged pair, and the running pair-count frame absorbs them. Per
    * round the shuffle is O(changed pairs) + the count-frame merge —
    * not a re-explode + re-count of every word (which at vocab 10^7 and
    * hundreds of merges is rounds x full-corpus shuffles for counts
    * that overwhelmingly did not change).
    *
    * Tie-break ordering contract: (freq DESC, left ASC, right ASC)
    * where the string comparisons are Spark's UTF8String BINARY order —
    * i.e. UTF-8 BYTE order, equivalently code-POINT order. This differs
    * from Java String's UTF-16 code-UNIT order only when a non-BMP
    * symbol ties with a BMP symbol in U+E000..U+FFFF; the spec's
    * single-node reference compares by code point to match. */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
            localVocabThreshold: Long = 2000000L): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._

    // distinct words with multiplicity; then code-point-split once.
    // localCheckpoint (not persist): a persisted Dataset still CHAINS
    // its logical plan, so k rounds of .map would nest k plans deep
    // (O(k) analysis per round, driver stack overflow at real vocab
    // sizes) and a lost cached partition would replay every round from
    // the raw words. localCheckpoint truncates the plan to the
    // materialized blocks; superseded rounds are freed by the
    // ContextCleaner when their reference drops — including when a
    // mid-training failure unwinds the loop. (Known trade-off, already
    // recorded in BASELINE.md: localCheckpoint blocks are evictable
    // under memory pressure; a production-scale run with tens of
    // thousands of merges wants reliable checkpoint() against a
    // checkpoint dir instead.)
    var state = Span.run("bpe.vocab")(docs
      .select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .as[(String, Long)]
      .map { case (w, n) => (codePointSymbols(w), n) }
      .localCheckpoint(true))

    // route: vocab-sized state on one machine when it fits (a round
    // then touches only affected words); distributed loop beyond.
    // The gate is rows AND estimated bytes: per-word driver cost is the
    // symbol array, not a constant, so a 2M-word corpus of long words
    // could blow the driver heap under the row threshold alone. One
    // narrow reduce over the checkpointed state prices the collect
    // (~48 B tuple/count overhead per word + ~64 B per symbol String —
    // a conservative JVM object model), and the budget is a quarter of
    // the driver heap, leaving room for trainLocal's inverted
    // pair->words index (same order as the state itself).
    val statsRow = Span.run("bpe.route")(state.toDF("syms", "n")
      .agg(count(lit(1)).as("words"),
        coalesce(sum(size(col("syms"))), lit(0L)).as("symbols"))
      .head)
    val (nWords, totalSyms) = (statsRow.getLong(0), statsRow.getLong(1))
    val estLocalBytes = nWords * 48L + totalSyms * 64L
    val localBudget = Runtime.getRuntime.maxMemory / 4
    if (nWords <= localVocabThreshold && estLocalBytes <= localBudget)
      return Span.run("bpe.local")(trainLocal(state.collect(), nMerges))

    // the ONE full corpus-wide pair count — every later round merges
    // signed deltas into this frame instead of recounting
    var pairCounts = Span.run("bpe.pairs")(state
      .flatMap { case (syms, n) =>
        if (syms.length < 2) Iterator.empty
        else (0 until syms.length - 1).iterator
          .map(i => (syms(i), syms(i + 1), n))
      }
      .toDF("l", "r", "n")
      .groupBy(col("l"), col("r")).agg(sum(col("n")).as("freq"))
      .localCheckpoint(true))

    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    var chainDepth = 0
    val ckptEvery = 6
    while (rank < nMerges && !done) Span.run("bpe.round") {
      // argmax over the RUNNING counts with the deterministic
      // (freq desc, left asc, right asc) tie-break — a 1-row collect
      val top = pairCounts
        .orderBy(col("freq").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val row = top(0)
        val (left, right, freq) =
          (row.getString(0), row.getString(1), row.getLong(2))
        merges += Merge(rank, left, right, freq)
        // ONE pass applies the merge AND emits each affected word's
        // signed pair deltas (applyMerge returns the original array
        // reference when the pair is absent — the eq check makes the
        // untouched-word case allocation- and delta-free). The eager
        // localCheckpoint materializes the pass once for its two
        // consumers (next state + delta extraction) and truncates the
        // plan so round k+1 never replays round k.
        // State stays LAZY: the merge-apply is a narrow kernel chained
        // onto the last checkpoint, so a round costs ONE evaluated job
        // (the delta scan below) instead of a full state
        // rewrite-and-read-back. Every ckptEvery rounds the chain is
        // truncated with an eager checkpoint — bounding both plan depth
        // and the kernel re-application the delta scans pay.
        val prev = state
        state = prev.map { case (syms, n) => (applyMerge(syms, left, right), n) }
        chainDepth += 1
        // signed deltas from the words the merge touched — the ONLY
        // per-round full pass over the word state
        val delta = prev
          .flatMap { case (syms, n) =>
            val ns = applyMerge(syms, left, right)
            if (ns eq syms) Iterator.empty else pairDeltas(syms, ns, n).iterator
          }
          .toDF("l", "r", "freq")
        // merge deltas in; counts netted to zero leave the frame (freq
        // can never go negative — a delta only subtracts what was
        // counted). The union-groupBy shuffles O(|pairCounts| + |delta|)
        // narrow rows — no re-explode of the word table. The eager
        // checkpoint here is what forces the delta scan.
        pairCounts = pairCounts.unionByName(delta)
          .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("freq"))
          .filter(col("freq") > 0)
          .localCheckpoint(true)
        if (chainDepth >= ckptEvery) {
          state = state.localCheckpoint(true)
          chainDepth = 0
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** The merge table as a DataFrame (rank, left, right, freq) — the
    * catalog/serving shape. */
  def mergesDF(spark: SparkSession, docs: DataFrame, textCol: String,
               nMerges: Int): DataFrame = {
    import spark.implicits._
    train(docs, textCol, nMerges)
      .map(m => (m.rank.toLong, m.left, m.right, m.freq))
      .toDF("rank", "left", "right", "freq")
  }

  /** Tokenize with a learned merge table: merges applied in rank order
    * per word (how the trained vocab is USED downstream). */
  def encodeWord(word: String, merges: Seq[Merge]): Array[String] = {
    var syms = codePointSymbols(word)
    merges.foreach(m => syms = applyMerge(syms, m.left, m.right))
    syms
  }
}
