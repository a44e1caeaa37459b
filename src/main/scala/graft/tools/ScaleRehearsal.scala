package graft.tools

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.hnsw.{HnswCodes, HnswDistributed, HnswParams, HnswRouted, HnswRoutedCodes,
  HnswRoutedPq, LocalRoutedTier}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.hnsw.HnswParams.uniformFromHash
import graft.trace.Collector

/** Scale rehearsal (not part of the library surface): a table of rungs,
  * each a seeded [[ScaleRehearsal.Corpus]], the operator or index
  * lifecycle it drives, and one line measured under one span —
  * `REHEARSAL <label> n= out_rows= shuffle_records= wall= ...`, shuffle
  * records straight from TaskMetrics, not projections — plus
  * `REHEARSAL_PHASE` lines that keep a long rung's completed legs.
  *
  * `ScaleRehearsal <n[,n...]> [rung,rung...]` runs the named rungs (all
  * but `containment_uncapped` when none is named) at each n. The command
  * line is checked before any rung runs: an unknown name exits 2 and
  * lists the known ones, and a rung below its minimum n prints
  * `REHEARSAL_SKIP`. One decade rule stands in for per-rung switches: at
  * n >= 1e8 the O(rebuild) and O(image) legs skip.
  *
  * The dedup rungs' claim: candidate/shuffle volume grows ~linearly as
  * n grows (the caps bite), never quadratically (what the uncapped
  * operators would do). Each index rung states its own claim.
  */
object ScaleRehearsal {

  /** The rehearsal's seeded corpora, one generator each; specs draw the
    * same ones, bit for bit. */
  object Corpus {
    val Dim = 64

    /** Vocabulary SCALES with corpus size (Heaps' law posture): with a
      * fixed vocab, background per-word document frequency grows ~n/vocab
      * and at n=100k every 1-word shingle sat just under the df cap,
      * yielding ~1e9 "legitimate" background pairs (66 GB of single-node
      * spill) — a corpus artifact real text doesn't have. Keeping vocab
      * proportional to n pins background df (~15) across scales so the
      * rehearsal measures the PLANTED structure's scaling. */
    private def word(h: Long, vocab: Long): String = {
      val n = ((h % vocab) + vocab) % vocab
      s"w$n"
    }

    /** Seeded doc text: `len` tokens drawn from a hash stream. */
    private def tokens(seed: Long, len: Int, vocab: Long): Seq[String] =
      (0 until len).map(i =>
        word(seed * 6364136223846793005L + i * 1442695040888963407L, vocab))

    /** The testdata generator's dup structure: ~60% unique docs, ~20%
      * near-verbatim mirrors (a contained copy inside boilerplate), ~20%
      * sharing a long boilerplate run (substring spans). */
    def mkDocs(spark: SparkSession, n: Int): DataFrame = {
      val vocab = math.max(99991L, n.toLong * 15)
      val boiler = tokens(99L, 80, vocab) // the shared boilerplate run
      val rows = (0 until n).map { i =>
        val base = tokens(i.toLong * 31 + 7, 120 + (i % 5) * 30, vocab)
        val kind = i % 10
        val text =
          if (kind <= 5) base // unique
          else if (kind <= 7) {
            // mirror: a KIND-0 (always-unique) doc wrapped in small unique
            // boilerplate — i-kind lands on kind 0, so the planted pair
            // structure is identical at every scale (no mirror chains)
            val src = tokens(((i - kind).toLong max 0L) * 31 + 7, 120, vocab)
            (tokens(i.toLong + 5000, 10, vocab) ++ src ++
              tokens(i.toLong + 9000, 10, vocab))
          } else base.take(40) ++ boiler ++ base.drop(40) // shared long run
        (i.toLong, text.mkString(" "))
      }
      import spark.implicits._
      rows.toDF("doc_id", "text").repartition(32)
    }

    /** Uniform embeddings, every tenth a 0.05-perturbed near-dup of its
      * neighbour (n/10 planted pairs). */
    def mkVecs(spark: SparkSession, n: Int): DataFrame = {
      val rows = (0 until n).map { i =>
        val srcId = if (i % 10 == 9) i - 1 else i
        val eps = if (i % 10 == 9) 0.05f else 0.0f
        val v = Array.tabulate(Dim)(d =>
          noise(srcId.toLong * 131 + d) +
            eps * (uniformFromHash(i.toLong * 31 + d, 23L) * 2.0 - 1.0).toFloat)
        (i.toLong, v)
      }
      import spark.implicits._
      rows.toDF("vec_id", "embedding").repartition(32)
    }

    /** Uniform in [-1, 1) from the member-noise stream (seed 17). */
    private def noise(h: Long): Float = (uniformFromHash(h, 17L) * 2.0 - 1.0).toFloat

    /** Uniform float vector `id`. */
    def uniform(id: Long): Array[Float] = Array.tabulate(Dim)(d => noise(id * 131 + d))

    /** Member `id` of planted cluster `c`: the center draws each
      * coordinate in [-10, 10) from `(c * 997 + d, 77)`, the member adds
      * `scale` x uniform noise from `(id * 131 + d, 17)`. */
    def planted(id: Long, c: Int, scale: Float = 1f): Array[Float] =
      Array.tabulate(Dim)(d =>
        (uniformFromHash(c.toLong * 997 + d, 77L) * 20.0 - 10.0).toFloat +
          scale * noise(id * 131 + d))

    /** Geometric cluster-mass skew: cluster c holds ~2^-(c+1) of the ids,
      * 16 clusters. */
    def geometricCluster(id: Long): Int = {
      val u = uniformFromHash(id, 41L)
      math.min(15, (-math.log(math.max(1e-12, 1.0 - u)) / math.log(2.0)).toInt)
    }

    /** Two-level merged geometry: sub-cluster `g`'s center is its super
      * `g / 2` (coordinates in ±40) plus its own offset (±6). */
    def subCenter(g: Int): Array[Float] = {
      val sup = g / 2
      Array.tabulate(Dim)(d =>
        (((uniformFromHash(sup.toLong * 997 + d, 77L) * 2 - 1) * 40.0) +
         ((uniformFromHash(1000L + g.toLong * 31 + d, 99L) * 2 - 1) * 6.0)).toFloat)
    }

    /** Member `id` of sub-cluster `id % nSub`. */
    def merged(id: Long, nSub: Int): Array[Float] = {
      val c = subCenter((id % nSub).toInt)
      Array.tabulate(Dim)(d => c(d) + noise(id * 131 + d))
    }

    /** Anchored u64 code: cluster `id % nCells`'s anchor with 12 seeded
      * bit flips. Flip entropy matters for the SELF-MATCH stat: at 4 flips
      * the ~C(64,4) code space collides at 1e6 rows/cluster (distinct ids
      * share a code, a 0-distance tie answers with the other id and reads
      * as a miss); C(64,12) ~ 3e12 keeps collisions negligible through 1e8
      * while anchors stay ~32 bits apart. */
    def anchored(id: Long, nCells: Int): Long = {
      var code = java.lang.Double.doubleToRawLongBits(
        uniformFromHash((id % nCells).toInt.toLong, 77L))
      var k = 0
      while (k < 12) {
        val bit = (uniformFromHash(id * 13 + k, 13L) * 64).toInt.min(63)
        code ^= (1L << bit)
        k += 1
      }
      code
    }

    /** The splitmix-style scrambled code of `id`: a wrapping multiply-add,
      * so a typed map, not a SQL expression (ANSI mode rejects the wrap). */
    def splitmixCode(id: Long): Long = id * -7046029254386353131L + 6364136223846793005L

    /** SplitMix64's finalizer. */
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }

    /** Two-mode code in Hamming space: far supers `g / 2`, the sub-mode
      * `g % 2` flips one byte, plus two noise bits. */
    def twoMode(id: Long, nSub: Int): Long = {
      val g = (id % nSub).toInt
      val mode = mix(0xC0DEL + g / 2) ^ (0xFFL << ((g % 2) * 8))
      val n1 = (mix(id * 31L + 7L) & 63L).toInt
      val n2 = (mix(id * 57L + 11L) & 63L).toInt
      mode ^ (1L << n1) ^ (1L << n2)
    }

    /** A generator as Spark rows `(id, col)`; queries are `(qid, "q" + col)`. */
    final class Rows[Q](col: String, gen: Long => Q)(implicit enc: Encoder[(Long, Q)]) {
      /** Ids `[from, until)`, generated by a Spark job. */
      def range(spark: SparkSession, from: Long, until: Long): DataFrame = {
        val g = gen
        spark.range(from, until).as(Encoders.scalaLong).map(id => (id, g(id))).toDF("id", col)
      }
      /** `ids`, generated on the driver; `prefix` "q" names a query frame. */
      def of(spark: SparkSession, ids: Seq[Long], prefix: String = ""): DataFrame =
        spark.createDataset(ids.map(id => (id, gen(id)))).toDF(prefix + "id", prefix + col)
      /** A pinned query frame over `ids`. */
      def queries(spark: SparkSession, ids: Seq[Long]): DataFrame =
        of(spark, ids, "q").localCheckpoint(true)
    }
    def floats(gen: Long => Array[Float]): Rows[Array[Float]] = new Rows("vec", gen)(Encoders.product)
    def codes(gen: Long => Long): Rows[Long] = new Rows("code", gen)(Encoders.product)
  }

  import Corpus.{floats, codes}

  /** One row of the table: the command-line `name`, the `label` its line
    * prints, its cell-count ladder, the n from which its index persists
    * DISK_ONLY, the smallest n it runs at, whether it runs only when
    * named, and the shared input it reads ("docs" / "vecs"). */
  private[graft] final case class Rung(name: String, label: String, cells: Int => Int = _ => 0,
      diskFrom: Long = Long.MaxValue, minN: Long = 0L, namedOnly: Boolean = false,
      reads: String = "")(val body: Ctx => (Long, String))

  /** A rung's run state at scale `n`. */
  private[graft] final class Ctx(val spark: SparkSession, val n: Int, val base: String,
      val rung: Rung, emit: String => Unit, collector: Collector) {
    val cells: Int = rung.cells(n)
    val storage: StorageLevel =
      if (n >= rung.diskFrom) StorageLevel.DISK_ONLY else StorageLevel.MEMORY_AND_DISK
    /** The decade rule: at n >= 1e8 the O(rebuild) and O(image) legs skip. */
    val decade8: Boolean = n >= 100000000
    def phase(line: String): Unit = emit("REHEARSAL_PHASE " + line)
    def measure[A](name: String)(f: => A): (A, graft.trace.Record) = collector.measure(name)(f)
    def docs: DataFrame = spark.read.parquet(s"$base/docs")
    def vecs: DataFrame = spark.read.parquet(s"$base/vecs")
  }

  /** Cell counts by decade: `base` below the first step. Code cells stay
    * ~100k rows (per-cell graphs materialize in executor memory, so cell
    * size, not n, is the envelope). */
  private def ladder(base: Int, steps: (Long, Int)*): Int => Int =
    n => steps.filter(n >= _._1).lastOption.fold(base)(_._2)
  private val CodeCells = ladder(64, 10000000L -> 256, 100000000L -> 1024)
  private val FloatCells = ladder(64, 10000000L -> 256)
  private val MergedCells = ladder(16, 10000000L -> 64)
  private def fixed(c: Int): Int => Int = _ => c

  private val Cosine = BuildConfig(HnswParams.standard(64, 32, 16), "cosine", seed = 9L)
  private val L2 = BuildConfig(HnswParams.standard(64, 32, 16), "l2", seed = 9L)
  private val CodeParams = HnswParams.standard(64, 32, 16)

  private def plantedRows(nCells: Int) = floats(id => Corpus.planted(id, (id % nCells).toInt))
  private def anchoredRows(nCells: Int) = codes(id => Corpus.anchored(id, nCells))
  private def mergedRows(nSub: Int) = floats(id => Corpus.merged(id, nSub))

  /** The rungs, in run order. */
  private[graft] lazy val rungs: Seq[Rung] = Seq(
    Rung("annserve", "ann_serve_hamming")(annServe),
    Rung("annserve_float", "ann_serve_float")(annServeFloat),
    Rung("containment", "containment_df200", reads = "docs")(containment),
    Rung("containment_uncapped", "containment_uncapped", namedOnly = true, reads = "docs") { c =>
      (graft.operators.Containment.pairs(c.docs, shingleLen = 8, num = 4, den = 5).count(), "")
    },
    Rung("asof", "asof_window") { c =>
      asofLine(graft.operators.AsofJoin.backward(asofFacts(c), asofTicks(c, c.n.toLong / 4),
        "k", "rk", "t", "rt"))
    },
    Rung("asof", "asof_bcast") { c =>
      asofLine(graft.operators.AsofJoin.backwardBroadcast(asofFacts(c), asofTicks(c, 65536L),
        "k", "rk", "t", "rt"))
    },
    Rung("routed", "ann_routed", fixed(64)) { c =>
      probeSweep(c, HnswRouted, plantedRows(c.cells), probe = 4, per = 1000, cellsKey = false)(
        HnswRouted.build(_, Cosine, c.cells)) { (index, q, qIds) =>
        // the dense-cell recall knob: same fan-out, wider in-cell beam
        val (wide, wideS) = timed(selfRows(HnswRouted.search(index, q, 1, nProbe = 4, ef0 = 128)))
        f"probe4_ef128_s=$wideS%.2f self_match_ef128=${pct(wide, qIds.length)}"
      }
    },
    Rung("routed_durable", "ann_routed_durable", fixed(64)) { c =>
      durableTrip(c, HnswRouted, plantedRows(c.cells), probe = 4, per = 1000, "routed_idx",
        decadeTier = false)(HnswRouted.build(_, Cosine, c.cells))
    },
    Rung("routed_skew", "ann_routed_skew", fixed(16))(routedSkew),
    Rung("routed_hamming", "ann_routed_hamming", CodeCells) { c =>
      val rows = anchoredRows(c.cells)
      probeSweep(c, HnswRoutedCodes, rows, probe = 8, per = 2000, cellsKey = true)(
        HnswRoutedCodes.build(_, CodeParams, c.cells, seed = 42L)) { (index, _, qIds) =>
        // SINGLE-query latency: with partition pruning this schedules
        // nProbe tasks instead of nCells — the serving floor the 1e8
        // rung exposed (at 1024 cells a batch pass pays 1024 launches)
        val q1 = rows.queries(c.spark, qIds.take(1))
        def serve1(): Unit = drain(HnswRoutedCodes.search(index, q1, 1, nProbe = 8))
        serve1() // warm
        f"single_q_probe8_s=${best(3)(serve1())._2}%.3f"
      }
    },
    // 1e8 in LOCAL mode: the durable round trip transiently holds TWO
    // full indexes (restored + merged during ingest), ~60 GB of CSR
    // graphs no single local heap should hold — DISK_ONLY is that
    // regime's lever; a cluster spreads the same bytes.
    Rung("routed_codes_durable", "ann_routed_codes_durable", CodeCells, diskFrom = 100000000L) { c =>
      durableTrip(c, HnswRoutedCodes, anchoredRows(c.cells), probe = 8, per = 2000,
        "routed_codes_idx", decadeTier = true)(
        HnswRoutedCodes.build(_, CodeParams, c.cells, seed = 42L, storage = c.storage))
    },
    Rung("routed_delete", "ann_routed_delete", CodeCells) { c =>
      deleteLifecycle(c, HnswRoutedCodes, anchoredRows(c.cells), full = true)(
        HnswRoutedCodes.build(_, CodeParams, c.cells, seed = 42L))
    },
    // 256 B vectors instead of 8 B codes: the memory-heavy tier, where
    // the compaction copy-through costs proportionally more
    Rung("routed_delete_float", "ann_routed_delete_float", FloatCells) { c =>
      deleteLifecycle(c, HnswRouted, plantedRows(c.cells), full = false)(
        HnswRouted.build(_, Cosine, c.cells))
    },
    Rung("routed_distrib", "ann_routed_distrib", FloatCells,
      minN = HnswRouted.DriverRouteMax + 1L)(routedDistrib),
    Rung("merged_remedy", "ann_merged_remedy", MergedCells) { c =>
      val rows = mergedRows(2 * c.cells)
      mergedRemedy(c, HnswRouted, rows, rows, reps = 2, settle = false,
        Seq("modality_build_s", "split_parents", "flag_tomb_overhead", "flag_tomb_s",
          "flag_plain_s"))((df, m) => HnswRouted.build(df, L2, c.cells, modalitySplit = m),
        "split_parents" -> _.router.sub.size, _ => ())
    },
    Rung("merged_remedy_codes", "ann_merged_remedy_codes", MergedCells) { c =>
      val nSub = 2 * c.cells
      // dead-side queries: perturbed members of the mode about to die
      mergedRemedy(c, HnswRoutedCodes, codes(Corpus.twoMode(_, nSub)),
        codes(id => Corpus.twoMode(id, nSub) ^ (1L << 3)), reps = 3, settle = true,
        Seq("flag_tomb_overhead"))(
        (df, m) => HnswRoutedCodes.build(df, CodeParams, c.cells, modalitySplit = m),
        i => "split_anchors" -> (i.anchors.length - c.cells), deadDistribution(c))
    },
    Rung("merged_remedy_pq", "ann_merged_remedy_pq", MergedCells)(mergedRemedyPq),
    Rung("warmup", "ann_serving_warmup", MergedCells, diskFrom = 0L)(warmup),
    Rung("pq_solo_build", "ann_pq_solo_build", FloatCells, diskFrom = 10000000L)(pqSoloBuild),
    Rung("pq_save_attach", "ann_pq_save_attach", FloatCells, diskFrom = 10000000L)(pqSaveAttach),
    Rung("routed_pq", "ann_routed_pq", FloatCells)(routedPq),
    Rung("autoef", "autoef_sweep")(autoEf),
    Rung("routed_restart", "ann_routed_restart", fixed(64))(routedRestart),
    Rung("evictstorm", "ann_evict_storm", CodeCells)(evictStorm),
    Rung("cms", "cms_sketch")(cms),
    Rung("kmv", "kmv_sketch")(kmv),
    Rung("pack", "pack_sequences")(pack),
    Rung("spans", "substring_spans", reads = "docs") { c =>
      (graft.operators.SubstringDedup.duplicatedSpans(c.docs, "text", "doc_id", minTokens = 20)
        .count(), "")
    },
    Rung("lsh", "neardup_lsh_planned", reads = "vecs")(lsh))

  /** The distinct rung names. */
  def known: Seq[String] = rungs.map(_.name).distinct

  /** The scales and rungs a command line asks for, or why it is refused. */
  private[graft] def plan(args: Seq[String]): Either[String, (Seq[Int], Seq[Rung])] = {
    val scales = args.headOption.fold(Seq(1000, 10000))(
      _.split(",").toSeq.map(_.toIntOption.getOrElse(0)))
    val names = args.lift(1).map(_.split(",").toSeq)
    val unknown = names.getOrElse(Nil).filterNot(known.contains)
    if (scales.exists(_ <= 0)) Left(s"scales must be positive integers, got '${args.head}'")
    else if (unknown.nonEmpty)
      Left(s"unknown rung ${unknown.mkString(",")}; known: ${known.mkString(",")}")
    else Right(scales -> names.fold(rungs.filterNot(_.namedOnly))(ns => rungs.filter(r => ns.contains(r.name))))
  }

  def main(args: Array[String]): Unit = plan(args.toSeq) match {
    case Left(why) =>
      System.err.println(s"ScaleRehearsal: $why")
      sys.exit(2)
    case Right((scales, selected)) =>
      val spark = graft.SparkEntry.localSession("32")
      scales.foreach(n => rehearse(spark, n, selected, s"/tmp/graft-rehearsal-$n"))
      spark.stop()
  }

  /** Runs `selected` at scale `n` over scratch directory `base`, printing
    * each line as it lands; returns the lines. */
  private[graft] def rehearse(spark: SparkSession, n: Int, selected: Seq[Rung],
                              base: String): Seq[String] = {
    val lines = mutable.ArrayBuffer.empty[String]
    def emit(line: String): Unit = { println(line); lines += line }
    val collector = Collector.install(spark.sparkContext)
    val (run, skip) = selected.partition(n >= _.minN)
    skip.foreach(r => emit(s"REHEARSAL_SKIP ${r.name} n=$n min_n=${r.minN}"))
    // durable inputs, not localCheckpoint: under heavy execution-memory
    // pressure (the 100k-doc containment shuffle) Spark can evict
    // non-replicated checkpoint blocks, which are unrecoverable — a
    // parquet round trip keeps them re-readable. Written only when a
    // selected rung reads them: driver-side doc synthesis would dominate
    // the 1e6 index rungs.
    Seq("docs" -> Corpus.mkDocs _, "vecs" -> Corpus.mkVecs _).foreach { case (in, mk) =>
      if (run.exists(_.reads == in)) mk(spark, n).write.mode("overwrite").parquet(s"$base/$in")
    }
    run.foreach { r =>
      System.gc()
      val ((outRows, extra), span) =
        collector.measure(r.label)(r.body(new Ctx(spark, n, base, r, emit, collector)))
      emit(f"REHEARSAL ${r.label} n=$n out_rows=$outRows " +
        f"shuffle_records=${span.total.shuffleWriteRecords} wall=${span.seconds}%.2fs $extra")
    }
    lines.toSeq
  }

  // ---- rung plumbing ----

  /** `f`'s value and wall seconds: the rehearsal's one clock. */
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def secs(f: => Any): Double = timed(f)._2

  /** The fastest of `reps` timed runs of `f`, with that run's value:
    * single-shot serving on a shared host carries contention windows
    * (the bench grid's min-of-N protocol). */
  private def best[A](reps: Int)(f: => A): (A, Double) = Seq.fill(reps)(timed(f)).minBy(_._2)

  /** Warm once, then the best of `reps`; `settle` first collects garbage
    * (post-build allocation noise dominated a first cut of sub-second
    * serves). */
  private def warmBest(reps: Int, settle: Boolean)(f: => Any): Double = {
    if (settle) System.gc()
    f
    best(reps)(f)._2
  }

  /** Runs a serve to completion without collecting it. */
  private def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Served rows whose hit is the query itself. */
  private def selfRows(df: DataFrame): Long = df.filter(col("qid") === col("id")).count()

  private def pct(k: Long, of: Long): String = f"${k * 100.0 / of}%.1f%%"

  private def ratio(a: Double, b: Double): String = f"${a / math.max(1e-9, b)}%.1fx"

  /** Ids below `n` at stride max(1, n / per), the first `take` that
    * `keep` admits. */
  private def stride(n: Long, per: Long, take: Int, keep: Long => Boolean = _ => true): Seq[Long] =
    (0L until n by math.max(1L, n / per)).filter(keep).take(take)

  /** Survivor queries: members of clusters >= 3, which the cell-local
    * deletion of clusters 0..2 leaves untouched. */
  private def survivors(n: Long, nCells: Int): Seq[Long] = stride(n, 4000, 2000, _ % nCells >= 3)

  /** Members of wiped cluster 0: exclusion probes. */
  private def wiped(n: Long, nCells: Int): Seq[Long] = stride(n, 500, 500, _ % nCells == 0)

  private def cachedBytes(spark: SparkSession, name: String): Long =
    spark.sparkContext.getRDDStorageInfo.filter(_.name == name).map(i => i.memSize + i.diskSize).sum

  /** A PQ serve's top-1 (self, same-cluster) counts. Cluster-match is the
    * honest compressed-tier recall metric: the planted clusters are
    * quantization TWINS (intra-cluster spacing ~ the ADC error), so
    * exact-id recall through 8-byte codes is information-theoretically
    * capped at ~candidates/clusterSize; exact-id exactness at
    * k << candidates is the catalog rows' claim, proven by re-rank
    * against the DuckDB oracle. */
  private def pqMatch(index: HnswRoutedPq.RoutedPqIndex, q: DataFrame, vecs: DataFrame,
                      nCells: Int): (Long, Long) = {
    val top = HnswRoutedPq.search(index, q, vecs, k = 1, nProbe = 8, candidates = 64)
      .select(col("qid"), col("id")).collect()
    (top.count(r => r.getLong(0) == r.getLong(1)).toLong,
      top.count(r => r.getLong(0) % nCells == r.getLong(1) % nCells).toLong)
  }

  /** ~500 ids of the 2% batch of new ids `[n, n + n/50)`. */
  private def batchIds(n: Long): Seq[Long] =
    (n until n + n / 50 by math.max(1L, (n / 50) / 500)).take(500)

  // ---- rungs ----

  /** Warm a broadcast serve on one query, then time its self-match over
    * all of `q`. */
  private def broadcastSelf(q: DataFrame)(serve: (DataFrame, Int) => DataFrame): (Long, Double) = {
    drain(serve(q.limit(1), 10))
    timed(selfRows(serve(q, 1)))
  }

  private def selfLine(hits: Long, buildS: Double, nq: Long, searchS: Double): (Long, String) =
    (hits, f"build_s=$buildS%.1f search_${nq}q_s=$searchS%.2f self_match=${pct(hits, nq)}")

  /** ANN SERVING (round-10): build + serve the Hamming-code HNSW beyond
    * the Criterion grid's 100k — codes are 8 B/row, so n=1e6 is the
    * natural next decade. Recall is self-match over a ~2000-query sample
    * (every inserted code must find itself — the is_match contract). */
  private def annServe(c: Ctx): (Long, String) = {
    val codesDf = codes(Corpus.splitmixCode).range(c.spark, 0L, c.n).localCheckpoint(true)
    val (model, buildS) = timed(HnswCodes.buildBatched(
      codesDf, HnswParams.standard(64, 32, 32), seed = 23L))
    val modelB = HnswCodes.broadcastModel(c.spark, model)
    // stride guarded for n < 2000 (ANSI mode would throw on % 0); the
    // recall denominator is the ACTUAL sampled query count
    val qDf = codesDf.filter(col("id") % math.max(1L, c.n.toLong / 2000) === 0L)
      .limit(2000).toDF("qid", "qcode").localCheckpoint(true)
    val nq = qDf.count()
    val (hits, searchS) = broadcastSelf(qDf)((q, k) => HnswCodes.searchBroadcast(q, modelB, k))
    modelB.destroy()
    selfLine(hits, buildS, nq, searchS)
  }

  /** The float twin of annserve (dim 64, cosine). buildFromArray takes a
    * driver-side Array regardless, so vectors are synthesized on the
    * driver. */
  private def annServeFloat(c: Ctx): (Long, String) = {
    val rows = Array.tabulate(c.n)(i => (i.toLong, Corpus.uniform(i.toLong)))
    val (model, buildS) = timed(HnswDistributed.buildFromArray(c.spark, rows,
      BuildConfig(HnswParams.standard(64, 32, 32), "cosine", seed = 9L)))
    val modelB = HnswDistributed.broadcastModel(c.spark, model)
    val qIds = stride(c.n, 2000, 2000)
    val (hits, searchS) = broadcastSelf(floats(Corpus.uniform).of(c.spark, qIds, "q"))(
      (q, k) => HnswDistributed.searchBroadcast(q, modelB, k))
    modelB.destroy()
    selfLine(hits, buildS, qIds.length, searchS)
  }

  /** The ROUTED containment entry point: the estimate decides exact vs
    * LSH-verified (the r9 finding — 3.31G candidate rows / 445 s at n=1e5
    * through the exact plan on this flat-df corpus). `containment_uncapped`
    * is the counterfactual: the cap OFF, whose boilerplate df^2 pair
    * fan-out widens with n. */
  private def containment(c: Ctx): (Long, String) = {
    var route = ""
    val out = graft.operators.Containment.pairsAuto(
      c.docs, shingleLen = 8, num = 4, den = 5, maxDf = 200, onRoute = route = _)
    val outRows = out.count()
    // on the routed path, also count the candidates the banding admitted
    // (~true-pair order, not the exact plan's Σ C(df,2)) — recomputed
    // standalone, so the run above is unaffected
    val extra = if (route.contains("route=lsh")) {
      val nCand = graft.operators.Containment.minhashCandidates(c.docs, 8, 18, 7).count()
      s"$route lsh_candidates=$nCand"
    } else route
    (outRows, extra)
  }

  /** AS-OF (round-11) fact side: n rows over 1024 keys, integer times. */
  private def asofFacts(c: Ctx): DataFrame = c.spark.range(c.n.toLong).select(col("id").as("lid"),
    pmod(col("id"), lit(1024L)).as("k"),
    pmod(xxhash64(col("id"), lit(1L)), lit(10000000L)).as("t"))

  /** `rows` ticks across the same keys. asof_window's n/4 ticks (both
    * sides large) ride the union+window plan's one key shuffle of l + r
    * rows; asof_bcast's 64k (dimension right) must shuffle the tick side
    * only — the n-row fact side is probed in place. */
  private def asofTicks(c: Ctx, rows: Long): DataFrame = c.spark.range(rows).select(
    col("id").as("rid"), pmod(col("id"), lit(1024L)).as("rk"),
    pmod(xxhash64(col("id"), lit(2L)), lit(10000000L)).as("rt"))
    .dropDuplicates("rk", "rt")

  private def asofLine(out: DataFrame): (Long, String) = (out.filter(col("rid").isNotNull).count(), "")

  /** The routed serving sweep, one body for the float (round-11) and code
    * (round-12) tiers: build, warm at nProbe 1, self-match at `probe` and
    * at the exhaustive nProbe = nCells on a clustered corpus (the regime
    * the router is FOR), then the tier's own leg `tail`. Per-query work
    * should track nProbe/nCells. */
  private def probeSweep(c: Ctx, t: LocalRoutedTier, rows: Corpus.Rows[_], probe: Int, per: Int,
      cellsKey: Boolean)(build: DataFrame => t.I)(
      tail: (t.I, DataFrame, Seq[Long]) => String): (Long, String) = {
    val corpus = rows.range(c.spark, 0L, c.n).localCheckpoint(true)
    val (index, buildS) = timed(build(corpus))
    val qIds = stride(c.n, per, per)
    val q = rows.queries(c.spark, qIds)
    def serve(p: Int): (Long, Double) = timed(selfRows(t.search(index, q, 1, nProbe = p)))
    serve(1) // warm
    val (self, probeS) = serve(probe)
    val fullS = serve(c.cells)._2
    val more = tail(index, q, qIds)
    index.unpersist()
    (self, f"build_s=$buildS%.1f " + (if (cellsKey) s"cells=${c.cells} " else "") +
      f"probe${probe}_s=$probeS%.2f probe${c.cells}_s=$fullS%.2f " +
      s"self_match=${pct(self, qIds.length)} $more")
  }

  /** The restart story, one body for both local tiers (rounds 12-13):
    * build, serve, persist the parquet image, drop the live copy, ATTACH
    * (a parquet scan + CSR assembly — no training, no graph construction)
    * and serve at parity. The claim: attach << build. `decadeTier` (the
    * code tier) prints each leg as it lands — an hour-long decade rung
    * must not lose its completed legs to a crash in a later one, as the
    * first 1e8 attempt lost all of them to the disk envelope in ingest —
    * and then ingests a 5% batch of new ids into the attached copy: cost
    * tracks the batch, the corpus never moves. The ingest is an O(image)
    * leg: at 1e8 the merge holds restored + merged copies (~60 GB) on top
    * of the image, past the 1e8 rehearsal host's disk, so the decade rule
    * skips it. */
  private def durableTrip(c: Ctx, t: LocalRoutedTier, rows: Corpus.Rows[_], probe: Int, per: Int,
      dir: String, decadeTier: Boolean)(build: DataFrame => t.I): (Long, String) = {
    def phase(s: String): Unit = if (decadeTier) c.phase(s"${c.rung.name} n=${c.n} $s")
    val corpus = rows.range(c.spark, 0L, c.n).localCheckpoint(true)
    val (index, buildS) = timed(build(corpus))
    phase(f"build_s=$buildS%.1f")
    val q = rows.queries(c.spark, stride(c.n, per, per))
    def self(i: t.I): Long = selfRows(t.search(i, q, 1, nProbe = probe))
    val before = self(index)
    val saveS = secs(t.save(index, s"${c.base}/$dir"))
    phase(f"save_s=$saveS%.1f")
    index.shards.unpersist(blocking = true)
    val (restored, attachS) = timed(t.attach(c.spark, s"${c.base}/$dir", storage = c.storage))
    val after = self(restored)
    val attached = f"attach_s=$attachS%.1f attach_over_build=${attachS / buildS}%.3f " +
      s"parity=${before == after}"
    phase(attached)
    val ingest =
      if (!decadeTier) ""
      else if (c.decade8) " ingest=skipped"
      else {
        val batch = rows.range(c.spark, c.n, c.n + c.n / 20).localCheckpoint(true)
        val (grown, s) = timed(t.ingest(restored, batch))
        grown.unpersist()
        f" ingest5pct_s=$s%.1f ingest_over_build=${s / buildS}%.3f"
      }
    restored.unpersist()
    (after, f"build_s=$buildS%.1f save_s=$saveS%.1f " + attached + ingest)
  }

  /** The serving lifecycle at scale, one body for both local tiers
    * (round-14). Claims: (1) delete is O(set) handle metadata — no index
    * work; (2) tombstone serving costs a bounded overhead over plain
    * serving; (3) compaction cost is proportional to TOUCHED cells —
    * wiping 3 whole clusters (the "remove one tenant" shape) compacts at
    * ~3/nCells of a rebuild; (4) deleted ids never surface. `full` (the
    * code tier) adds the interleaved plain/one-id/full bracket, the
    * patched compaction, a scattered 1% deletion (touches every cell, so
    * it compacts at ~rebuild cost: the "batch scattered deletes until
    * amortized" discipline, with numbers) and the re-ingest of the freed
    * ids. The scattered compaction and the rebuild reference are
    * O(rebuild) legs the decade rule skips. */
  private def deleteLifecycle(c: Ctx, t: LocalRoutedTier, rows: Corpus.Rows[_], full: Boolean)(
      build: DataFrame => t.I): (Long, String) = {
    val (n, nCells, name) = (c.n.toLong, c.cells, c.rung.name)
    val corpus = rows.range(c.spark, 0L, n).localCheckpoint(true)
    val (index, buildS) = timed(build(corpus))
    c.phase(f"$name n=$n build_s=$buildS%.1f")
    val qIds = survivors(n, nCells)
    val q = rows.queries(c.spark, qIds)
    def hits(i: t.I): Long = selfRows(t.search(i, q, 1, nProbe = 8))
    hits(index) // warm
    val plainS = best(2)(hits(index))._2
    val (tombed, deleteS) =
      timed(t.delete(index, corpus.filter(col("id") % nCells < 3).select(col("id"))))
    // warm the PREDICATED code path before timing it (the earlier warm
    // ran the plain branch; without this the tomb number measures JIT
    // compilation of a cold call site, not serving)
    hits(tombed)
    if (full) {
      // interleaved bracket: host noise moves plain and tomb together; a
      // systematic gap survives the interleave. The one-id variant
      // separates branch cost from dead-set cost.
      val tombedOne = t.delete(index, corpus.limit(1).select(col("id")))
      hits(tombedOne) // warm
      val inter = (0 until 3).map(_ =>
        Seq(index, tombedOne, tombed).map(i => f"${secs(hits(i))}%.2f").mkString("/"))
      c.phase(s"$name n=$n interleave_plain_one_full=" + inter.mkString(","))
    }
    val (tombSelf, tombS) = best(2)(hits(tombed))
    // exclusion: members of a wiped cluster must not find THEMSELVES
    val leaked = selfRows(t.search(tombed, rows.queries(c.spark, wiped(n, nCells)), 1, nProbe = 8))
    if (full) {
      c.phase(f"$name n=$n delete_s=$deleteS%.3f plain_probe8_s=$plainS%.2f " +
        f"tomb_probe8_s=$tombS%.2f leaked=$leaked")
      // PATCHED compaction first (round-15): persists only the rebuilt
      // cells' overlay — the full copy below is the churn it removes
      // (839.7 s for 3/1024 cells at 1e8, nearly all block re-persist).
      val (patched, patchS) = timed(t.compactPatched(tombed))
      hits(patched) // warm
      val (patchSelf, patchServeS) = best(2)(hits(patched))
      c.phase(f"$name n=$n compact_patched_s=$patchS%.1f " +
        f"patched_probe8_s=$patchServeS%.2f patched_self=$patchSelf")
      patched.unpersist() // overlay only; the base stays cached
    }
    // compact frees the ORIGINAL index as soon as the compacted copy
    // materializes: the rung otherwise holds up to four full indexes and
    // measures cache thrash, not compaction
    val (compacted, compactS) = timed(t.compact(tombed))
    val (compSelf, compS) = timed(hits(compacted))
    val (reingest, scatterS) = if (!full) ("", 0.0) else {
      c.phase(f"$name n=$n compact_local_s=$compactS%.1f " +
        f"compact_over_build=${compactS / buildS}%.3f " +
        f"post_compact_probe8_s=$compS%.2f parity=${compSelf == tombSelf}")
      // ~1% of survivors across ALL cells (97 is coprime with the cluster
      // stride; `/` on int columns is DOUBLE division in Spark SQL, so
      // modulo on a quotient would silently select ~0 rows)
      val scatterS = if (c.decade8) -1.0 else {
        val tombed2 = t.delete(compacted,
          corpus.filter(col("id") % nCells >= 3 && col("id") % 97 === 0).select(col("id")))
        val (compacted2, s) = timed(t.compact(tombed2, unpersistPrior = false))
        compacted2.unpersist()
        s
      }
      c.phase(f"$name n=$n compact_scatter_s=$scatterS%.1f")
      // RE-INGEST the freed ids: the compact emptied the deletion set, so
      // the wiped ids are ingestable again. A slice of cluster 0.
      val reIds = (0L until n by nCells.toLong).take(50000)
      val (reIn, ingestS) = timed(t.ingest(compacted, // unpersists prior
        rows.of(c.spark, reIds).localCheckpoint(true)))
      val reQ = reIds.take(500)
      val reBack = selfRows(t.search(reIn, rows.queries(c.spark, reQ), 1, nProbe = 8))
      val (reSelf, reServeS) = timed(hits(reIn))
      // re-ingest grows from the compacted survivors: survivor-query
      // self-match must hold parity exactly
      c.phase(f"$name n=$n reingest_s=$ingestS%.1f reingest_found=$reBack/${reQ.length} " +
        f"post_reingest_probe8_s=$reServeS%.2f survivor_parity=${reSelf == compSelf}")
      reIn.unpersist()
      (f"reingest_s=$ingestS%.1f reingest_found=$reBack ", scatterS)
    }
    val rebuildS = if (c.decade8) -1.0 else {
      val (rebuilt, s) = timed(build(corpus.filter(col("id") % nCells >= 3)))
      rebuilt.unpersist()
      s
    }
    if (!full) compacted.unpersist()
    val core = f"build_s=$buildS%.1f delete_s=$deleteS%.3f plain_probe8_s=$plainS%.2f " +
      f"tomb_probe8_s=$tombS%.2f tomb_overhead=${tombS / plainS}%.2fx leaked=$leaked " +
      f"compact_local_s=$compactS%.1f "
    (tombSelf,
      if (full) reingest + core + f"compact_scatter_s=$scatterS%.1f rebuild_s=$rebuildS%.1f " +
        (if (rebuildS > 0) f"compact_local_over_rebuild=${compactS / rebuildS}%.3f " +
          f"compact_scatter_over_rebuild=${scatterS / rebuildS}%.3f "
        else f"compact_local_over_build=${compactS / buildS}%.3f ") +
        s"self_match=${pct(tombSelf, qIds.length)}"
      // float self-match legitimately differs a little between tombstone
      // serving (original graphs) and the compacted rebuild (different
      // graphs): both counts, not a boolean that reads like a failure
      else core + f"rebuild_s=$rebuildS%.1f compact_over_rebuild=${compactS / rebuildS}%.3f " +
        f"post_compact_probe8_s=$compS%.2f self_tomb=${pct(tombSelf, qIds.length)} " +
        s"self_compacted=${pct(compSelf, qIds.length)}")
  }

  /** ROUTED-SKEW (round-12): cluster 0 holds ~n/2 rows, far over an n/4
    * budget. The skew guard must SPLIT heavy cells instead of
    * materializing them whole, on the default heap, at a recall floor. */
  private def routedSkew(c: Ctx): (Long, String) = {
    val rows = floats(id => Corpus.planted(id, Corpus.geometricCluster(id)))
    val budget = math.max(1000L, c.n.toLong / 4)
    val vecs = rows.range(c.spark, 0L, c.n).localCheckpoint(true)
    val (index, buildS) = timed(HnswRouted.build(vecs, Cosine, c.cells, maxCellRows = budget))
    val stats = HnswRouted.cellStats(index)
    val qIds = stride(c.n, 1000, 1000)
    val self = selfRows(HnswRouted.search(index, rows.queries(c.spark, qIds), 1, nProbe = 4))
    index.unpersist()
    (self, f"build_s=$buildS%.1f budget=$budget split_parents=${index.router.sub.size} " +
      f"final_cells=${stats.length} max_cell=${stats.map(_._2).max} " +
      s"self_match=${pct(self, qIds.length)}")
  }

  /** DISTRIBUTED QUERY ROUTING (round-15): the routed tier as the batch
    * side of a similarity join, n queries against n rows. The
    * driver-routed path would hold nProbe copies of every query on the
    * driver; search() reroutes above DriverRouteMax (the rung's minimum
    * n) through the distributed path, whose only query-side state is
    * one shuffle of (cell, qid, vec) rows. */
  private def routedDistrib(c: Ctx): (Long, String) = {
    val rows = plantedRows(c.cells)
    val index = HnswRouted.build(rows.range(c.spark, 0L, c.n).localCheckpoint(true), Cosine, c.cells)
    // the corpus AS the query batch: self-match is the correctness signal
    val q = rows.range(c.spark, 0L, c.n).toDF("qid", "qvec").localCheckpoint(true)
    val (self, wall) = timed(selfRows(HnswRouted.search(index, q, 10, nProbe = 4)))
    index.unpersist()
    (self, f"queries=${c.n} qps=${c.n / wall}%.0f self_match=${pct(self, c.n)} " +
      s"driver_route_max=${HnswRouted.DriverRouteMax}")
  }

  /** MERGED-CELL REMEDY, one body for both local tiers (rounds 15-16): a
    * two-level geometry plants two modes per cell, a mode-aligned delete
    * turns cells half-dead, and `probes` arrive ON THE DEAD SIDE — the
    * regime where tombstone serving paid its tax (11.6x float, 7.0x
    * codes). Measures the tax, the audit, the targeted remedy (done bar:
    * <= 1.2x plain) and the build-time modality guard, whose split
    * leaves whole CELLS dead for predicated serving to skip. Each serve
    * is the warm + best of `reps` ([[warmBest]]); `more` names the
    * modality keys the REHEARSAL line repeats. */
  private def mergedRemedy(c: Ctx, t: LocalRoutedTier, rows: Corpus.Rows[_], probes: Corpus.Rows[_],
      reps: Int, settle: Boolean, more: Seq[String])(build: (DataFrame, Boolean) => t.I,
      split: t.I => (String, Int), diagnose: t.I => Unit): (Long, String) = {
    val (n, nSub, name) = (c.n.toLong, 2 * c.cells, c.rung.name)
    val corpus = rows.range(c.spark, 0L, n).localCheckpoint(true)
    val index = build(corpus, false)
    val q = probes.queries(c.spark, (0L until n by nSub.toLong).take(2000))
    def serve(i: t.I): Double = warmBest(reps, settle)(drain(t.search(i, q, 10, nProbe = 4)))
    def dead(i: t.I): t.I = t.delete(i, corpus.filter(col("id") % nSub === 0).select(col("id")))
    val plainS = serve(index)
    val tombed = dead(index)
    val tombS = serve(tombed)
    val (audit, auditS) = timed(t.mergedCellAudit(tombed).collect())
    c.phase(s"$name audit: " + audit.mkString(" | "))
    val ((rem, flagged), remS) = timed(t.remediateMergedCells(tombed))
    val postS = serve(rem)
    rem.unpersist()
    val (flagIdx, flagBuildS) = timed(build(corpus, true))
    val flagPlainS = serve(flagIdx)
    val flagTombed = dead(flagIdx)
    val flagTombS = serve(flagTombed)
    diagnose(flagTombed)
    val (splitKey, splits) = split(flagIdx)
    val flag = Map("modality_build_s" -> f"$flagBuildS%.1f", splitKey -> splits.toString,
      "flag_plain_s" -> f"$flagPlainS%.2f", "flag_tomb_s" -> f"$flagTombS%.2f",
      "flag_tomb_overhead" -> f"${flagTombS / flagPlainS}%.2fx")
    def keys(ks: Seq[String]): String = ks.map(k => s"$k=${flag(k)}").mkString(" ")
    c.phase(s"$name n=$n " +
      keys(Seq("modality_build_s", splitKey, "flag_plain_s", "flag_tomb_s", "flag_tomb_overhead")))
    flagIdx.unpersist()
    index.unpersist()
    (flagged.length.toLong,
      f"plain_s=$plainS%.2f tomb_s=$tombS%.2f tomb_overhead=${tombS / plainS}%.2fx " +
      f"audit_s=$auditS%.1f remedy_s=$remS%.1f flagged=${flagged.length} " +
      f"post_s=$postS%.2f post_overhead=${postS / plainS}%.2fx " +
      s"residual_tombstones=${rem.tombstones.length} " + keys(more))
  }

  /** Where the dead mass sits after the code tier's modality split:
    * full-dead cells are SKIPPED by predicated serving, a part-dead cell
    * still pays the census/exact-scan machinery. */
  private def deadDistribution(c: Ctx)(i: HnswRoutedCodes.RoutedCodeIndex): Unit = {
    val deadB = c.spark.sparkContext.broadcast(i.tombstones)
    val dist = i.shards.map { case (cell, s) =>
      var d = 0
      s.codes.foreach { (id, _) =>
        if (java.util.Arrays.binarySearch(deadB.value, id) >= 0) d += 1 }
      (cell, s.codes.size, d)
    }.collect().sortBy(_._1)
    val fullDead = dist.count(x => x._2 > 0 && x._2 == x._3)
    val partDead = dist.count(x => x._3 > 0 && x._3 < x._2)
    c.phase(s"${c.rung.name} flag_dead_dist full_dead_cells=$fullDead part_dead_cells=$partDead " +
      dist.filter(_._3 > 0).map(x => s"${x._1}:${x._3}/${x._2}").mkString("[", ",", "]"))
  }

  /** MERGED-CELL remedy on the COMPRESSED tier (round-17): the float
    * geometry served through PQ codes on a SOLO-built index. The audit
    * runs over code reconstructions (no float map exists anywhere) and
    * the remedy fetches survivor floats for ONLY the flagged cells.
    * Done bar: post-remedy dead-side serving <= 1.2x plain. */
  private def mergedRemedyPq(c: Ctx): (Long, String) = {
    val (n, nSub) = (c.n.toLong, 2 * c.cells)
    val rows = mergedRows(nSub)
    val vecs = rows.range(c.spark, 0L, n).localCheckpoint(true)
    val (index, buildS) = timed(HnswRoutedPq.buildSolo(vecs, L2, c.cells,
      dedupIds = false, pinInput = false))
    // dead-side queries (members of the mode about to die) and live-side
    // CONTROL queries (a surviving mode in a DIFFERENT cell): the control
    // separates the dead side's out-of-distribution beam cost (its true
    // neighbourhood is gone post-remedy) from a regression of the
    // remedied index itself
    val deadQ = rows.queries(c.spark, (0L until n by nSub.toLong).take(2000))
    val liveQ = rows.queries(c.spark, (5L until n by nSub.toLong).take(2000))
    def serveOn(q: DataFrame)(i: HnswRoutedPq.RoutedPqIndex): Double = warmBest(3, settle = true)(
      drain(HnswRoutedPq.search(i, q, vecs, k = 10, nProbe = 4, candidates = 64)))
    val (serve, serveLive) = (serveOn(deadQ) _, serveOn(liveQ) _)
    val plainS = serve(index)
    val plainLiveS = serveLive(index)
    val tombed = HnswRoutedPq.delete(index, vecs.filter(col("id") % nSub === 0).select(col("id")))
    val tombS = serve(tombed)
    val (audit, auditS) = timed(HnswRoutedPq.mergedCellAudit(tombed).collect())
    c.phase("merged_remedy_pq audit: " + audit.mkString(" | "))
    val ((rem, flagged), remS) = timed(HnswRoutedPq.remediateMergedCellsSolo(tombed, vecs))
    val postS = serve(rem)
    val postLiveS = serveLive(rem)
    c.phase(f"merged_remedy_pq live_control plain_live_s=$plainLiveS%.2f " +
      f"post_live_s=$postLiveS%.2f live_overhead=${postLiveS / plainLiveS}%.2fx")
    // storage diagnostic: is a post-remedy slowdown an eviction artifact
    // (two resident images competing for the store)?
    c.spark.sparkContext.getRDDStorageInfo.foreach { i =>
      c.phase(f"merged_remedy_pq storage name=${i.name} mem_mb=${i.memSize / 1e6}%.0f " +
        f"disk_mb=${i.diskSize / 1e6}%.0f cached=${i.numCachedPartitions}/${i.numPartitions}")
    }
    // aging control: re-serve the ORIGINAL handle now — if it reads like
    // post_s, the delta is session aging, not the remediated handle
    val plainAgainS = serve(index)
    val plainLiveAgainS = serveLive(index)
    c.phase(f"merged_remedy_pq aging_control plain_again_s=$plainAgainS%.2f " +
      f"plain_live_again_s=$plainLiveAgainS%.2f " +
      f"(vs plain_s=$plainS%.2f live=$plainLiveS%.2f at session start)")
    // ADC-space remedy (round-18): rebuild the SAME flagged cells with the
    // buildSolo kernel over the same survivor floats — graph-identical to
    // a fresh solo build of the survivors. Compare against plain_again_s.
    // [A float-FREE variant staging code reconstructions read 7.6x plain
    // at 1e6 and was rejected — see HnswRoutedPq.compactSoloCells.]
    val (remAdc, remAdcS) = timed(HnswRoutedPq.compactSoloCellsPatched(tombed, vecs, flagged,
      persist = true, floatExact = false))
    val postAdcS = serve(remAdc)
    val postAdcLiveS = serveLive(remAdc)
    c.phase(f"merged_remedy_pq adc_variant remedy_adc_s=$remAdcS%.1f post_adc_s=$postAdcS%.2f " +
      f"post_adc_over_plain=${postAdcS / plainS}%.2fx " +
      f"post_adc_over_plain_again=${postAdcS / plainAgainS}%.2fx " +
      f"post_adc_live_s=$postAdcLiveS%.2f adc_live_overhead=${postAdcLiveS / plainLiveS}%.2fx " +
      s"residual_tombstones_adc=${remAdc.tombstones.length}")
    remAdc.overlay.foreach(_.unpersist())
    // isolate the patched-composite branch from the remedy: fold to one
    // self-contained image and re-serve
    val (folded, foldS) = timed(HnswRoutedPq.foldOverlay(rem))
    val foldedS = serve(folded)
    folded.unpersist()
    index.unpersist()
    (flagged.length.toLong,
      f"build_s=$buildS%.1f plain_s=$plainS%.2f tomb_s=$tombS%.2f " +
      f"tomb_overhead=${tombS / plainS}%.2fx " +
      f"audit_s=$auditS%.1f remedy_s=$remS%.1f flagged=${flagged.length} " +
      f"post_s=$postS%.2f post_overhead=${postS / plainS}%.2fx " +
      s"residual_tombstones=${rem.tombstones.length} overlay_depth=${rem.overlay.length} " +
      f"fold_s=$foldS%.1f folded_serve_s=$foldedS%.2f folded_overhead=${foldedS / plainS}%.2fx")
  }

  /** SERVING WARM-UP (rounds 16-17): the first-serve tax and its
    * mitigation on a DISK_ONLY codes index (the residency the 1e8 decade
    * runs) after save + attach. Three postures: cold, warm() (done bar:
    * first serve <= 2x steady) and warm() + covering probe, which pays
    * the kernel/plan warm-up the block sweep left (done bar: <= 1.5x). */
  private def warmup(c: Ctx): (Long, String) = {
    val codesDf = codes(Corpus.splitmixCode).range(c.spark, 0L, c.n).localCheckpoint(true)
    val built = HnswRoutedCodes.build(codesDf, HnswParams.standard(64, 32, 32), c.cells,
      storage = c.storage)
    val dir = graft.TempDirs.create("graft_warmup_")
    HnswRoutedCodes.save(built, dir)
    built.unpersist()
    val q = codesDf.filter(col("id") % math.max(1L, c.n.toLong / 2000) === 0L)
      .limit(2000).toDF("qid", "qcode").localCheckpoint(true)
    def serve(i: HnswRoutedCodes.RoutedCodeIndex): Double =
      secs(drain(HnswRoutedCodes.search(i, q, 10, nProbe = 4)))
    /** Attach, `prime`, then the first serve and the steady band. */
    def posture(prime: HnswRoutedCodes.RoutedCodeIndex => Unit): (Double, Double, Double) = {
      val a = HnswRoutedCodes.attach(c.spark, dir, storage = c.storage)
      val primeS = secs(prime(a))
      val first = serve(a)
      val steady = math.min(serve(a), serve(a))
      a.unpersist()
      (primeS, first, steady)
    }
    val (_, coldFirst, coldSteady) = posture(_ => ())
    val (warmS, warmFirst, warmSteady) = posture(a => HnswRoutedCodes.warm(a))
    val (probeS, probedFirst, probedSteady) = posture { a =>
      HnswRoutedCodes.warm(a)
      HnswRoutedCodes.warmProbe(a)
    }
    (c.n.toLong,
      f"cold_first_s=$coldFirst%.2f cold_steady_s=$coldSteady%.2f " +
      s"cold_ratio=${ratio(coldFirst, coldSteady)} " +
      f"warm_pass_s=$warmS%.2f warm_first_s=$warmFirst%.2f warm_steady_s=$warmSteady%.2f " +
      s"warm_ratio=${ratio(warmFirst, warmSteady)} " +
      f"probe_pass_s=$probeS%.2f probed_first_s=$probedFirst%.2f " +
      f"probed_steady_s=$probedSteady%.2f probed_ratio=${ratio(probedFirst, probedSteady)}")
  }

  /** FLOAT-FREE PQ BUILD (round-16): HnswRoutedPq.buildSolo creates the
    * compressed tier straight from the vector table — no float index at
    * any point (floats stream through the build tasks as scratch), so
    * float_cached stays 0 throughout — then the solo lifecycle on the
    * built handle: serve → save → attach → delete → leak check →
    * compactSolo → solo ingest. */
  private def pqSoloBuild(c: Ctx): (Long, String) = {
    val (n, nCells) = (c.n.toLong, c.cells)
    val rows = plantedRows(nCells)
    // at the 1e8 decade vecs stay a LAZY generator DF (a checkpoint would
    // pin ~30 GB the disk budget needs for the index + build shuffle;
    // regenerating per re-rank read is cheap CPU)
    val vecs0 = rows.range(c.spark, 0L, n)
    val vecs = if (c.decade8) vecs0 else vecs0.localCheckpoint(true)
    // range ids are unique and vecs is a checkpoint (or a cheap
    // generator): skip the dedup shuffle and the extra pin
    val (pq, buildS) = timed(HnswRoutedPq.buildSolo(vecs, L2, nCells, storage = c.storage,
      modalitySplit = true, dedupIds = false, pinInput = false))
    val floatBytes = cachedBytes(c.spark, "graft-hnsw-routed") // must stay 0
    val pqBytes = cachedBytes(c.spark, "graft-hnsw-routed-pq")
    c.phase(f"pq_solo_build n=$n build_s=$buildS%.1f split_parents=${pq.router.sub.size} " +
      f"float_cached_mb=${floatBytes / 1e6}%.0f (must be 0) pq_cached_mb=${pqBytes / 1e6}%.0f")
    val qIds = survivors(n, nCells)
    val q = rows.queries(c.spark, qIds)
    def serve(i: HnswRoutedPq.RoutedPqIndex) = timed(pqMatch(i, q, vecs, nCells))
    serve(pq) // warm
    val ((plainSelf, plainClus), p1) = serve(pq)
    val plainS = math.min(p1, serve(pq)._2)
    // durability: save the eight-table image, attach, serve at parity —
    // an O(image) leg; at the decade the lifecycle runs on the BUILT handle
    val (restored, saveS, attachS, attParity) =
      if (c.decade8) (pq, 0.0, 0.0, true)
      else {
        val dir = s"${c.base}/pq_solo_idx"
        val sS = secs(HnswRoutedPq.save(pq, dir))
        pq.unpersist()
        val (att, aTs) = timed(HnswRoutedPq.attach(c.spark, dir))
        val ((attSelf, attClus), aS) = serve(att)
        val par = attSelf == plainSelf && attClus == plainClus
        c.phase(f"pq_solo_build n=$n save_s=$sS%.1f attach_s=$aTs%.1f " +
          f"attach_over_build=${aTs / buildS}%.4f attach_serve_s=$aS%.2f attach_parity=$par " +
          s"build_seed_survives=${att.buildSeed == L2.seed}")
        (att, sS, aTs, par)
      }
    // on the attached copy: wipe 3 clusters, leak check, fold, re-serve
    val tombed = HnswRoutedPq.delete(restored, vecs.filter(col("id") % nCells < 3).select(col("id")))
    val leaked = selfRows(HnswRoutedPq.search(tombed, rows.queries(c.spark, wiped(n, nCells)),
      vecs, k = 1, nProbe = 8, candidates = 32))
    // fold and ingest both materialize a SECOND full image while the
    // first stays persisted — 2x ~33 GB at the decade against a ~94 GB
    // host: O(rebuild) legs the decade rule skips after the leak check
    val (compactS, rebuilt, carried, postS, postClus, ingestS, bClus, nbq) =
      if (c.decade8) (0.0, 0L, 0L, 0.0, plainClus, 0.0, 0L, 1L)
      else {
        val ((folded, rb, ca), cS) =
          timed(HnswRoutedPq.compactSoloCounted(tombed, vecs, unpersistPrior = true))
        val ((_, pClus), pS) = serve(folded)
        // solo ingest: a 2% batch of new ids into the folded handle
        val batchDf = rows.range(c.spark, n, n + n / 50).localCheckpoint(true)
        val (grown, iS) = timed(HnswRoutedPq.ingest(folded, batchDf, unpersistPrior = true))
        val bq = rows.queries(c.spark, batchIds(n))
        val bc = pqMatch(grown, bq, vecs.unionAll(batchDf), nCells)._2
        val nb = bq.count()
        grown.unpersist()
        (cS, rb, ca, pS, pClus, iS, bc, nb)
      }
    (leaked,
      f"build_s=$buildS%.1f save_s=$saveS%.1f attach_s=$attachS%.1f " +
      f"plain_probe8_s=$plainS%.2f attach_parity=$attParity " +
      f"leaked=$leaked compact_solo_s=$compactS%.1f " +
      f"rebuilt=$rebuilt carried=$carried post_probe8_s=$postS%.2f " +
      f"solo_ingest_s=$ingestS%.1f ingest_rows=${n / 50} " +
      f"rows_per_s=${(n / 50) / math.max(1e-9, ingestS)}%.0f " +
      f"float_cached_mb=${floatBytes / 1e6}%.0f pq_cached_mb=${pqBytes / 1e6}%.0f " +
      s"cluster_plain=${pct(plainClus, qIds.length)} cluster_post=${pct(postClus, qIds.length)} " +
      s"batch_cluster_match=${pct(bClus, nbq)}")
  }

  /** PQ SAVE→ATTACH (round-17): the decade's restart posture. buildSolo →
    * save → DROP the live image (unpersist + GC releases the DISK_ONLY
    * cache and the build shuffle the lineage pinned: cache 33 + shuffle
    * 30 + image ~30 GB only coexist during the save write) → attach →
    * warm + covering probe → first serve vs steady, parity against the
    * pre-save serve. Done bar: attach << build, probed first serve <=
    * 1.5x steady, parity exact. */
  private def pqSaveAttach(c: Ctx): (Long, String) = {
    def tmpFreeGb: Double =
      java.nio.file.Files.getFileStore(java.nio.file.Paths.get("/tmp")).getUsableSpace / 1e9
    val (n, nCells) = (c.n.toLong, c.cells)
    val rows = plantedRows(nCells)
    val vecs0 = rows.range(c.spark, 0L, n)
    val vecs = if (c.decade8) vecs0 else vecs0.localCheckpoint(true)
    c.phase(f"pq_save_attach n=$n tmp_free_gb=$tmpFreeGb%.0f (pre-build)")
    var (pq, buildS) = timed(HnswRoutedPq.buildSolo(vecs, L2, nCells, storage = c.storage,
      modalitySplit = true, dedupIds = false, pinInput = false))
    val qIds = survivors(n, nCells)
    val q = rows.queries(c.spark, qIds)
    def serve(i: HnswRoutedPq.RoutedPqIndex) = timed(pqMatch(i, q, vecs, nCells))
    // truncate the build lineage: the persisted cache is the source of
    // truth, and dropping the ShuffleDependency lets the ContextCleaner
    // free the build shuffle BEFORE the save writes the image
    pq.shards.localCheckpoint()
    pq.shards.count()
    System.gc()
    Thread.sleep(3000)
    c.phase(f"pq_save_attach n=$n tmp_free_gb=$tmpFreeGb%.0f (post-truncate)")
    serve(pq) // warm the pre-save serve
    val ((preSelf, preClus), _) = serve(pq)
    c.phase(f"pq_save_attach n=$n build_s=$buildS%.1f tmp_free_gb=$tmpFreeGb%.0f (post-build)")
    val dir = s"${c.base}/pq_attach_idx"
    val saveS = secs(HnswRoutedPq.save(pq, dir))
    c.phase(f"pq_save_attach n=$n save_s=$saveS%.1f tmp_free_gb=$tmpFreeGb%.0f (post-save peak)")
    // DROP the live image: unpersist, null the handle, GC — the
    // ContextCleaner releases the build shuffle the lineage pinned
    pq.unpersist()
    pq = null
    System.gc()
    Thread.sleep(3000)
    c.phase(f"pq_save_attach n=$n tmp_free_gb=$tmpFreeGb%.0f (post-drop)")
    val (att, attachS) = timed(HnswRoutedPq.attach(c.spark, dir, storage = c.storage))
    val warmS = secs { HnswRoutedPq.warm(att); HnswRoutedPq.warmProbe(att) }
    val ((attSelf, attClus), firstS) = serve(att)
    val steadyS = math.min(serve(att)._2, serve(att)._2)
    val parity = attSelf == preSelf && attClus == preClus
    att.unpersist()
    (attSelf,
      f"build_s=$buildS%.1f save_s=$saveS%.1f attach_s=$attachS%.1f " +
      f"attach_over_build=${attachS / buildS}%.4f warm_s=$warmS%.1f " +
      f"first_serve_s=$firstS%.2f steady_s=$steadyS%.2f " +
      s"first_over_steady=${ratio(firstS, steadyS)} " +
      s"parity=$parity cluster_match=${pct(attClus, qIds.length)} " +
      f"tmp_free_gb=$tmpFreeGb%.0f")
  }

  /** ROUTED+PQ (round-15): the compression tier as the at-scale serving
    * path for float similarity. Build the float l2 index, derive the PQ
    * tier (one codebook train + one narrow encode pass), then the
    * lifecycle: tombstone delete → predicated serve → float compact →
    * INCREMENTAL rederive (only cells the fold touched re-encode) →
    * serve; drop the float shards and serve from codes alone (resident:
    * graph + 8 B/row codes; raw vectors appear only in the re-rank join);
    * save → attach; filtered serving through both transports; solo
    * ingest into the attached copy. */
  private def routedPq(c: Ctx): (Long, String) = {
    val (n, nCells) = (c.n.toLong, c.cells)
    val rows = plantedRows(nCells)
    val vecs = rows.range(c.spark, 0L, n).localCheckpoint(true)
    // modalitySplit: k-means over a clustered corpus misaligns at density
    // (two true clusters in one cell leave the ADC beam unable to cross
    // the mode bridge; the 4e5 first run read 86.7% cluster-match)
    val (index, buildS) = timed(HnswRouted.build(vecs, L2, nCells, modalitySplit = true))
    c.phase(f"routed_pq n=$n build_s=$buildS%.1f split_parents=${index.router.sub.size}")
    val (pq, encodeS) = timed(HnswRoutedPq.fromRouted(index))
    val floatBytes = cachedBytes(c.spark, "graft-hnsw-routed")
    val pqBytes = cachedBytes(c.spark, "graft-hnsw-routed-pq")
    c.phase(f"routed_pq n=$n encode_s=$encodeS%.1f float_cached_mb=${floatBytes / 1e6}%.0f " +
      f"pq_cached_mb=${pqBytes / 1e6}%.0f " +
      f"ratio=${floatBytes.toDouble / math.max(1L, pqBytes)}%.1fx")
    val qIds = survivors(n, nCells)
    val q = rows.queries(c.spark, qIds)
    def serve(i: HnswRoutedPq.RoutedPqIndex) = timed(pqMatch(i, q, vecs, nCells))
    serve(pq) // warm
    val p1 = serve(pq)._2
    val ((plainSelf, plainClus), p2) = serve(pq)
    val plainS = math.min(p1, p2)
    val deadLocal = vecs.filter(col("id") % nCells < 3).select(col("id"))
    val (tombed, deleteS) = timed(HnswRoutedPq.delete(pq, deadLocal))
    serve(tombed) // warm the predicated path
    val ((tombSelf, tombClus), tombS) = best(2)(pqMatch(tombed, q, vecs, nCells))
    val leaked = selfRows(HnswRoutedPq.search(tombed, rows.queries(c.spark, wiped(n, nCells)),
      vecs, k = 1, nProbe = 8, candidates = 32))
    // fold on the float source, follow incrementally
    val floatTombed = HnswRouted.delete(index, deadLocal)
    val (compacted, compactS) = timed(HnswRouted.compact(floatTombed, unpersistPrior = false))
    val ((rederived, reenc, carried), rederiveS) =
      timed(HnswRoutedPq.rederiveCounted(tombed, compacted, unpersistPrior = true))
    c.phase(f"routed_pq n=$n compact_s=$compactS%.1f rederive_s=$rederiveS%.1f " +
      f"reencoded=$reenc carried=$carried rederive_over_encode=${rederiveS / encodeS}%.2f")
    val ((postSelf, postClus), postS) = serve(rederived)
    // the envelope: drop the float shards, serve from codes alone
    index.unpersist()
    compacted.unpersist()
    val ((soloSelf, soloClus), soloS1) = serve(rederived)
    val soloS = math.min(soloS1, serve(rederived)._2)
    // durability: the restart story the 1e8 posture needs — re-deriving
    // costs the float build + encode, attach costs a scan
    val dir = s"${c.base}/routed_pq_idx"
    val saveS = secs(HnswRoutedPq.save(rederived, dir))
    c.phase(f"routed_pq n=$n save_s=$saveS%.1f")
    rederived.unpersist()
    val (restored, attachS) = timed(HnswRoutedPq.attach(c.spark, dir))
    val ((attSelf, attClus), aS1) = serve(restored)
    val attServeS = math.min(aS1, serve(restored)._2)
    val attParity = attSelf == soloSelf && attClus == soloClus
    c.phase(f"routed_pq n=$n attach_s=$attachS%.1f attach_over_encode=${attachS / encodeS}%.2f " +
      f"attach_over_full_derive=${attachS / (buildS + encodeS)}%.4f " +
      f"attach_serve_s=$attServeS%.2f attach_parity=$attParity")
    // FILTERED serving: a half-corpus allow-set (bigger than any cell, so
    // the census walks cell keys, and the distributed id→cell join moves
    // real mass) through BOTH transports; parity on (qid, id) sets
    locally {
      val allowDf = vecs.filter(col("id") % 2 === 0).select(col("id"))
      val fq = q.limit(500).localCheckpoint(true)
      def rowsOf(df: DataFrame) =
        df.select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val (viaDriver, driverS) = timed(rowsOf(HnswRoutedPq.searchFiltered(restored, fq,
        vecs, allowDf, k = 10, nProbe = 8, candidates = 64)))
      val (viaDistrib, distribS) = timed(rowsOf(HnswRoutedPq.searchFilteredDistributed(
        restored, fq, vecs, allowDf, k = 10, nProbe = 8, candidates = 64)))
      val leakedFilter = viaDriver.count(_._2 % 2 != 0) + viaDistrib.count(_._2 % 2 != 0)
      c.phase(f"routed_pq n=$n filtered_driver_s=$driverS%.2f filtered_distrib_s=$distribS%.2f " +
        s"filtered_parity=${viaDriver == viaDistrib} filter_leaked=$leakedFilter " +
        s"allow_rows=${n / 2}")
    }
    // SOLO ingest: a 2% batch of NEW ids into the ATTACHED copy — no float
    // source exists; each new point's raw float serves its own insertion
    // beam against member CODES, then quantizes. O(batch) cost, served at
    // parity (cluster-match on batch queries through the re-rank).
    val batchDf = rows.range(c.spark, n, n + n / 50).localCheckpoint(true)
    val (grownSolo, soloIngestS) = timed(HnswRoutedPq.ingest(restored, batchDf))
    val bq = rows.queries(c.spark, batchIds(n))
    val bClus = pqMatch(grownSolo, bq, vecs.unionAll(batchDf), nCells)._2
    c.phase(f"routed_pq n=$n solo_ingest_s=$soloIngestS%.1f ingest_rows=${n / 50} " +
      f"rows_per_s=${(n / 50) / soloIngestS}%.0f batch_cluster_match=${pct(bClus, bq.count())}")
    grownSolo.unpersist()
    restored.unpersist()
    val nq = qIds.length
    (tombSelf, f"build_s=$buildS%.1f encode_s=$encodeS%.1f " +
      f"delete_s=$deleteS%.3f plain_probe8_s=$plainS%.2f " +
      f"tomb_probe8_s=$tombS%.2f tomb_overhead=${tombS / plainS}%.2fx " +
      f"leaked=$leaked compact_s=$compactS%.1f " +
      f"rederive_s=$rederiveS%.1f reencoded=$reenc carried=$carried " +
      f"save_s=$saveS%.1f attach_s=$attachS%.1f " +
      f"attach_serve_s=$attServeS%.2f attach_parity=$attParity " +
      f"post_probe8_s=$postS%.2f solo_probe8_s=$soloS%.2f " +
      f"float_cached_mb=${floatBytes / 1e6}%.0f pq_cached_mb=${pqBytes / 1e6}%.0f " +
      s"self_plain=${pct(plainSelf, nq)} self_tomb=${pct(tombSelf, nq)} " +
      s"self_post=${pct(postSelf, nq)} self_solo=${pct(soloSelf, nq)} " +
      s"cluster_plain=${pct(plainClus, nq)} cluster_tomb=${pct(tombClus, nq)} " +
      s"cluster_post=${pct(postClus, nq)} cluster_solo=${pct(soloClus, nq)}")
  }

  /** AUTO-EF (round-13): the density-adaptive in-cell beam's calibration
    * sweep. One DENSE cloud as one cell (the regime the formula exists
    * for), self-match and wall at the configured beam (ef0=32), the
    * formula's prescription (ef0=0 -> autoEf) and the manual dial the 1e7
    * rehearsal found (ef0=128): does the formula's extra in-cell work BUY
    * recall at this density? */
  private def autoEf(c: Ctx): (Long, String) = {
    val rows = floats(id => Corpus.planted(id, 0, 0.1f))
    val vecs = rows.range(c.spark, 0L, c.n).localCheckpoint(true)
    val (index, buildS) = timed(HnswRouted.build(vecs, Cosine, nCells = 1,
      maxCellRows = math.max(HnswRouted.DefaultMaxCellRows, c.n.toLong)))
    val qIds = stride(c.n, 1000, 1000)
    val q = rows.queries(c.spark, qIds)
    def serve(ef0: Int) = timed(selfRows(HnswRouted.search(index, q, 1, nProbe = 1, ef0 = ef0)))
    serve(32) // warm
    val auto = HnswRouted.autoEf(32, c.n)
    val (sFixed, wFixed) = serve(32)
    val (sAuto, wAuto) = serve(0)
    val (s128, w128) = serve(128)
    index.unpersist()
    (sAuto, f"build_s=$buildS%.1f auto_ef=$auto " +
      f"ef32_s=$wFixed%.2f self32=${pct(sFixed, qIds.length)} " +
      f"efauto_s=$wAuto%.2f selfauto=${pct(sAuto, qIds.length)} " +
      f"ef128_s=$w128%.2f self128=${pct(s128, qIds.length)}")
  }

  /** ROUTED-RESTART (round-13): streaming-ingest recovery. Build a seed
    * index, ingest 4 batches with a checkpoint save after batch 2 (the
    * StreamingRouted cadence), "crash", then recover = attach the
    * checkpoint + replay the unsaved tail. The claim: recovery << a full
    * rebuild, with occupancy parity against the uninterrupted fold. */
  private def routedRestart(c: Ctx): (Long, String) = {
    val rows = plantedRows(c.cells)
    def slice(a: Long, b: Long) = rows.range(c.spark, a, b).localCheckpoint(true)
    val (half, batchLen) = (c.n.toLong / 2, c.n.toLong / 8)
    def batch(b: Int) = slice(half + b * batchLen, half + (b + 1) * batchLen)
    val dir = s"${c.base}/routed_restart_idx"
    var live = HnswRouted.build(slice(0L, half), Cosine, c.cells)
    val foldS = secs((0 until 4).foreach { b =>
      live = HnswRouted.ingest(live, batch(b))
      if (b == 1) HnswRouted.save(live, dir)
    })
    val liveStats = HnswRouted.cellStats(live).sortBy(_._1).toSeq
    live.unpersist()
    var (rec, attachS) = timed(HnswRouted.attach(c.spark, dir))
    val replayS = secs((2 until 4).foreach(b => rec = HnswRouted.ingest(rec, batch(b))))
    val parity = HnswRouted.cellStats(rec).sortBy(_._1).toSeq == liveStats
    rec.unpersist()
    // the counterfactual: full rebuild of the same total corpus
    val (rebuilt, rebuildS) = timed(HnswRouted.build(slice(0L, half + 4 * batchLen), Cosine, c.cells))
    rebuilt.unpersist()
    (liveStats.map(_._2).sum,
      f"fold_s=$foldS%.1f attach_s=$attachS%.1f replay_s=$replayS%.1f " +
      f"recover_s=${attachS + replayS}%.1f rebuild_s=$rebuildS%.1f " +
      f"recover_over_rebuild=${(attachS + replayS) / rebuildS}%.3f parity=$parity")
  }

  /** EVICTION STORM (round-18): the unified lifecycle under REPEATED
    * eviction/re-read interleaved with mutation. A MEMORY_ONLY ballast
    * sized to ~45% of the heap fights the MEMORY_AND_DISK shards for the
    * storage pool, so shard blocks keep dropping to disk (Kryo serialize)
    * and re-reading between delete / patched-compact / fold /
    * full-compact / re-ingest / serve — the round-16 SIGSEGV class
    * surfaces as a crash, a parity break or a leaked tombstone. Run with
    * an undersized heap on purpose (SPARK_DRIVER_MEM=8g at n=1e7); the
    * line REPORTS max on-disk bytes so a too-large heap (no eviction, no
    * storm) is visible, not silent. */
  private def evictStorm(c: Ctx): (Long, String) = {
    val (n, nCells) = (c.n.toLong, c.cells)
    val rows = anchoredRows(nCells)
    val corpus = rows.range(c.spark, 0L, n).localCheckpoint(true)
    val (built, buildS) = timed(HnswRoutedCodes.build(corpus, CodeParams, nCells, seed = 42L))
    var index = built
    // The exact invariant (hardened by the 1e6 shakedowns): a stray batch
    // id rebuilds its cell's graph and may legitimately flip a beam, so
    // only queries whose ENTIRE nProbe=8 probe set avoids every touched
    // cell are deterministic — their full (qid, id, hamming) top-1 ROW
    // SET must match the baseline exactly, round over round.
    val rounds = 6
    val batch = math.min(20000, math.max(1000, c.n / 100))
    val anchorsArr = index.anchors
    // batch ids: the cluster-0 stride RESTRICTED to its home cell, so the
    // storm touches exactly ONE cell and the invariant keeps a full query
    // sample (with strays the first 1e7 read kept 13 queries)
    val byHome = (0L until n by nCells.toLong).take(rounds * batch * 2)
      .groupBy(id => HnswRoutedCodes.nearestAnchor(Corpus.anchored(id, nCells), anchorsArr))
    val (homeCell, homeIds0) = byHome.maxBy(_._2.size)
    val effBatch = math.min(batch, homeIds0.size / rounds)
    val homeIds = homeIds0.toArray
    // 8 nearest anchors by Hamming, ties by index (the router's contract,
    // driver-side for query selection only)
    def probeSet(code: Long): Seq[Int] = anchorsArr.indices
      .sortBy(a => (java.lang.Long.bitCount(anchorsArr(a) ^ code), a)).take(8)
    val qIds = stride(n, 8000, 2000,
      id => id % nCells >= 3 && probeSet(Corpus.anchored(id, nCells)).forall(_ != homeCell))
    val q = rows.queries(c.spark, qIds)
    def topRows(i: HnswRoutedCodes.RoutedCodeIndex): (Seq[(Long, Long, Int)], Double) =
      timed(HnswRoutedCodes.search(i, q, 1, nProbe = 8)
        .select(col("qid"), col("id"), col("hamming"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted)
    topRows(index) // warm
    val baseRows = topRows(index)._1
    val baselineSelf = baseRows.count(_._3 == 0).toLong
    // ballast: Array[Long](128) rows ≈ 1.1 KB deserialized, ~45% of the
    // heap, so ballast + index exceed the storage pool every round
    val heap = Runtime.getRuntime.maxMemory
    val ballastRows = math.max(1000L, (heap * 0.45 / 1100).toLong)
    val sc = c.spark.sparkContext
    val ballast = sc.range(0L, ballastRows, 1, sc.defaultParallelism).map(i => Array.fill(128)(i))
    ballast.persist(StorageLevel.MEMORY_ONLY).setName("graft-evictstorm-ballast")
    def squeeze(): Unit = { ballast.count(); () }
    def diskBytes(): Long = sc.getRDDStorageInfo.map(_.diskSize).sum
    squeeze()
    var (parityBreaks, leakedTotal, maxDisk, serveLast) = (0, 0L, 0L, 0.0)
    (1 to rounds).foreach { r =>
      // a disjoint home-cell batch per round: deleted, folded out, re-ingested
      val ids = homeIds.slice((r - 1) * effBatch, r * effBatch).toSeq
      val idsDf = c.spark.createDataset(ids)(Encoders.scalaLong).toDF("id").localCheckpoint(true)
      squeeze()
      var cur = HnswRoutedCodes.delete(index, idsDf)
      maxDisk = math.max(maxDisk, diskBytes())
      // exclusion under eviction pressure: a deleted id must not find
      // itself through a freshly re-read shard
      leakedTotal += selfRows(HnswRoutedCodes.search(cur, rows.of(c.spark, ids.take(300), "q"),
        1, nProbe = 8))
      squeeze()
      cur =
        if (r % 2 == 1) HnswRoutedCodes.compact(cur) // full copy, supersedes the prior image
        else {
          // patched compact + fold: overlay state and the composite read
          // path under the same churn
          val patched = HnswRoutedCodes.compactPatched(cur)
          squeeze()
          val folded = HnswRoutedCodes.foldOverlay(patched)
          cur.shards.unpersist(blocking = true)
          folded
        }
      maxDisk = math.max(maxDisk, diskBytes())
      squeeze()
      // re-ingest the freed ids (the fold emptied their tombstones)
      cur = HnswRoutedCodes.ingest(cur, rows.of(c.spark, ids))
      maxDisk = math.max(maxDisk, diskBytes())
      val (nowRows, s) = topRows(cur)
      serveLast = s
      if (nowRows != baseRows) {
        parityBreaks += 1
        // name the diverging rows, bounded by the discrepancy
        val baseMap = baseRows.map(x => x._1 -> x).toMap
        nowRows.filter(x => baseMap.get(x._1).exists(_ != x)).take(5).foreach {
          case (qid, id, d) =>
            val (_, bid, bd) = baseMap(qid)
            c.phase(s"evictstorm DIVERGED qid=$qid now=(id=$id, hamming=$d) " +
              s"base=(id=$bid, hamming=$bd)")
        }
      }
      c.phase(f"evictstorm n=$n round=$r serve_s=$s%.2f rows_match=${nowRows == baseRows} " +
        s"zero_dist=${nowRows.count(_._3 == 0)}/$baselineSelf " +
        s"disk_bytes=${diskBytes()} leaked_cum=$leakedTotal")
      index = cur
    }
    ballast.unpersist(blocking = true)
    index.unpersist()
    (baselineSelf, f"build_s=$buildS%.1f rounds=$rounds batch=$effBatch " +
      f"home_cell=$homeCell n_queries=${qIds.length} " +
      f"parity_breaks=$parityBreaks leaked=$leakedTotal " +
      f"max_disk_bytes=$maxDisk last_serve_s=$serveLast%.2f " +
      f"heap_mb=${heap / 1048576} ballast_rows=$ballastRows")
  }

  /** COUNT-MIN (round-11): shuffle volume is bounded by partitions x
    * depth x width CELLS (map-side combine IS the sketch merge), flat as
    * n grows a decade; the exact count's shuffle grows with the distinct
    * keys. */
  private def cms(c: Ctx): (Long, String) = {
    val cfg = graft.operators.CountMin.Config(depth = 4, width = 4096, seed = 5L)
    val toks = c.spark.range(c.n.toLong).select(
      concat(lit("tok"), pmod(xxhash64(col("id")), lit(100000L))).as("term"))
    (graft.operators.CountMin.sketch(toks, "term", cfg).count(), s"cells_max=${cfg.depth * cfg.width}")
  }

  /** KMV (round-11): the distinct-count dual of cms — the k-bounded
    * aggregate's shuffle is capped at groups x k x partitions longs,
    * while exact countDistinct shuffles every distinct key. The estimate
    * is audited in-run against the exact count. */
  private def kmv(c: Ctx): (Long, String) = {
    val k = 256
    val rows = c.spark.range(c.n.toLong).select(
      concat(lit("g"), pmod(col("id"), lit(8L))).as("g"),
      // the distinct universe grows with n (~n/2 distinct keys)
      pmod(xxhash64(col("id")), lit(math.max(1L, c.n.toLong / 2))).as("key"))
    val sk = graft.operators.Kmv.sketch(rows, col("key"), Seq(col("g")), k)
      .withColumn("n_est", graft.operators.Kmv.estimate(col("kmv"), k))
    val (est, sketch) = c.measure("kmv_sketch")(
      sk.select(col("g"), col("n_est")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val (exact, exactSpan) = c.measure("kmv_exact")(
      rows.groupBy(col("g")).agg(countDistinct(col("key")).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val maxErrBp = est.map { case (g, e) =>
      math.abs(e - exact(g)) * 10000 / math.max(1L, exact(g)) }.max
    (est.size.toLong, s"sketch_records=${sketch.total.shuffleWriteRecords} " +
      s"exact_records=${exactSpan.total.shuffleWriteRecords} max_err_bp=$maxErrBp cap=${8 * k}/task")
  }

  /** SEQUENCE PACKING (round-11): fixed-length packing is pure count
    * arithmetic — the only data-sized costs are one range-partition of
    * (id, n_tok) pairs and one seq_id-keyed aggregation; no token string
    * ever exists. */
  private def pack(c: Ctx): (Long, String) = {
    import graft.operators.PrefixSum
    import org.apache.spark.sql.expressions.Window
    val L = 2048L
    val d = c.spark.range(c.n.toLong).select(col("id").as("doc_id"),
      (lit(50L) + pmod(col("id") * 37L, lit(900L))).as("n_tok"))
    val r = PrefixSum.ranged(d, numPartitions = 32, order = Seq(col("doc_id")), weight = col("n_tok"))
    val prev = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seqs = r.df
      .withColumn("start", r.offset + coalesce(sum(col("n_tok")).over(prev), lit(0L)))
      .withColumn("fin", col("start") + col("n_tok"))
      .select(explode(sequence(expr(s"start div $L"), expr(s"(fin - 1) div $L"))).as("seq_id"),
        col("start"), col("fin"))
      .groupBy(col("seq_id"))
      .agg(sum(least(col("fin"), (col("seq_id") + 1) * L) -
        greatest(col("start"), col("seq_id") * L)).as("n_tokens"))
    // one pass for both numbers: two counts would run the whole pipeline
    // twice and report ~2x the cost of one pack
    val row = seqs.agg(count(lit(1)).as("n"),
      sum(when(col("n_tokens") === L, 1L).otherwise(0L)).as("full")).head
    (row.getLong(0), s"full_seqs=${row.getLong(1)} total_tokens=${r.total} L=$L")
  }

  /** The DEDUP regime (threshold 0.85): planted near-dups sit at cosine
    * ~0.99 and banding prunes the background hard — SimHash LSH's sweet
    * spot. (At moderate thresholds like 0.45 the background collision
    * rate keeps candidates ~all-pairs; that regime's scale path is the
    * ANN index — measured once: 434 s at n=1e5 vs 13 s at 0.85.) */
  private def lsh(c: Ctx): (Long, String) = {
    val p = graft.operators.LshPlan.plan(
      threshold = 0.85, targetRecall = 0.95, nBits = 512, n = c.n.toLong)
    val out = graft.operators.Dedup.neardupLsh(c.vecs, "vec_id", "embedding", threshold = 0.85,
      nBits = 512, bands = p.bands, rowsPerBand = p.rowsPerBand)
    (out.count(), s"bands=${p.bands} rows_per_band=${p.rowsPerBand}")
  }
}
