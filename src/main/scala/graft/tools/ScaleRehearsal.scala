package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal for the dedup family (not part of the library
  * surface): run the capped/banded operators on a seeded synthetic
  * corpus at 1x and 10x and print how the bounding mechanisms engage as
  * n grows — measured shuffle-record counts straight from TaskMetrics,
  * not projections. The claim under test: candidate/shuffle volume
  * grows ~linearly (the caps bite), never quadratically (what the
  * uncapped operators would do).
  *
  * Corpus shape mirrors the testdata generator's dup structure: ~60%
  * unique docs, ~20% near-verbatim mirrors (a contained copy inside
  * boilerplate), ~20% docs sharing a long boilerplate run (substring
  * spans); embeddings ~10% perturbed near-dup copies.
  */
object ScaleRehearsal {

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

  private[tools] def mkDocs(spark: SparkSession, n: Int): DataFrame = {
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

  private def mkVecs(spark: SparkSession, n: Int): DataFrame = {
    import graft.hnsw.HnswParams.uniformFromHash
    val dim = 64
    val rows = (0 until n).map { i =>
      val srcId = if (i % 10 == 9) i - 1 else i // 10% near-dup of neighbor
      val eps = if (i % 10 == 9) 0.05f else 0.0f
      val v = Array.tabulate(dim)(d =>
        (uniformFromHash(srcId.toLong * 131 + d, 17L) * 2.0 - 1.0).toFloat +
          eps * (uniformFromHash(i.toLong * 31 + d, 23L) * 2.0 - 1.0).toFloat)
      (i.toLong, v)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding").repartition(32)
  }

  def main(args: Array[String]): Unit = {
    val scales = if (args.nonEmpty) args(0).split(",").map(_.toInt).toSeq
                 else Seq(1000, 10000)
    val ops: String => Boolean =
      if (args.length > 1) args(1).split(",").toSet else (_: String) => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.applyConfigs(SparkSession.builder()
      .master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val collector = graft.trace.Collector.install(spark.sparkContext)

    def run(label: String, n: Int)(mk: => (Long, String)): Unit = {
      System.gc()
      val ((outRows, extra), span) = collector.measure(label)(mk)
      println(f"REHEARSAL $label n=$n out_rows=$outRows " +
        f"shuffle_records=${span.total.shuffleWriteRecords} wall=${span.seconds}%.2fs $extra")
    }

    scales.foreach { n =>
      // durable corpus, not localCheckpoint: under heavy execution-memory
      // pressure (the 100k-doc containment shuffle) Spark can evict
      // non-replicated checkpoint blocks, which are unrecoverable —
      // parquet round-trip makes the input re-readable at any pressure.
      // Generated ONLY when a selected op consumes it: the annserve rung
      // runs at n=1e6, where driver-side doc synthesis would dominate.
      val base = s"/tmp/graft-rehearsal-$n"
      val needDocs = ops("containment") || ops("spans")
      val needVecs = ops("lsh")
      if (needDocs) mkDocs(spark, n).write.mode("overwrite").parquet(s"$base/docs")
      if (needVecs) mkVecs(spark, n).write.mode("overwrite").parquet(s"$base/vecs")
      lazy val docs = spark.read.parquet(s"$base/docs")
      lazy val vecs = spark.read.parquet(s"$base/vecs")

      // ANN SERVING rung (round-10): build + serve the Hamming-code HNSW
      // beyond the Criterion grid's 100k — codes are 8 B/row, so n=1e6
      // is the natural next decade of the 100 TB ladder. Recall is
      // self-match over a ~2000-query sample (every inserted code must
      // find itself — the reference's is_match contract).
      if (ops("annserve")) run("ann_serve_hamming", n) {
        import graft.hnsw.{HnswCodes, HnswParams}
        import spark.implicits._
        // typed map, not a SQL expr: the splitmix-style multiply WRAPS
        // by design, which ANSI mode (Spark 4 default) rejects in SQL
        val codesDf = spark.range(n.toLong).as[Long]
          .map(id => (id, id * -7046029254386353131L + 6364136223846793005L))
          .toDF("id", "code")
          .localCheckpoint(true)
        val t0 = System.nanoTime()
        val model = HnswCodes.buildBatched(
          codesDf, HnswParams.standard(64, 32, 32), seed = 23L)
        val buildS = (System.nanoTime() - t0) / 1e9
        val modelB = HnswCodes.broadcastModel(spark, model)
        // stride guarded for n < 2000 (ANSI mode would throw on % 0);
        // the recall denominator is the ACTUAL sampled query count
        val qDf = codesDf
          .filter(col("id") % math.max(1L, n.toLong / 2000) === 0L)
          .limit(2000).toDF("qid", "qcode").localCheckpoint(true)
        val nq = qDf.count()
        // warm, then time the serving job alone
        HnswCodes.searchBroadcast(qDf.limit(1), modelB, 10)
          .write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        val hits = HnswCodes.searchBroadcast(qDf, modelB, 1)
          .filter(col("qid") === col("id")).count()
        val searchS = (System.nanoTime() - t1) / 1e9
        modelB.destroy()
        (hits, f"build_s=$buildS%.1f search_${nq}q_s=$searchS%.2f " +
          f"self_match=${hits * 100.0 / nq}%.1f%%")
      }

      // Float-vector twin of the annserve rung (dim 64, cosine — the
      // reference's primary representation). buildFromArray takes a
      // driver-side Array regardless, so vectors are synthesized
      // directly on the driver (a Spark-job round-trip would ship the
      // same ~n x 64 floats through serialization twice for nothing).
      if (ops("annserve_float")) run("ann_serve_float", n) {
        import graft.hnsw.{HnswDistributed, HnswParams}
        import graft.hnsw.HnswDistributed.BuildConfig
        import spark.implicits._
        val dim = 64
        def vecOf(id: Long): Array[Float] = Array.tabulate(dim)(d =>
          (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        val rows = Array.tabulate(n)(i => (i.toLong, vecOf(i.toLong)))
        val cfg = BuildConfig(HnswParams.standard(64, 32, 32), "cosine", seed = 9L)
        val t0 = System.nanoTime()
        val model = HnswDistributed.buildFromArray(spark, rows, cfg)
        val buildS = (System.nanoTime() - t0) / 1e9
        val modelB = HnswDistributed.broadcastModel(spark, model)
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 2000)).take(2000)
        val nq = qIds.length
        val qDf = spark.createDataset(qIds.map(id => (id, vecOf(id))))
          .toDF("qid", "qvec")
        HnswDistributed.searchBroadcast(qDf.limit(1), modelB, 10)
          .write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        val hits = HnswDistributed.searchBroadcast(qDf, modelB, 1)
          .filter(col("qid") === col("id")).count()
        val searchS = (System.nanoTime() - t1) / 1e9
        modelB.destroy()
        (hits, f"build_s=$buildS%.1f search_${nq}q_s=$searchS%.2f " +
          f"self_match=${hits * 100.0 / nq}%.1f%%")
      }

      if (ops("containment")) run("containment_df200", n) {
        // the ROUTED entry point: the estimate decides exact vs
        // LSH-verified (the r9 finding — 3.31G candidate rows / 445 s at
        // n=1e5 through the exact plan on this flat-df corpus)
        var route = ""
        val out = graft.operators.Containment.pairsAuto(
          docs, shingleLen = 8, num = 4, den = 5, maxDf = 200,
          onRoute = route = _)
        val outRows = out.count()
        // on the routed path, also measure the candidate volume the
        // banding admitted (the claim under test: ~true-pair order, not
        // the exact plan's Σ C(df,2)) — recomputed standalone, so the
        // timed run above is unaffected
        val extra = if (route.contains("route=lsh")) {
          val nCand = graft.operators.Containment
            .minhashCandidates(docs, 8, 18, 7).count()
          s"$route lsh_candidates=$nCand"
        } else route
        (outRows, extra)
      }
      // the counterfactual: same operator with the cap OFF — the
      // boilerplate shingles' df^2 pair fan-out is what the cap exists
      // to bound (df grows with n, so the uncapped gap WIDENS with n)
      if (ops("containment") && sys.env.contains("REHEARSAL_UNCAPPED")) run("containment_uncapped", n) {
        val out = graft.operators.Containment.pairs(
          docs, shingleLen = 8, num = 4, den = 5)
        (out.count(), "")
      }
      // AS-OF rungs (round-11): the two physical strategies at scale.
      // Shared fact side: n rows over 1024 keys, integer times.
      if (ops("asof")) {
        def factDf = spark.range(n.toLong).select(col("id").as("lid"),
          pmod(col("id"), lit(1024L)).as("k"),
          pmod(xxhash64(col("id"), lit(1L)), lit(10000000L)).as("t"))
        // both-sides-large regime: n/4 ticks across the same keys —
        // the union+window plan's one key shuffle carries l + r rows
        run("asof_window", n) {
          val ticks = spark.range(n.toLong / 4).select(col("id").as("rid"),
            pmod(col("id"), lit(1024L)).as("rk"),
            pmod(xxhash64(col("id"), lit(2L)), lit(10000000L)).as("rt"))
            .dropDuplicates("rk", "rt")
          val out = graft.operators.AsofJoin.backward(
            factDf, ticks, "k", "rk", "t", "rt")
          (out.filter(col("rid").isNotNull).count(), "")
        }
        // dimension-right regime: 64k ticks, broadcast strategy — the
        // claim under test: shuffle records track the TICK side only
        // (the n-row fact side is probed in place, never shuffled)
        run("asof_bcast", n) {
          val ticks = spark.range(65536L).select(col("id").as("rid"),
            pmod(col("id"), lit(1024L)).as("rk"),
            pmod(xxhash64(col("id"), lit(2L)), lit(10000000L)).as("rt"))
            .dropDuplicates("rk", "rt")
          val out = graft.operators.AsofJoin.backwardBroadcast(
            factDf, ticks, "k", "rk", "t", "rt")
          (out.filter(col("rid").isNotNull).count(), "")
        }
      }

      // ROUTED-ANN rung (round-11): the two-level index's serving claim
      // — per-query work scales with nProbe/nCells, so the routed
      // search at nProbe=4 of 64 should serve ~an order cheaper than
      // the exhaustive fan-out on the same index, at high recall on a
      // clustered corpus (64 planted centers; the regime the router is
      // FOR — the catalog's uniform corpus measures the other regime).
      if (ops("routed")) run("ann_routed", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted}
        import spark.implicits._
        val dim = 64
        val nCells = 64
        def vecOf(id: Long): Array[Float] = {
          val c = (id % nCells).toInt
          Array.tabulate(dim)(d =>
            (HnswParams.uniformFromHash(c.toLong * 997 + d, 77L) * 20.0 - 10.0).toFloat +
              (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        }
        val vecs = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec")
          .localCheckpoint(true)
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "cosine", seed = 9L)
        val t0 = System.nanoTime()
        val index = HnswRouted.build(vecs, cfg, nCells)
        val buildS = (System.nanoTime() - t0) / 1e9
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 1000)).take(1000)
        val qDf = spark.createDataset(qIds.map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        def serve(p: Int, ef0: Int = 0): (Double, Long) = {
          val t = System.nanoTime()
          val self = HnswRouted.search(index, qDf, 1, nProbe = p, ef0 = ef0)
            .filter(col("qid") === col("id")).count()
          ((System.nanoTime() - t) / 1e9, self)
        }
        serve(1) // warm
        val (wallRouted, selfRouted) = serve(4)
        val (wallFull, _) = serve(nCells)
        // the dense-cell recall knob: same fan-out, wider in-cell beam
        val (wallWide, selfWide) = serve(4, ef0 = 128)
        index.unpersist()
        (selfRouted, f"build_s=$buildS%.1f probe4_s=$wallRouted%.2f " +
          f"probe${nCells}_s=$wallFull%.2f self_match=${selfRouted * 100.0 / qIds.length}%.1f%% " +
          f"probe4_ef128_s=$wallWide%.2f self_match_ef128=${selfWide * 100.0 / qIds.length}%.1f%%")
      }

      // ROUTED-DURABLE rung (round-12): the restart story. Build once,
      // persist the five-table parquet image, ATTACH — the claim is
      // reattach ≪ rebuild (attach is a parquet scan + CSR assembly; no
      // k-means, no graph construction) with search row-count parity.
      if (ops("routed_durable")) run("ann_routed_durable", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted}
        import spark.implicits._
        val dim = 64
        val nCells = 64
        def vecOf(id: Long): Array[Float] = {
          val c = (id % nCells).toInt
          Array.tabulate(dim)(d =>
            (HnswParams.uniformFromHash(c.toLong * 997 + d, 77L) * 20.0 - 10.0).toFloat +
              (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        }
        val vecs = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec")
          .localCheckpoint(true)
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "cosine", seed = 9L)
        val t0 = System.nanoTime()
        val index = HnswRouted.build(vecs, cfg, nCells)
        val buildS = (System.nanoTime() - t0) / 1e9
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 1000)).take(1000)
        val qDf = spark.createDataset(qIds.map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        val before = HnswRouted.search(index, qDf, 1, nProbe = 4)
          .filter(col("qid") === col("id")).count()
        val dir = s"$base/routed_idx"
        val t1 = System.nanoTime()
        HnswRouted.save(index, dir)
        val saveS = (System.nanoTime() - t1) / 1e9
        index.unpersist()
        val t2 = System.nanoTime()
        val restored = HnswRouted.attach(spark, dir)
        val attachS = (System.nanoTime() - t2) / 1e9
        val after = HnswRouted.search(restored, qDf, 1, nProbe = 4)
          .filter(col("qid") === col("id")).count()
        restored.unpersist()
        (after, f"build_s=$buildS%.1f save_s=$saveS%.1f attach_s=$attachS%.1f " +
          f"attach_over_build=${attachS / buildS}%.3f parity=${before == after}")
      }

      // ROUTED-SKEW rung (round-12): geometric cluster-mass skew
      // (cluster c holds ~2^-(c+1) of the corpus, so cluster 0 is ~n/2
      // rows — far over a n/4 budget). The claim: the skew guard SPLITS
      // the heavy cells instead of materializing them whole, the build
      // completes on the default heap, and routed recall holds a floor.
      if (ops("routed_skew")) run("ann_routed_skew", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted}
        import spark.implicits._
        val dim = 64
        val nCells = 16
        def clusterOf(id: Long): Int = {
          val u = HnswParams.uniformFromHash(id, 41L)
          math.min(15, (-math.log(math.max(1e-12, 1.0 - u)) / math.log(2.0)).toInt)
        }
        def vecOf(id: Long): Array[Float] = {
          val c = clusterOf(id)
          Array.tabulate(dim)(d =>
            (HnswParams.uniformFromHash(c.toLong * 997 + d, 77L) * 20.0 - 10.0).toFloat +
              (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        }
        val vecs = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec")
          .localCheckpoint(true)
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "cosine", seed = 9L)
        val budget = math.max(1000L, n.toLong / 4)
        val t0 = System.nanoTime()
        val index = HnswRouted.build(vecs, cfg, nCells, maxCellRows = budget)
        val buildS = (System.nanoTime() - t0) / 1e9
        val stats = HnswRouted.cellStats(index)
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 1000)).take(1000)
        val qDf = spark.createDataset(qIds.map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        val self = HnswRouted.search(index, qDf, 1, nProbe = 4)
          .filter(col("qid") === col("id")).count()
        index.unpersist()
        (self, f"build_s=$buildS%.1f budget=$budget split_parents=${index.router.sub.size} " +
          f"final_cells=${stats.length} max_cell=${stats.map(_._2).max} " +
          f"self_match=${self * 100.0 / qIds.length}%.1f%%")
      }

      // ROUTED-HAMMING rung (round-12): the tier with NO broadcast
      // envelope — 8 B/row codes, k-majority router, per-cell graphs.
      // This is the 1e8 decade the float broadcast build fails fast on;
      // the claim is build parallelizes across cells, probe cost tracks
      // nProbe/nCells, and self-match holds on a clustered corpus.
      if (ops("routed_hamming")) run("ann_routed_hamming", n) {
        import graft.hnsw.{HnswParams, HnswRoutedCodes}
        import spark.implicits._
        // keep cells ~100k rows across decades (the healthy ladder):
        // 1e6/64, 1e7/256, 1e8/1024 — per-cell graphs materialize in
        // executor memory, so cell size, not n, is the envelope.
        val nCells =
          if (n >= 100000000) 1024 else if (n >= 10000000) 256 else 64
        def anchorOf(c: Int): Long =
          java.lang.Double.doubleToRawLongBits(
            HnswParams.uniformFromHash(c.toLong, 77L))
        def codeOf(id: Long): Long = {
          // cluster member: anchor with 12 seeded bit flips. Flip
          // entropy matters for the SELF-MATCH stat: at 4 flips the
          // ~C(64,4) code space collides at 1e6 rows/cluster (distinct
          // ids share a code, a 0-distance tie answers with the other
          // id and reads as a miss); C(64,12) ~ 3e12 keeps collisions
          // negligible through 1e8 while anchors stay ~32 bits apart
          var code = anchorOf((id % nCells).toInt)
          var k = 0
          while (k < 12) {
            val bit = (HnswParams.uniformFromHash(id * 13 + k, 13L) * 64).toInt.min(63)
            code ^= (1L << bit)
            k += 1
          }
          code
        }
        val codes = spark.range(n.toLong).as[Long]
          .map(id => (id, codeOf(id))).toDF("id", "code")
          .localCheckpoint(true)
        val t0 = System.nanoTime()
        val index = HnswRoutedCodes.build(codes,
          HnswParams.standard(64, 32, 16), nCells, seed = 42L)
        val buildS = (System.nanoTime() - t0) / 1e9
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 2000)).take(2000)
        val qDf = spark.createDataset(qIds.map(id => (id, codeOf(id))))
          .toDF("qid", "qcode").localCheckpoint(true)
        def serve(p: Int): (Double, Long) = {
          val t = System.nanoTime()
          val self = HnswRoutedCodes.search(index, qDf, 1, nProbe = p)
            .filter(col("qid") === col("id")).count()
          ((System.nanoTime() - t) / 1e9, self)
        }
        serve(1) // warm
        val (wallRouted, selfRouted) = serve(8)
        val (wallFull, _) = serve(nCells)
        // SINGLE-query latency: with partition pruning this schedules
        // nProbe tasks instead of nCells — the serving floor the 1e8
        // rung exposed (at 1024 cells a batch pass pays 1024 launches)
        val q1 = spark.createDataset(Seq((qIds.head, codeOf(qIds.head))))
          .toDF("qid", "qcode").localCheckpoint(true)
        def serve1(): Double = {
          val t = System.nanoTime()
          HnswRoutedCodes.search(index, q1, 1, nProbe = 8)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
        serve1() // warm
        val singleQ = (0 until 3).map(_ => serve1()).min
        index.unpersist()
        (selfRouted, f"build_s=$buildS%.1f cells=$nCells probe8_s=$wallRouted%.2f " +
          f"probe${nCells}_s=$wallFull%.2f " +
          f"self_match=${selfRouted * 100.0 / qIds.length}%.1f%% " +
          f"single_q_probe8_s=$singleQ%.3f")
      }

      // ROUTED-CODES-DURABLE rung (round-13): the restart story for the
      // 1e8-decade tier — build the routed code index once, persist the
      // parquet image, ATTACH (a parquet scan + CSR assembly, no
      // k-majority training), then INGEST a 5% batch into the attached
      // copy. Claims: attach ≪ build, ingest cost tracks the batch (the
      // corpus never moves — narrow index-side dependency), search
      // parity across the round-trip.
      if (ops("routed_codes_durable")) run("ann_routed_codes_durable", n) {
        import graft.hnsw.{HnswParams, HnswRoutedCodes}
        import spark.implicits._
        val nCells =
          if (n >= 100000000) 1024 else if (n >= 10000000) 256 else 64
        def anchorOf(c: Int): Long =
          java.lang.Double.doubleToRawLongBits(
            HnswParams.uniformFromHash(c.toLong, 77L))
        def codeOf(id: Long): Long = {
          var code = anchorOf((id % nCells).toInt)
          var k = 0
          while (k < 12) {
            val bit = (HnswParams.uniformFromHash(id * 13 + k, 13L) * 64).toInt.min(63)
            code ^= (1L << bit)
            k += 1
          }
          code
        }
        val codes = spark.range(n.toLong).as[Long]
          .map(id => (id, codeOf(id))).toDF("id", "code")
          .localCheckpoint(true)
        val params = HnswParams.standard(64, 32, 16)
        // 1e8 in LOCAL mode: the durable round-trip transiently holds
        // TWO full indexes (restored + merged during ingest) — ~60 GB
        // of CSR graphs that no single local heap should hold. The
        // DISK_ONLY residency knob is exactly this regime's lever; a
        // cluster spreads the same bytes and keeps MEMORY_AND_DISK.
        val storage =
          if (n >= 100000000) org.apache.spark.storage.StorageLevel.DISK_ONLY
          else HnswRoutedCodes.DefaultStorage
        val t0 = System.nanoTime()
        val index = HnswRoutedCodes.build(codes, params, nCells, seed = 42L,
          storage = storage)
        val buildS = (System.nanoTime() - t0) / 1e9
        // phase prints: an hour-long decade rung must not lose its
        // completed phases to a crash in a later one (the first 1e8
        // attempt finished build+save+attach and then hit the DISK
        // envelope in ingest — every number unobserved)
        println(f"REHEARSAL_PHASE routed_codes_durable n=$n build_s=$buildS%.1f")
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 2000)).take(2000)
        val qDf = spark.createDataset(qIds.map(id => (id, codeOf(id))))
          .toDF("qid", "qcode").localCheckpoint(true)
        val before = HnswRoutedCodes.search(index, qDf, 1, nProbe = 8)
          .filter(col("qid") === col("id")).count()
        val dir = s"$base/routed_codes_idx"
        val t1 = System.nanoTime()
        HnswRoutedCodes.save(index, dir)
        val saveS = (System.nanoTime() - t1) / 1e9
        println(f"REHEARSAL_PHASE routed_codes_durable n=$n save_s=$saveS%.1f")
        index.shards.unpersist(blocking = true)
        val t2 = System.nanoTime()
        val restored = HnswRoutedCodes.attach(spark, dir, storage = storage)
        val attachS = (System.nanoTime() - t2) / 1e9
        val after = HnswRoutedCodes.search(restored, qDf, 1, nProbe = 8)
          .filter(col("qid") === col("id")).count()
        println(f"REHEARSAL_PHASE routed_codes_durable n=$n attach_s=$attachS%.1f " +
          f"attach_over_build=${attachS / buildS}%.3f parity=${before == after}")
        // incremental: a 5% batch of NEW ids into the attached copy —
        // the cost claim is O(batch), not O(corpus). Skippable: at 1e8
        // the merge holds restored + merged full copies (~60 GB of
        // blocks) ON TOP of the parquet image — past this host's disk.
        val (ingestS, tail) =
          if (sys.env.contains("REHEARSAL_SKIP_INGEST")) (0.0, "ingest=skipped")
          else {
            val batch = spark.range(n.toLong, n.toLong + n.toLong / 20).as[Long]
              .map(id => (id, codeOf(id))).toDF("id", "code")
              .localCheckpoint(true)
            val t3 = System.nanoTime()
            val grown = HnswRoutedCodes.ingest(restored, batch)
            val s = (System.nanoTime() - t3) / 1e9
            grown.unpersist()
            (s, f"ingest5pct_s=$s%.1f ingest_over_build=${s / buildS}%.3f")
          }
        (after, f"build_s=$buildS%.1f save_s=$saveS%.1f attach_s=$attachS%.1f " +
          f"attach_over_build=${attachS / buildS}%.3f parity=${before == after} $tail")
      }

      // ROUTED-DELETE rung (round-14): the serving lifecycle at scale.
      // Claims measured: (1) delete is O(set) handle metadata — no
      // index work; (2) tombstone serving costs a bounded overhead
      // over plain serving (the per-cell predicated loop only escalates
      // where eligible density is low); (3) compaction cost is
      // proportional to TOUCHED cells — a cell-local deletion (wipe 3
      // whole clusters: the "remove one tenant/source" shape) compacts
      // at ~3/nCells of a rebuild, while a SCATTERED 1% deletion
      // touches every cell and compacts at ~rebuild cost — the "batch
      // scattered deletes until amortized" discipline, stated with
      // numbers; (4) deleted ids never surface (exclusion correctness
      // at scale).
      if (ops("routed_delete")) run("ann_routed_delete", n) {
        import graft.hnsw.{HnswParams, HnswRoutedCodes}
        import spark.implicits._
        val nCells =
          if (n >= 100000000) 1024 else if (n >= 10000000) 256 else 64
        def anchorOf(c: Int): Long =
          java.lang.Double.doubleToRawLongBits(
            HnswParams.uniformFromHash(c.toLong, 77L))
        def codeOf(id: Long): Long = {
          var code = anchorOf((id % nCells).toInt)
          var k = 0
          while (k < 12) {
            val bit = (HnswParams.uniformFromHash(id * 13 + k, 13L) * 64).toInt.min(63)
            code ^= (1L << bit)
            k += 1
          }
          code
        }
        val codes = spark.range(n.toLong).as[Long]
          .map(id => (id, codeOf(id))).toDF("id", "code")
          .localCheckpoint(true)
        val params = HnswParams.standard(64, 32, 16)
        val t0 = System.nanoTime()
        val index = HnswRoutedCodes.build(codes, params, nCells, seed = 42L)
        val buildS = (System.nanoTime() - t0) / 1e9
        println(f"REHEARSAL_PHASE routed_delete n=$n build_s=$buildS%.1f")
        // survivor queries: members of clusters >= 3 (untouched by the
        // cell-local deletion below)
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 4000))
          .filter(_ % nCells >= 3).take(2000)
        val qDf = spark.createDataset(qIds.map(id => (id, codeOf(id))))
          .toDF("qid", "qcode").localCheckpoint(true)
        def selfMatch(idx: HnswRoutedCodes.RoutedCodeIndex): (Double, Long) = {
          val t = System.nanoTime()
          val self = HnswRoutedCodes.search(idx, qDf, 1, nProbe = 8)
            .filter(col("qid") === col("id")).count()
          ((System.nanoTime() - t) / 1e9, self)
        }
        selfMatch(index) // warm
        // min-of-2 (the bench grid's protocol): single-shot serving
        // numbers on a shared host carry contention windows
        val plainS = math.min(selfMatch(index)._1, selfMatch(index)._1)
        // ---- cell-local deletion: wipe clusters 0..2 whole
        val deadLocal = codes.filter(col("id") % nCells < 3).select(col("id"))
        val t1 = System.nanoTime()
        val tombed = HnswRoutedCodes.delete(index, deadLocal)
        val deleteS = (System.nanoTime() - t1) / 1e9
        // warm the PREDICATED code path before timing it (the earlier
        // warm ran the plain branch; without this the tomb number
        // measures JIT compilation of a cold call site, not serving)
        selfMatch(tombed)
        // interleaved bracket: host noise moves plain and tomb
        // together; a systematic gap survives the interleave. The
        // one-id variant separates branch cost from dead-set cost.
        val tombedOne = HnswRoutedCodes.delete(index,
          codes.limit(1).select(col("id")))
        selfMatch(tombedOne) // warm
        val inter = (0 until 3).map { _ =>
          (selfMatch(index)._1, selfMatch(tombedOne)._1, selfMatch(tombed)._1) }
        println(f"REHEARSAL_PHASE routed_delete n=$n interleave_plain_one_full=" +
          inter.map { case (p, o, t) => f"$p%.2f/$o%.2f/$t%.2f" }.mkString(","))
        val r1 = selfMatch(tombed); val r2 = selfMatch(tombed)
        val (tombS, tombSelf) =
          if (r1._1 <= r2._1) r1 else r2
        // exclusion correctness: members of a wiped cluster must not
        // find THEMSELVES (their nearest eligible is a survivor)
        val deadQ = spark.createDataset(
            (0L until n.toLong by math.max(1L, n.toLong / 500))
              .filter(_ % nCells == 0).take(500).map(id => (id, codeOf(id))))
          .toDF("qid", "qcode").localCheckpoint(true)
        val leaked = HnswRoutedCodes.search(tombed, deadQ, 1, nProbe = 8)
          .filter(col("qid") === col("id")).count()
        println(f"REHEARSAL_PHASE routed_delete n=$n delete_s=$deleteS%.3f " +
          f"plain_probe8_s=$plainS%.2f tomb_probe8_s=$tombS%.2f leaked=$leaked")
        // ---- PATCHED compaction first (round-15): persists only the
        // rebuilt cells' overlay — the full-copy variant below is the
        // churn this exists to remove (839.7 s for 3/1024 cells at 1e8,
        // nearly all block re-persist traffic). Measured on the same
        // tombed handle, released before the full compact runs.
        val tP = System.nanoTime()
        val patchedIdx = HnswRoutedCodes.compactPatched(tombed)
        val compactPatchS = (System.nanoTime() - tP) / 1e9
        selfMatch(patchedIdx) // warm
        val (patchServeS, patchSelf) = {
          val r1 = selfMatch(patchedIdx); val r2 = selfMatch(patchedIdx)
          if (r1._1 <= r2._1) r1 else r2
        }
        println(f"REHEARSAL_PHASE routed_delete n=$n compact_patched_s=$compactPatchS%.1f " +
          f"patched_probe8_s=$patchServeS%.2f patched_self=$patchSelf")
        patchedIdx.unpersist() // overlay only; the base stays cached
        // ---- compact the cell-local deletion: ~3/nCells of a rebuild.
        // unpersistPrior frees the ORIGINAL index as soon as the
        // compacted copy materializes: this rung otherwise holds up to
        // four full indexes at once and measures cache thrash, not
        // compaction (the first 1e7 run read compact ~= rebuild for
        // exactly that reason)
        val t2 = System.nanoTime()
        val compacted = HnswRoutedCodes.compact(tombed)
        val compactLocalS = (System.nanoTime() - t2) / 1e9
        val (compS, compSelf) = selfMatch(compacted)
        println(f"REHEARSAL_PHASE routed_delete n=$n compact_local_s=$compactLocalS%.1f " +
          f"compact_over_build=${compactLocalS / buildS}%.3f " +
          f"post_compact_probe8_s=$compS%.2f parity=${compSelf == tombSelf}")
        // ---- scattered 1% deletion (survivor clusters only): touches
        // every cell, so compaction degrades to ~rebuild — measured to
        // state the discipline, not to pass a gate. SKIPPED at the 1e8
        // decade unless REHEARSAL_FULL is set: the leg is O(rebuild)
        // (~40 min at 1e8) and its shape was pinned at 1e6/1e7; the 1e8
        // rung's questions are the threshold compact + re-ingest.
        val fullLifecycle = n < 100000000 || sys.env.contains("REHEARSAL_FULL")
        // ~1% of survivors, scattered across ALL cells (97 is coprime
        // with the power-of-two-ish cluster stride, so every cluster
        // contributes; note `/` on int columns is DOUBLE division in
        // Spark SQL — modulo on a quotient would silently select ~0 rows)
        val compactScatterS = if (!fullLifecycle) -1.0 else {
          val deadScatter = codes
            .filter(col("id") % nCells >= 3 && col("id") % 97 === 0)
            .select(col("id"))
          val tombed2 = HnswRoutedCodes.delete(compacted, deadScatter)
          val t3 = System.nanoTime()
          val compacted2 = HnswRoutedCodes.compact(tombed2, unpersistPrior = false)
          val s = (System.nanoTime() - t3) / 1e9
          compacted2.unpersist()
          s
        }
        println(f"REHEARSAL_PHASE routed_delete n=$n compact_scatter_s=$compactScatterS%.1f")
        // ---- RE-INGEST the freed ids (the lifecycle's last leg: the
        // threshold compact emptied the deletion set, so the wiped ids
        // are ingestable again — delete -> serve -> compact ->
        // re-ingest). A slice of cluster 0, sized like a real backfill.
        val reIds = (0L until n.toLong by nCells.toLong).take(50000)
        val reDf = spark.createDataset(reIds.map(id => (id, codeOf(id))))
          .toDF("id", "code").localCheckpoint(true)
        val t5 = System.nanoTime()
        val reIn = HnswRoutedCodes.ingest(compacted, reDf) // unpersists prior
        val ingestS = (System.nanoTime() - t5) / 1e9
        val reQ = spark.createDataset(reIds.take(500).map(id => (id, codeOf(id))))
          .toDF("qid", "qcode").localCheckpoint(true)
        val reBack = HnswRoutedCodes.search(reIn, reQ, 1, nProbe = 8)
          .filter(col("qid") === col("id")).count()
        val (reServeS, reSelf) = {
          val t = System.nanoTime()
          val self = HnswRoutedCodes.search(reIn, qDf, 1, nProbe = 8)
            .filter(col("qid") === col("id")).count()
          ((System.nanoTime() - t) / 1e9, self)
        }
        // re-ingest grows the index from the compacted survivors, so
        // the survivor-query self-match must hold parity exactly
        println(f"REHEARSAL_PHASE routed_delete n=$n reingest_s=$ingestS%.1f " +
          f"reingest_found=${reBack}/500 post_reingest_probe8_s=$reServeS%.2f " +
          f"survivor_parity=${reSelf == compSelf}")
        reIn.unpersist()
        // ---- rebuild reference: fresh build of the cell-local
        // survivors (skipped with the scattered leg at 1e8 — O(build))
        val rebuildS = if (!fullLifecycle) -1.0 else {
          val t4 = System.nanoTime()
          val rebuilt = HnswRoutedCodes.build(
            codes.filter(col("id") % nCells >= 3), params, nCells, seed = 42L)
          val s = (System.nanoTime() - t4) / 1e9
          rebuilt.unpersist()
          s
        }
        (tombSelf, f"reingest_s=$ingestS%.1f reingest_found=$reBack " +
          f"build_s=$buildS%.1f delete_s=$deleteS%.3f " +
          f"plain_probe8_s=$plainS%.2f tomb_probe8_s=$tombS%.2f " +
          f"tomb_overhead=${tombS / plainS}%.2fx leaked=$leaked " +
          f"compact_local_s=$compactLocalS%.1f compact_scatter_s=$compactScatterS%.1f " +
          f"rebuild_s=$rebuildS%.1f " +
          (if (rebuildS > 0)
            f"compact_local_over_rebuild=${compactLocalS / rebuildS}%.3f " +
              f"compact_scatter_over_rebuild=${compactScatterS / rebuildS}%.3f "
           else f"compact_local_over_build=${compactLocalS / buildS}%.3f ") +
          f"self_match=${tombSelf * 100.0 / qIds.length}%.1f%%")
      }

      // FLOAT twin of the routed_delete rung (same lifecycle, 256 B
      // vectors instead of 8 B codes — the memory-heavy tier where the
      // compaction copy-through costs proportionally more).
      if (ops("routed_delete_float")) run("ann_routed_delete_float", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted}
        import spark.implicits._
        val dim = 64
        val nCells = if (n >= 10000000) 256 else 64
        def centerOf(c: Int): Array[Float] =
          Array.tabulate(dim)(d =>
            (HnswParams.uniformFromHash(c.toLong * 997 + d, 77L) * 20.0 - 10.0).toFloat)
        def vecOf(id: Long): Array[Float] = {
          val c = centerOf((id % nCells).toInt)
          Array.tabulate(dim)(d => c(d) +
            (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        }
        val vecs = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec")
          .localCheckpoint(true)
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "cosine", seed = 9L)
        val t0 = System.nanoTime()
        val index = HnswRouted.build(vecs, cfg, nCells)
        val buildS = (System.nanoTime() - t0) / 1e9
        println(f"REHEARSAL_PHASE routed_delete_float n=$n build_s=$buildS%.1f")
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 4000))
          .filter(_ % nCells >= 3).take(2000)
        val qDf = spark.createDataset(qIds.map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        def selfMatch(idx: HnswRouted.RoutedIndex): (Double, Long) = {
          val t = System.nanoTime()
          val self = HnswRouted.search(idx, qDf, 1, nProbe = 8)
            .filter(col("qid") === col("id")).count()
          ((System.nanoTime() - t) / 1e9, self)
        }
        selfMatch(index) // warm
        val plainS = math.min(selfMatch(index)._1, selfMatch(index)._1)
        val deadLocal = vecs.filter(col("id") % nCells < 3).select(col("id"))
        val t1 = System.nanoTime()
        val tombed = HnswRouted.delete(index, deadLocal)
        val deleteS = (System.nanoTime() - t1) / 1e9
        selfMatch(tombed) // warm the predicated path
        val r1 = selfMatch(tombed); val r2 = selfMatch(tombed)
        val (tombS, tombSelf) = if (r1._1 <= r2._1) r1 else r2
        val deadQ = spark.createDataset(
            (0L until n.toLong by math.max(1L, n.toLong / 500))
              .filter(_ % nCells == 0).take(500).map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        val leaked = HnswRouted.search(tombed, deadQ, 1, nProbe = 8)
          .filter(col("qid") === col("id")).count()
        val t2 = System.nanoTime()
        val compacted = HnswRouted.compact(tombed)
        val compactS = (System.nanoTime() - t2) / 1e9
        val (compS, compSelf) = selfMatch(compacted)
        val t4 = System.nanoTime()
        val rebuilt = HnswRouted.build(
          vecs.filter(col("id") % nCells >= 3), cfg, nCells)
        val rebuildS = (System.nanoTime() - t4) / 1e9
        rebuilt.unpersist(); compacted.unpersist()
        // NOTE: unlike the codes rung's tight 12-flip clusters, float
        // ANN-regime self-match legitimately differs a little between
        // tombstone serving (original graphs, dead conduct) and the
        // compacted rebuild (different graphs) — report both counts,
        // not a boolean that reads like a failure
        (tombSelf, f"build_s=$buildS%.1f delete_s=$deleteS%.3f " +
          f"plain_probe8_s=$plainS%.2f tomb_probe8_s=$tombS%.2f " +
          f"tomb_overhead=${tombS / plainS}%.2fx leaked=$leaked " +
          f"compact_local_s=$compactS%.1f rebuild_s=$rebuildS%.1f " +
          f"compact_over_rebuild=${compactS / rebuildS}%.3f " +
          f"post_compact_probe8_s=$compS%.2f " +
          f"self_tomb=${tombSelf * 100.0 / qIds.length}%.1f%% " +
          f"self_compacted=${compSelf * 100.0 / qIds.length}%.1f%%")
      }

      // DISTRIBUTED QUERY ROUTING rung (round-15): the routed tier as
      // the BATCH side of a similarity join — n queries against an
      // n-row corpus. The driver-routed path would hold nProbe copies
      // of every (qid, float[64]) on the driver (~1.5 GB boxed at 1e6
      // × 4 — and 1e8 queries is a hard OOM); search() auto-reroutes
      // above DriverRouteMax through the distributed path, whose only
      // query-side state is one shuffle of (cell, qid, vec) rows.
      if (ops("routed_distrib")) run("ann_routed_distrib", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted}
        import spark.implicits._
        val dim = 64
        val nCells = if (n >= 10000000) 256 else 64
        def centerOf(c: Int): Array[Float] =
          Array.tabulate(dim)(d =>
            (HnswParams.uniformFromHash(c.toLong * 997 + d, 77L) * 20.0 - 10.0).toFloat)
        def vecOf(id: Long): Array[Float] = {
          val c = centerOf((id % nCells).toInt)
          Array.tabulate(dim)(d => c(d) +
            (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        }
        val vecs = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec")
          .localCheckpoint(true)
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "cosine", seed = 9L)
        val index = HnswRouted.build(vecs, cfg, nCells)
        // the full corpus AS the query batch (qvec = the member's own
        // vector, so self-match doubles as the correctness signal)
        val qDf = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("qid", "qvec")
          .localCheckpoint(true)
        assert(n > HnswRouted.DriverRouteMax,
          "rung must exceed the cutover to exercise the distributed path")
        val t0 = System.nanoTime()
        // search() itself: proves the AUTO cutover reroutes (1e6 >
        // DriverRouteMax), not just the explicit entry point
        val self = HnswRouted.search(index, qDf, 10, nProbe = 4)
          .filter(col("qid") === col("id")).count()
        val wall = (System.nanoTime() - t0) / 1e9
        index.unpersist()
        (self, f"queries=$n qps=${n / wall}%.0f " +
          f"self_match=${self * 100.0 / n}%.1f%% " +
          f"driver_route_max=${HnswRouted.DriverRouteMax}")
      }

      // MERGED-CELL REMEDY rung (round-15, ROUND14 §5's residual): a
      // two-level geometry plants the merge (two sub-clusters per
      // k-means cell), wiping one sub-cluster creates the regime where
      // tombstone serving paid the 1.5x floor; the audit must flag the
      // cell and the targeted compact must bring dead-side serving back
      // to ~plain (<= 1.2x is the round-15 done bar).
      if (ops("merged_remedy")) run("ann_merged_remedy", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted}
        import spark.implicits._
        val dim = 64
        val nCells = if (n >= 10000000) 64 else 16
        val nSub = nCells * 2
        def subCenter(g: Int): Array[Float] = {
          val sup = g / 2
          Array.tabulate(dim)(d =>
            (((HnswParams.uniformFromHash(sup.toLong * 997 + d, 77L) * 2 - 1) * 40.0) +
             ((HnswParams.uniformFromHash(1000L + g.toLong * 31 + d, 99L) * 2 - 1) * 6.0)).toFloat)
        }
        def vecOf(id: Long): Array[Float] = {
          val c = subCenter((id % nSub).toInt)
          Array.tabulate(dim)(d => c(d) +
            (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        }
        val vecs = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec")
          .localCheckpoint(true)
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "l2", seed = 9L)
        val index = HnswRouted.build(vecs, cfg, nCells)
        // queries arrive ON THE DEAD SIDE: perturbed members of the
        // sub-cluster about to be wiped — the regime that paid the tax
        val qDf = spark.createDataset(
            (0L until n.toLong by nSub.toLong).take(2000)
              .map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        def serve(idx: HnswRouted.RoutedIndex): Double = {
          val t = System.nanoTime()
          HnswRouted.search(idx, qDf, 10, nProbe = 4)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
        serve(index) // warm
        val plainS = math.min(serve(index), serve(index))
        val tombed = HnswRouted.delete(index,
          vecs.filter(col("id") % nSub === 0).select(col("id")))
        serve(tombed) // warm the predicated path
        val tombS = math.min(serve(tombed), serve(tombed))
        val t1 = System.nanoTime()
        val audit = HnswRouted.mergedCellAudit(tombed).collect()
        val auditS = (System.nanoTime() - t1) / 1e9
        println("REHEARSAL_PHASE merged_remedy audit: " + audit.mkString(" | "))
        val t2 = System.nanoTime()
        val (rem, flagged) = HnswRouted.remediateMergedCells(tombed)
        val remS = (System.nanoTime() - t2) / 1e9
        serve(rem) // warm
        val postS = math.min(serve(rem), serve(rem))
        rem.unpersist()
        // BUILD-TIME modality flag (round-15, second session): the same
        // geometry built with the split guard ON — the census splits
        // the bimodal cells at build, so the delete leaves whole CELLS
        // dead, which predicated serving skips outright; no audit, no
        // remedy pass, no tax window between delete and remediation.
        val t3 = System.nanoTime()
        val flagIdx = HnswRouted.build(vecs, cfg, nCells,
          modalitySplit = true)
        val flagBuildS = (System.nanoTime() - t3) / 1e9
        serve(flagIdx) // warm
        val flagPlainS = math.min(serve(flagIdx), serve(flagIdx))
        val flagTombed = HnswRouted.delete(flagIdx,
          vecs.filter(col("id") % nSub === 0).select(col("id")))
        serve(flagTombed) // warm the predicated path
        val flagTombS = math.min(serve(flagTombed), serve(flagTombed))
        println(f"REHEARSAL_PHASE merged_remedy n=$n " +
          f"modality_build_s=$flagBuildS%.1f " +
          f"split_parents=${flagIdx.router.sub.size} " +
          f"flag_plain_s=$flagPlainS%.2f flag_tomb_s=$flagTombS%.2f " +
          f"flag_tomb_overhead=${flagTombS / flagPlainS}%.2fx")
        flagIdx.unpersist()
        (flagged.length.toLong,
          f"plain_s=$plainS%.2f tomb_s=$tombS%.2f " +
          f"tomb_overhead=${tombS / plainS}%.2fx " +
          f"audit_s=$auditS%.1f remedy_s=$remS%.1f flagged=${flagged.length} " +
          f"post_s=$postS%.2f post_overhead=${postS / plainS}%.2fx " +
          f"residual_tombstones=${rem.tombstones.length} " +
          f"modality_build_s=$flagBuildS%.1f " +
          f"split_parents=${flagIdx.router.sub.size} " +
          f"flag_tomb_overhead=${flagTombS / flagPlainS}%.2fx " +
          f"flag_tomb_s=$flagTombS%.2f flag_plain_s=$flagPlainS%.2f")
      }

      // MERGED-CELL remedy rung on the CODES tier (round-16): the
      // float leg's regime re-planted in Hamming space — the
      // k-majority router merges two code modes per cell (two-level
      // geometry: far supers, near sub-modes), a mode-aligned delete
      // turns one cell half-dead with the dead mass geometrically
      // clustered, and queries arrive ON THE DEAD SIDE. Measures the
      // serving tax, the audit, the targeted remedy, and the
      // build-time modality guard — the 1e8-decade tier's counterpart
      // of the failure class the float tier measured at 11.6×.
      if (ops("merged_remedy_codes")) run("ann_merged_remedy_codes", n) {
        import graft.hnsw.{HnswParams, HnswRoutedCodes}
        import spark.implicits._
        val nCells = if (n >= 10000000) 64 else 16
        val nSub = nCells * 2
        @inline def mix(z0: Long): Long = {
          var z = z0 + 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z ^ (z >>> 31)
        }
        def codeOf(id: Long): Long = {
          val g = (id % nSub).toInt
          val mode = mix(0xC0DEL + g / 2) ^ (0xFFL << ((g % 2) * 8))
          val n1 = (mix(id * 31L + 7L) & 63L).toInt
          val n2 = (mix(id * 57L + 11L) & 63L).toInt
          mode ^ (1L << n1) ^ (1L << n2)
        }
        val codesDf = spark.range(n.toLong).as[Long]
          .map(id => (id, codeOf(id))).toDF("id", "code")
          .localCheckpoint(true)
        val params = HnswParams.standard(64, 32, 16)
        val index = HnswRoutedCodes.build(codesDf, params, nCells)
        // dead-side queries: perturbed members of the mode about to die
        val qDf = spark.createDataset(
            (0L until n.toLong by nSub.toLong).take(2000)
              .map(id => (id, codeOf(id) ^ (1L << 3))))
          .toDF("qid", "qcode").localCheckpoint(true)
        def serve1(idx: HnswRoutedCodes.RoutedCodeIndex): Double = {
          val t = System.nanoTime()
          HnswRoutedCodes.search(idx, qDf, 10, nProbe = 4)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
        // sub-second serves: warm once, then min-of-3 after a GC settle
        // (the linear-grid re-time discipline — post-build allocation
        // noise dominated a first cut of this leg's flag phase)
        def serve(idx: HnswRoutedCodes.RoutedCodeIndex): Double = {
          System.gc()
          serve1(idx) // warm
          Seq(serve1(idx), serve1(idx), serve1(idx)).min
        }
        val plainS = serve(index)
        val tombed = HnswRoutedCodes.delete(index,
          codesDf.filter(col("id") % nSub === 0).select(col("id")))
        val tombS = serve(tombed)
        val t1 = System.nanoTime()
        val audit = HnswRoutedCodes.mergedCellAudit(tombed).collect()
        val auditS = (System.nanoTime() - t1) / 1e9
        println("REHEARSAL_PHASE merged_remedy_codes audit: " +
          audit.mkString(" | "))
        val t2 = System.nanoTime()
        val (rem, flagged) = HnswRoutedCodes.remediateMergedCells(tombed)
        val remS = (System.nanoTime() - t2) / 1e9
        val postS = serve(rem)
        rem.unpersist()
        // build-time modality guard variant: split at build → the
        // delete leaves whole cells dead, predicated serving skips them
        val t3 = System.nanoTime()
        val flagIdx = HnswRoutedCodes.build(codesDf, params, nCells,
          modalitySplit = true)
        val flagBuildS = (System.nanoTime() - t3) / 1e9
        val flagPlainS = serve(flagIdx)
        val flagTombed = HnswRoutedCodes.delete(flagIdx,
          codesDf.filter(col("id") % nSub === 0).select(col("id")))
        val flagTombS = serve(flagTombed)
        // diagnostic: where does the dead mass sit after the split?
        // (full-dead cells are SKIPPED by predicated serving; any
        // part-dead cell still pays the census/exact-scan machinery)
        locally {
          val deadB = spark.sparkContext.broadcast(flagTombed.tombstones)
          val dist = flagTombed.shards.map { case (c, s) =>
            var d = 0
            s.codes.foreach { (id, _) =>
              if (java.util.Arrays.binarySearch(deadB.value, id) >= 0) d += 1 }
            (c, s.codes.size, d)
          }.collect().sortBy(_._1)
          val fullDead = dist.count(x => x._2 > 0 && x._2 == x._3)
          val partDead = dist.count(x => x._3 > 0 && x._3 < x._2)
          println(s"REHEARSAL_PHASE merged_remedy_codes flag_dead_dist " +
            s"full_dead_cells=$fullDead part_dead_cells=$partDead " +
            dist.filter(_._3 > 0).map(x => s"${x._1}:${x._3}/${x._2}")
              .mkString("[", ",", "]"))
        }
        println(f"REHEARSAL_PHASE merged_remedy_codes n=$n " +
          f"modality_build_s=$flagBuildS%.1f " +
          f"split_anchors=${flagIdx.anchors.length - nCells} " +
          f"flag_plain_s=$flagPlainS%.2f flag_tomb_s=$flagTombS%.2f " +
          f"flag_tomb_overhead=${flagTombS / flagPlainS}%.2fx")
        flagIdx.unpersist()
        index.unpersist()
        (flagged.length.toLong,
          f"plain_s=$plainS%.2f tomb_s=$tombS%.2f " +
          f"tomb_overhead=${tombS / plainS}%.2fx " +
          f"audit_s=$auditS%.1f remedy_s=$remS%.1f flagged=${flagged.length} " +
          f"post_s=$postS%.2f post_overhead=${postS / plainS}%.2fx " +
          f"residual_tombstones=${rem.tombstones.length} " +
          f"flag_tomb_overhead=${flagTombS / flagPlainS}%.2fx")
      }

      // MERGED-CELL remedy rung on the COMPRESSED tier (round-17): the
      // float leg's regime served through PQ codes on a SOLO-built
      // index — the audit must run over code reconstructions (the
      // solo/attached posture has no float map anywhere), and the
      // targeted remedy fetches survivor floats for ONLY the flagged
      // cells. The last tier unguarded against the dead-side tax the
      // float/codes legs measured at 11.6x/7.0x. Done-bar: post-remedy
      // dead-side serving ≤ 1.2x plain.
      if (ops("merged_remedy_pq")) run("ann_merged_remedy_pq", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRoutedPq}
        import spark.implicits._
        val dim = 64
        val nCells = if (n >= 10000000) 64 else 16
        val nSub = nCells * 2
        def subCenter(g: Int): Array[Float] = {
          val sup = g / 2
          Array.tabulate(dim)(d =>
            (((HnswParams.uniformFromHash(sup.toLong * 997 + d, 77L) * 2 - 1) * 40.0) +
             ((HnswParams.uniformFromHash(1000L + g.toLong * 31 + d, 99L) * 2 - 1) * 6.0)).toFloat)
        }
        def vecOf(id: Long): Array[Float] = {
          val c = subCenter((id % nSub).toInt)
          Array.tabulate(dim)(d => c(d) +
            (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        }
        val vecs = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec")
          .localCheckpoint(true)
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "l2", seed = 9L)
        val t0 = System.nanoTime()
        val index = HnswRoutedPq.buildSolo(vecs, cfg, nCells,
          dedupIds = false, pinInput = false)
        val buildS = (System.nanoTime() - t0) / 1e9
        // dead-side queries: perturbed members of the mode about to die
        val qDf = spark.createDataset(
            (0L until n.toLong by nSub.toLong).take(2000)
              .map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        def serve(idx: HnswRoutedPq.RoutedPqIndex): Double = {
          def one(): Double = {
            val t = System.nanoTime()
            HnswRoutedPq.search(idx, qDf, vecs, k = 10, nProbe = 4,
                candidates = 64)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t) / 1e9
          }
          System.gc()
          one() // warm
          Seq(one(), one(), one()).min
        }
        // live-side CONTROL queries (members of a mode that survives,
        // in a DIFFERENT cell): separates the out-of-distribution
        // dead-side beam cost (the query's true neighborhood is
        // genuinely gone post-remedy — a workload property) from any
        // serving regression of the remedied index itself
        val liveQ = spark.createDataset(
            (5L until n.toLong by nSub.toLong).take(2000)
              .map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        def serveLive(idx: HnswRoutedPq.RoutedPqIndex): Double = {
          def one(): Double = {
            val t = System.nanoTime()
            HnswRoutedPq.search(idx, liveQ, vecs, k = 10, nProbe = 4,
                candidates = 64)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t) / 1e9
          }
          System.gc()
          one() // warm
          Seq(one(), one(), one()).min
        }
        val plainS = serve(index)
        val plainLiveS = serveLive(index)
        val tombed = HnswRoutedPq.delete(index,
          vecs.filter(col("id") % nSub === 0).select(col("id")))
        val tombS = serve(tombed)
        val t1 = System.nanoTime()
        val audit = HnswRoutedPq.mergedCellAudit(tombed).collect()
        val auditS = (System.nanoTime() - t1) / 1e9
        println("REHEARSAL_PHASE merged_remedy_pq audit: " +
          audit.mkString(" | "))
        val t2 = System.nanoTime()
        val (rem, flagged) = HnswRoutedPq.remediateMergedCellsSolo(
          tombed, vecs)
        val remS = (System.nanoTime() - t2) / 1e9
        val postS = serve(rem)
        val postLiveS = serveLive(rem)
        println(f"REHEARSAL_PHASE merged_remedy_pq live_control " +
          f"plain_live_s=$plainLiveS%.2f post_live_s=$postLiveS%.2f " +
          f"live_overhead=${postLiveS / plainLiveS}%.2fx")
        // storage diagnostic: is the post-remedy slowdown an eviction
        // artifact (two resident images competing for the store)?
        spark.sparkContext.getRDDStorageInfo.foreach { i =>
          println(f"REHEARSAL_PHASE merged_remedy_pq storage " +
            f"name=${i.name} mem_mb=${i.memSize / 1e6}%.0f " +
            f"disk_mb=${i.diskSize / 1e6}%.0f cached=${i.numCachedPartitions}/${i.numPartitions}")
        }
        // decisive control: re-serve the ORIGINAL pre-delete handle at
        // this point in the JVM's life — if it reads like post_s, the
        // delta is session aging (heap/GC state after the 280 s rebuild),
        // not a property of the remediated handle
        val plainAgainS = serve(index)
        val plainLiveAgainS = serveLive(index)
        println(f"REHEARSAL_PHASE merged_remedy_pq aging_control " +
          f"plain_again_s=$plainAgainS%.2f plain_live_again_s=$plainLiveAgainS%.2f " +
          f"(vs plain_s=$plainS%.2f live=$plainLiveS%.2f at session start)")
        // ADC-space remedy variant (round-18, verdict #2): rebuild the
        // SAME flagged cells with the buildSolo kernel over the same
        // fetched survivor floats — graph-identical to a fresh solo
        // build of the survivors. Claim under test: post-remedy ≤1.2x
        // plain with the ADC-built adjacency (the float-exact
        // rebuild's denser graph was the attributed ~0.25 ms/query
        // tax; this variant restores the solo build-serve geometry).
        // Compare against plain_again_s (the contemporaneous
        // aging-controlled plain). [A float-FREE variant staging code
        // reconstructions was measured at 7.6x plain at 1e6 and
        // rejected — see HnswRoutedPq.compactSoloCells scaladoc.]
        val t4 = System.nanoTime()
        val remAdc = HnswRoutedPq.compactSoloCellsPatched(tombed,
          vecs, flagged, persist = true, floatExact = false)
        val remAdcS = (System.nanoTime() - t4) / 1e9
        val postAdcS = serve(remAdc)
        val postAdcLiveS = serveLive(remAdc)
        println(f"REHEARSAL_PHASE merged_remedy_pq adc_variant " +
          f"remedy_adc_s=$remAdcS%.1f post_adc_s=$postAdcS%.2f " +
          f"post_adc_over_plain=${postAdcS / plainS}%.2fx " +
          f"post_adc_over_plain_again=${postAdcS / plainAgainS}%.2fx " +
          f"post_adc_live_s=$postAdcLiveS%.2f " +
          f"adc_live_overhead=${postAdcLiveS / plainLiveS}%.2fx " +
          f"residual_tombstones_adc=${remAdc.tombstones.length}")
        remAdc.overlay.foreach(_.unpersist())
        // isolate the patched-composite branch from the remedy itself:
        // fold to one self-contained image and re-serve
        val t3 = System.nanoTime()
        val folded = HnswRoutedPq.foldOverlay(rem)
        val foldS = (System.nanoTime() - t3) / 1e9
        val foldedS = serve(folded)
        folded.unpersist()
        index.unpersist()
        (flagged.length.toLong,
          f"build_s=$buildS%.1f plain_s=$plainS%.2f tomb_s=$tombS%.2f " +
          f"tomb_overhead=${tombS / plainS}%.2fx " +
          f"audit_s=$auditS%.1f remedy_s=$remS%.1f flagged=${flagged.length} " +
          f"post_s=$postS%.2f post_overhead=${postS / plainS}%.2fx " +
          f"residual_tombstones=${rem.tombstones.length} " +
          f"overlay_depth=${rem.overlay.length} " +
          f"fold_s=$foldS%.1f folded_serve_s=$foldedS%.2f " +
          f"folded_overhead=${foldedS / plainS}%.2fx")
      }

      // SERVING WARM-UP rung (round-16): the first-serve tax and its
      // mitigation. Build a codes index at DISK_ONLY (the residency
      // the 1e8 decade actually runs), save + attach (the restart
      // posture), then measure the FIRST serve cold vs the steady
      // band — and the same with a warm() pass between attach and
      // first serve. Done-bar: warmed first serve ≤ 2× steady.
      if (ops("warmup")) run("ann_serving_warmup", n) {
        import graft.hnsw.{HnswParams, HnswRoutedCodes}
        import spark.implicits._
        val nCells = if (n >= 10000000) 64 else 16
        val codesDf = spark.range(n.toLong).as[Long]
          .map(id => (id, id * -7046029254386353131L + 6364136223846793005L))
          .toDF("id", "code").localCheckpoint(true)
        val params = HnswParams.standard(64, 32, 32)
        val disk = org.apache.spark.storage.StorageLevel.DISK_ONLY
        val built = HnswRoutedCodes.build(codesDf, params, nCells,
          storage = disk)
        val dir = graft.TempDirs.create("graft_warmup_")
        HnswRoutedCodes.save(built, dir)
        built.unpersist()
        val qDf = codesDf
          .filter(col("id") % math.max(1L, n.toLong / 2000) === 0L)
          .limit(2000).toDF("qid", "qcode").localCheckpoint(true)
        def serve(idx: HnswRoutedCodes.RoutedCodeIndex): Double = {
          val t = System.nanoTime()
          HnswRoutedCodes.search(idx, qDf, 10, nProbe = 4)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
        // COLD posture: attach, serve immediately
        val a1 = HnswRoutedCodes.attach(spark, dir, storage = disk)
        val coldFirst = serve(a1)
        val coldSteady = math.min(serve(a1), serve(a1))
        a1.unpersist()
        // WARM posture: attach, warm(), then serve
        val a2 = HnswRoutedCodes.attach(spark, dir, storage = disk)
        val tW = System.nanoTime()
        HnswRoutedCodes.warm(a2)
        val warmS = (System.nanoTime() - tW) / 1e9
        val warmFirst = serve(a2)
        val warmSteady = math.min(serve(a2), serve(a2))
        a2.unpersist()
        // PROBED posture (round-17): attach, warm() + covering probe —
        // the probe pays the kernel/plan warm-up the block sweep left
        // on the first serve (the 1.9x residual at 1e7).
        // Done-bar: probed first serve ≤ 1.5x steady.
        val a3 = HnswRoutedCodes.attach(spark, dir, storage = disk)
        val tP = System.nanoTime()
        HnswRoutedCodes.warm(a3)
        HnswRoutedCodes.warmProbe(a3)
        val probeS = (System.nanoTime() - tP) / 1e9
        val probedFirst = serve(a3)
        val probedSteady = math.min(serve(a3), serve(a3))
        a3.unpersist()
        (n.toLong,
          f"cold_first_s=$coldFirst%.2f cold_steady_s=$coldSteady%.2f " +
          f"cold_ratio=${coldFirst / math.max(1e-9, coldSteady)}%.1fx " +
          f"warm_pass_s=$warmS%.2f warm_first_s=$warmFirst%.2f " +
          f"warm_steady_s=$warmSteady%.2f " +
          f"warm_ratio=${warmFirst / math.max(1e-9, warmSteady)}%.1fx " +
          f"probe_pass_s=$probeS%.2f probed_first_s=$probedFirst%.2f " +
          f"probed_steady_s=$probedSteady%.2f " +
          f"probed_ratio=${probedFirst / math.max(1e-9, probedSteady)}%.1fx")
      }

      // FLOAT-FREE PQ BUILD rung (round-16): HnswRoutedPq.buildSolo —
      // the compressed tier created DIRECTLY from the vector table,
      // with no float index materialized at any point (floats stream
      // through the build tasks as scratch). What this rung proves
      // physically: pq_cached bytes ≈ graph + 8 B/row codes and
      // float_cached == 0 THROUGHOUT (the routed_pq rung's envelope
      // claim without even the transient float build), then the full
      // solo lifecycle on the built handle: serve → save → attach →
      // delete → leak check → compactSolo → solo ingest.
      if (ops("pq_solo_build")) run("ann_pq_solo_build", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRoutedPq}
        import spark.implicits._
        val dim = 64
        val nCells = if (n >= 10000000) 256 else 64
        def centerOf(c: Int): Array[Float] =
          Array.tabulate(dim)(d =>
            (HnswParams.uniformFromHash(c.toLong * 997 + d, 77L) * 20.0 - 10.0).toFloat)
        def vecOf(id: Long): Array[Float] = {
          val c = centerOf((id % nCells).toInt)
          Array.tabulate(dim)(d => c(d) +
            (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        }
        // the 1e8 decade: vecs stay a LAZY generator DF (the checkpoint
        // would pin ~30 GB the host's disk budget needs for the index +
        // the build shuffle; recomputing vecOf per re-rank read is
        // cheap CPU), and the O(image) durable sub-leg is skipped (the
        // routed_delete precedent: O(rebuild) legs pin their shapes at
        // 1e6/1e7; the save image is another ~full-index of disk)
        val decade8 = n >= 100000000
        val vecs0 = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec")
        val vecs = if (decade8) vecs0 else vecs0.localCheckpoint(true)
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "l2", seed = 9L)
        val storage =
          if (n >= 10000000) org.apache.spark.storage.StorageLevel.DISK_ONLY
          else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val t0 = System.nanoTime()
        // range ids are unique and the vecs DF is a checkpoint (or a
        // cheap generator at the 1e8 decade): skip the dedup shuffle
        // and the extra pin — the buildSolo scale levers
        val pq = HnswRoutedPq.buildSolo(vecs, cfg, nCells,
          storage = storage, modalitySplit = true,
          dedupIds = false, pinInput = false)
        val buildS = (System.nanoTime() - t0) / 1e9
        def cachedBytes(name: String): Long =
          spark.sparkContext.getRDDStorageInfo
            .filter(_.name == name).map(i => i.memSize + i.diskSize).sum
        val floatBytes = cachedBytes("graft-hnsw-routed") // must stay 0
        val pqBytes = cachedBytes("graft-hnsw-routed-pq")
        println(f"REHEARSAL_PHASE pq_solo_build n=$n build_s=$buildS%.1f " +
          f"split_parents=${pq.router.sub.size} " +
          f"float_cached_mb=${floatBytes / 1e6}%.0f (must be 0) " +
          f"pq_cached_mb=${pqBytes / 1e6}%.0f")
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 4000))
          .filter(_ % nCells >= 3).take(2000)
        val qDf = spark.createDataset(qIds.map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        // cluster-match is the honest compressed-tier recall metric
        // (see the routed_pq rung's note: the geometry's clusters are
        // quantization twins, so exact-id recall is info-theoretically
        // capped; catalog rows prove exact-id through the oracle)
        def selfMatch(idx: HnswRoutedPq.RoutedPqIndex): (Double, Long, Long) = {
          val t = System.nanoTime()
          val top = HnswRoutedPq.search(idx, qDf, vecs, k = 1,
              nProbe = 8, candidates = 64)
            .select(col("qid"), col("id")).collect()
          val self = top.count(r => r.getLong(0) == r.getLong(1)).toLong
          val clus = top.count(r =>
            r.getLong(0) % nCells == r.getLong(1) % nCells).toLong
          ((System.nanoTime() - t) / 1e9, self, clus)
        }
        selfMatch(pq) // warm
        val (p1, plainSelf, plainClus) = selfMatch(pq)
        val (p2, _, _) = selfMatch(pq)
        val plainS = math.min(p1, p2)
        // durability: save the eight-table image, attach, serve parity
        // (skipped at the 1e8 decade — see the disk-budget note above;
        // the lifecycle below then runs on the BUILT handle)
        val (restored, saveS, attachS, attParity) =
          if (decade8) (pq, 0.0, 0.0, true)
          else {
            val pqDir = s"$base/pq_solo_idx"
            val t1 = System.nanoTime()
            HnswRoutedPq.save(pq, pqDir)
            val sS = (System.nanoTime() - t1) / 1e9
            pq.unpersist()
            val t2 = System.nanoTime()
            val att = HnswRoutedPq.attach(spark, pqDir)
            val aTs = (System.nanoTime() - t2) / 1e9
            val (aS, attSelf, attClus) = selfMatch(att)
            val par = attSelf == plainSelf && attClus == plainClus
            println(f"REHEARSAL_PHASE pq_solo_build n=$n save_s=$sS%.1f " +
              f"attach_s=$aTs%.1f attach_over_build=${aTs / buildS}%.4f " +
              f"attach_serve_s=$aS%.2f attach_parity=$par " +
              f"build_seed_survives=${att.buildSeed == cfg.seed}")
            (att, sS, aTs, par)
          }
        // lifecycle on the attached copy: wipe 3 clusters, leak check,
        // fold from the raw table, re-serve
        val deadLocal = vecs.filter(col("id") % nCells < 3).select(col("id"))
        val tombed = HnswRoutedPq.delete(restored, deadLocal)
        val deadQ = spark.createDataset(
            (0L until n.toLong by math.max(1L, n.toLong / 500))
              .filter(_ % nCells == 0).take(500).map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        val leaked = HnswRoutedPq.search(tombed, deadQ, vecs, k = 1,
            nProbe = 8, candidates = 32)
          .filter(col("qid") === col("id")).count()
        // fold + ingest both materialize a SECOND full image while the
        // first stays persisted (untouched cells pass by reference but
        // the new RDD's persist re-serializes every partition) — at the
        // 1e8 decade that is 2x ~33 GB against a ~94 GB host: the
        // O(rebuild) legs pin their shapes at 1e6/1e7 (the routed_delete
        // rung discipline) and the decade run stops after the
        // delete/leak-check serving proof
        val (compactS, rebuilt, carried, postS, postClus, ingestS, bClus, nbq) =
          if (decade8) (0.0, 0L, 0L, 0.0, plainClus, 0.0, 0L, 1L)
          else {
            val t3 = System.nanoTime()
            val (folded, rb, ca) = HnswRoutedPq.compactSoloCounted(
              tombed, vecs, unpersistPrior = true)
            val cS = (System.nanoTime() - t3) / 1e9
            val (pS, _, pClus) = selfMatch(folded)
            // solo ingest: a 2% batch of new ids into the folded handle
            val batchDf = spark.range(n.toLong, n.toLong + n.toLong / 50).as[Long]
              .map(id => (id, vecOf(id))).toDF("id", "vec").localCheckpoint(true)
            val t4 = System.nanoTime()
            val grown = HnswRoutedPq.ingest(folded, batchDf, unpersistPrior = true)
            val iS = (System.nanoTime() - t4) / 1e9
            val vecsAll = vecs.unionAll(batchDf)
            val bq = spark.createDataset(
                (n.toLong until n.toLong + n.toLong / 50 by
                  math.max(1L, (n.toLong / 50) / 500)).take(500)
                  .map(id => (id, vecOf(id))))
              .toDF("qid", "qvec").localCheckpoint(true)
            val bTop = HnswRoutedPq.search(grown, bq, vecsAll, k = 1,
                nProbe = 8, candidates = 64)
              .select(col("qid"), col("id")).collect()
            val bc = bTop.count(r =>
              r.getLong(0) % nCells == r.getLong(1) % nCells).toLong
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
          f"float_cached_mb=${floatBytes / 1e6}%.0f " +
          f"pq_cached_mb=${pqBytes / 1e6}%.0f " +
          f"cluster_plain=${plainClus * 100.0 / qIds.length}%.1f%% " +
          f"cluster_post=${postClus * 100.0 / qIds.length}%.1f%% " +
          f"batch_cluster_match=${bClus * 100.0 / nbq}%.1f%%")
      }

      // PQ SAVE→ATTACH rung (round-17): the decade's restart posture,
      // measured. buildSolo → save the eight-table image → DROP THE
      // LIVE IMAGE (unpersist + GC releases the DISK_ONLY cache AND
      // the build shuffle the lineage pinned — the disk arithmetic
      // that let round 16 skip this leg: cache 33 + shuffle 30 +
      // image ~30 only coexist during the save write; after the drop,
      // steady state is image + attached cache) → attach → warm +
      // covering probe → first serve vs steady + a parity sample
      // against the pre-save serve. Done-bar: attach ≪ build, probed
      // first serve ≤ 1.5x steady, parity exact.
      if (ops("pq_save_attach")) run("ann_pq_save_attach", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRoutedPq}
        import spark.implicits._
        def tmpFreeGb: Double = {
          val store = java.nio.file.Files.getFileStore(
            java.nio.file.Paths.get("/tmp"))
          store.getUsableSpace / 1e9
        }
        val dim = 64
        val nCells = if (n >= 10000000) 256 else 64
        def centerOf(c: Int): Array[Float] =
          Array.tabulate(dim)(d =>
            (HnswParams.uniformFromHash(c.toLong * 997 + d, 77L) * 20.0 - 10.0).toFloat)
        def vecOf(id: Long): Array[Float] = {
          val c = centerOf((id % nCells).toInt)
          Array.tabulate(dim)(d => c(d) +
            (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        }
        val decade8 = n >= 100000000
        val vecs0 = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec")
        val vecs = if (decade8) vecs0 else vecs0.localCheckpoint(true)
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "l2", seed = 9L)
        val storage =
          if (n >= 10000000) org.apache.spark.storage.StorageLevel.DISK_ONLY
          else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        println(f"REHEARSAL_PHASE pq_save_attach n=$n tmp_free_gb=$tmpFreeGb%.0f (pre-build)")
        val t0 = System.nanoTime()
        var pq = HnswRoutedPq.buildSolo(vecs, cfg, nCells,
          storage = storage, modalitySplit = true,
          dedupIds = false, pinInput = false)
        val buildS = (System.nanoTime() - t0) / 1e9
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 4000))
          .filter(_ % nCells >= 3).take(2000)
        val qDf = spark.createDataset(qIds.map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        def serveCounts(idx: HnswRoutedPq.RoutedPqIndex): (Double, Long, Long) = {
          val t = System.nanoTime()
          val top = HnswRoutedPq.search(idx, qDf, vecs, k = 1,
              nProbe = 8, candidates = 64)
            .select(col("qid"), col("id")).collect()
          val self = top.count(r => r.getLong(0) == r.getLong(1)).toLong
          val clus = top.count(r =>
            r.getLong(0) % nCells == r.getLong(1) % nCells).toLong
          ((System.nanoTime() - t) / 1e9, self, clus)
        }
        // truncate the build lineage: the persisted cache is the source
        // of truth, and dropping the ShuffleDependency lets the
        // ContextCleaner free the build shuffle (~30 GB at the decade)
        // BEFORE the save writes the image — the decade's budget needs
        // cache + image to coexist, never cache + shuffle + image
        pq.shards.localCheckpoint()
        pq.shards.count()
        System.gc()
        Thread.sleep(3000)
        println(f"REHEARSAL_PHASE pq_save_attach n=$n " +
          f"tmp_free_gb=$tmpFreeGb%.0f (post-truncate)")
        serveCounts(pq) // warm the pre-save serve
        val (_, preSelf, preClus) = serveCounts(pq)
        println(f"REHEARSAL_PHASE pq_save_attach n=$n build_s=$buildS%.1f " +
          f"tmp_free_gb=$tmpFreeGb%.0f (post-build)")
        val pqDir = s"$base/pq_attach_idx"
        val t1 = System.nanoTime()
        HnswRoutedPq.save(pq, pqDir)
        val saveS = (System.nanoTime() - t1) / 1e9
        println(f"REHEARSAL_PHASE pq_save_attach n=$n save_s=$saveS%.1f " +
          f"tmp_free_gb=$tmpFreeGb%.0f (post-save peak)")
        // DROP the live image: unpersist the cache, null the handle,
        // GC — the ContextCleaner releases the build shuffle the
        // lineage pinned (the decade's second-image budget)
        pq.unpersist()
        pq = null
        System.gc()
        Thread.sleep(3000) // let the ContextCleaner drain
        println(f"REHEARSAL_PHASE pq_save_attach n=$n " +
          f"tmp_free_gb=$tmpFreeGb%.0f (post-drop)")
        val t2 = System.nanoTime()
        val att = HnswRoutedPq.attach(spark, pqDir, storage = storage)
        val attachS = (System.nanoTime() - t2) / 1e9
        val tW = System.nanoTime()
        HnswRoutedPq.warm(att)
        HnswRoutedPq.warmProbe(att)
        val warmS = (System.nanoTime() - tW) / 1e9
        val (firstS, attSelf, attClus) = serveCounts(att)
        val (s1, _, _) = serveCounts(att)
        val (s2, _, _) = serveCounts(att)
        val steadyS = math.min(s1, s2)
        val parity = attSelf == preSelf && attClus == preClus
        att.unpersist()
        (attSelf,
          f"build_s=$buildS%.1f save_s=$saveS%.1f attach_s=$attachS%.1f " +
          f"attach_over_build=${attachS / buildS}%.4f warm_s=$warmS%.1f " +
          f"first_serve_s=$firstS%.2f steady_s=$steadyS%.2f " +
          f"first_over_steady=${firstS / math.max(1e-9, steadyS)}%.1fx " +
          f"parity=$parity cluster_match=${attClus * 100.0 / qIds.length}%.1f%% " +
          f"tmp_free_gb=$tmpFreeGb%.0f")
      }

      // ROUTED+PQ rung (round-15, second session): the compression
      // tier as the demonstrated at-scale serving path for FLOAT
      // similarity. Build the float routed l2 index, derive the PQ
      // tier (one codebook train + one narrow encode pass), then run
      // the LIFECYCLE on it: direct tombstone delete → predicated
      // serve → float compact → INCREMENTAL rederive (fingerprint
      // carry: only cells the fold touched re-encode) → parity serve.
      // Finally unpersist the float shards and serve again — the
      // memory-envelope claim made physical: what stays resident is
      // graph + 8 B/row codes (the cached-bytes line quantifies it),
      // and raw vectors appear only in the re-rank join against the
      // durable table.
      if (ops("routed_pq")) run("ann_routed_pq", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted, HnswRoutedPq}
        import spark.implicits._
        val dim = 64
        val nCells = if (n >= 10000000) 256 else 64
        def centerOf(c: Int): Array[Float] =
          Array.tabulate(dim)(d =>
            (HnswParams.uniformFromHash(c.toLong * 997 + d, 77L) * 20.0 - 10.0).toFloat)
        def vecOf(id: Long): Array[Float] = {
          val c = centerOf((id % nCells).toInt)
          Array.tabulate(dim)(d => c(d) +
            (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        }
        val vecs = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec")
          .localCheckpoint(true)
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "l2", seed = 9L)
        val t0 = System.nanoTime()
        // modalitySplit: k-means over a clustered corpus misaligns at
        // density (two true clusters in one cell → near-disconnected
        // in-cell graph → the ADC beam can't cross the mode bridge; the
        // 4e5 first run read 86.7% cluster-match from exactly this).
        // The build-time census splits those cells per mode.
        val index = HnswRouted.build(vecs, cfg, nCells, modalitySplit = true)
        val buildS = (System.nanoTime() - t0) / 1e9
        println(f"REHEARSAL_PHASE routed_pq n=$n build_s=$buildS%.1f " +
          f"split_parents=${index.router.sub.size}")
        val t1 = System.nanoTime()
        val pq = HnswRoutedPq.fromRouted(index)
        val encodeS = (System.nanoTime() - t1) / 1e9
        def cachedBytes(name: String): Long =
          spark.sparkContext.getRDDStorageInfo
            .filter(_.name == name).map(i => i.memSize + i.diskSize).sum
        val floatBytes = cachedBytes("graft-hnsw-routed")
        val pqBytes = cachedBytes("graft-hnsw-routed-pq")
        println(f"REHEARSAL_PHASE routed_pq n=$n encode_s=$encodeS%.1f " +
          f"float_cached_mb=${floatBytes / 1e6}%.0f " +
          f"pq_cached_mb=${pqBytes / 1e6}%.0f " +
          f"ratio=${floatBytes.toDouble / math.max(1L, pqBytes)}%.1fx")
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 4000))
          .filter(_ % nCells >= 3).take(2000)
        val qDf = spark.createDataset(qIds.map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        // TWO retrieval stats per serve: exact-id self-match AND
        // same-cluster top-1. The geometry's clusters are quantization
        // TWINS (intra-cluster spacing ~ the ADC error), so exact-id
        // recall through 8-byte codes is information-theoretically
        // capped at ~candidates/clusterSize — the honest compressed-
        // tier metric is cluster-match (did the beam land the right
        // neighborhood); exact-id exactness at k≪candidates is the
        // CATALOG rows' claim, proven by re-rank against the DuckDB
        // oracle at sf0.01.
        def selfMatch(idx: HnswRoutedPq.RoutedPqIndex): (Double, Long, Long) = {
          val t = System.nanoTime()
          val top = HnswRoutedPq.search(idx, qDf, vecs, k = 1,
              nProbe = 8, candidates = 64)
            .select(col("qid"), col("id")).collect()
          val self = top.count(r => r.getLong(0) == r.getLong(1)).toLong
          val clus = top.count(r =>
            r.getLong(0) % nCells == r.getLong(1) % nCells).toLong
          ((System.nanoTime() - t) / 1e9, self, clus)
        }
        selfMatch(pq) // warm
        val (p1, _, _) = selfMatch(pq)
        val (p2, plainSelf, plainClus) = selfMatch(pq)
        val plainS = math.min(p1, p2)
        // lifecycle: wipe 3 whole clusters via the PQ tier's own delete
        val deadLocal = vecs.filter(col("id") % nCells < 3).select(col("id"))
        val t2 = System.nanoTime()
        val tombed = HnswRoutedPq.delete(pq, deadLocal)
        val deleteS = (System.nanoTime() - t2) / 1e9
        selfMatch(tombed) // warm the predicated path
        val r1 = selfMatch(tombed); val r2 = selfMatch(tombed)
        val (tombS, tombSelf, tombClus) = if (r1._1 <= r2._1) r1 else r2
        val deadQ = spark.createDataset(
            (0L until n.toLong by math.max(1L, n.toLong / 500))
              .filter(_ % nCells == 0).take(500).map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        val leaked = HnswRoutedPq.search(tombed, deadQ, vecs, k = 1,
            nProbe = 8, candidates = 32)
          .filter(col("qid") === col("id")).count()
        // fold on the float source, follow incrementally
        val floatTombed = HnswRouted.delete(index, deadLocal)
        val t3 = System.nanoTime()
        val compacted = HnswRouted.compact(floatTombed, unpersistPrior = false)
        val compactS = (System.nanoTime() - t3) / 1e9
        val t4 = System.nanoTime()
        val (rederived, reenc, carried) = HnswRoutedPq.rederiveCounted(
          tombed, compacted, unpersistPrior = true)
        val rederiveS = (System.nanoTime() - t4) / 1e9
        println(f"REHEARSAL_PHASE routed_pq n=$n compact_s=$compactS%.1f " +
          f"rederive_s=$rederiveS%.1f reencoded=$reenc carried=$carried " +
          f"rederive_over_encode=${rederiveS / encodeS}%.2f")
        val (postS, postSelf, postClus) = selfMatch(rederived)
        // the envelope: drop the float shards, serve from codes alone
        index.unpersist()
        compacted.unpersist()
        val (soloS1, soloSelf, soloClus) = selfMatch(rederived)
        val (soloS2, _, _) = selfMatch(rederived)
        val soloS = math.min(soloS1, soloS2)
        // durability leg: persist the eight-table image, drop the live
        // handle, ATTACH (parquet scan + CSR assembly — no build, no
        // encode, no float source), serve at parity. This is the
        // restart story the 1e8 posture needs: re-deriving costs the
        // full float build + encode; attach costs a scan.
        val pqDir = s"$base/routed_pq_idx"
        val t5 = System.nanoTime()
        HnswRoutedPq.save(rederived, pqDir)
        val saveS = (System.nanoTime() - t5) / 1e9
        println(f"REHEARSAL_PHASE routed_pq n=$n save_s=$saveS%.1f")
        rederived.unpersist()
        val t6 = System.nanoTime()
        val restored = HnswRoutedPq.attach(spark, pqDir)
        val attachS = (System.nanoTime() - t6) / 1e9
        val (aS1, attSelf, attClus) = selfMatch(restored)
        val (aS2, _, _) = selfMatch(restored)
        val attServeS = math.min(aS1, aS2)
        val attParity = attSelf == soloSelf && attClus == soloClus
        println(f"REHEARSAL_PHASE routed_pq n=$n attach_s=$attachS%.1f " +
          f"attach_over_encode=${attachS / encodeS}%.2f " +
          f"attach_over_full_derive=${attachS / (buildS + encodeS)}%.4f " +
          f"attach_serve_s=$attServeS%.2f attach_parity=$attParity")
        // FILTERED serving leg: a half-corpus allow-set (a large label
        // partition — bigger than any cell, so the census walks cell
        // keys, and big enough that the distributed transport's
        // id→cell join moves real mass) through BOTH transports on the
        // attached copy; row parity asserted on (qid, id) sets.
        locally {
          import org.apache.spark.sql.functions.col
          val allowDf = vecs.filter(col("id") % 2 === 0).select(col("id"))
          val fq = qDf.limit(500).localCheckpoint(true)
          def rowsOf(df: org.apache.spark.sql.DataFrame) =
            df.select(col("qid"), col("id")).collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet
          val tD0 = System.nanoTime()
          val viaDriver = rowsOf(HnswRoutedPq.searchFiltered(restored, fq,
            vecs, allowDf, k = 10, nProbe = 8, candidates = 64))
          val driverS = (System.nanoTime() - tD0) / 1e9
          val tD1 = System.nanoTime()
          val viaDistrib = rowsOf(HnswRoutedPq.searchFilteredDistributed(
            restored, fq, vecs, allowDf, k = 10, nProbe = 8, candidates = 64))
          val distribS = (System.nanoTime() - tD1) / 1e9
          val leakedFilter = viaDriver.count(_._2 % 2 != 0) +
            viaDistrib.count(_._2 % 2 != 0)
          println(f"REHEARSAL_PHASE routed_pq n=$n filtered_driver_s=$driverS%.2f " +
            f"filtered_distrib_s=$distribS%.2f " +
            f"filtered_parity=${viaDriver == viaDistrib} " +
            f"filter_leaked=$leakedFilter allow_rows=${n / 2}")
        }
        // SOLO ingest leg: a 2% batch of NEW ids into the ATTACHED copy
        // — no float source exists; each new point's raw float serves
        // its own insertion beam against member CODES, then quantizes.
        // The claim is O(batch) cost and served-at-parity retrieval
        // (cluster-match on batch queries through the re-rank).
        val batchDf = spark.range(n.toLong, n.toLong + n.toLong / 50).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec").localCheckpoint(true)
        val t7 = System.nanoTime()
        val grownSolo = HnswRoutedPq.ingest(restored, batchDf)
        val soloIngestS = (System.nanoTime() - t7) / 1e9
        val vecsAll = vecs.unionAll(batchDf)
        val bq = spark.createDataset(
            (n.toLong until n.toLong + n.toLong / 50 by
              math.max(1L, (n.toLong / 50) / 500)).take(500)
              .map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        val bTop = HnswRoutedPq.search(grownSolo, bq, vecsAll, k = 1,
            nProbe = 8, candidates = 64)
          .select(col("qid"), col("id")).collect()
        val bClus = bTop.count(r =>
          r.getLong(0) % nCells == r.getLong(1) % nCells)
        println(f"REHEARSAL_PHASE routed_pq n=$n solo_ingest_s=$soloIngestS%.1f " +
          f"ingest_rows=${n / 50} rows_per_s=${(n / 50) / soloIngestS}%.0f " +
          f"batch_cluster_match=${bClus * 100.0 / bq.count()}%.1f%%")
        grownSolo.unpersist()
        restored.unpersist()
        (tombSelf, f"build_s=$buildS%.1f encode_s=$encodeS%.1f " +
          f"delete_s=$deleteS%.3f plain_probe8_s=$plainS%.2f " +
          f"tomb_probe8_s=$tombS%.2f tomb_overhead=${tombS / plainS}%.2fx " +
          f"leaked=$leaked compact_s=$compactS%.1f " +
          f"rederive_s=$rederiveS%.1f reencoded=$reenc carried=$carried " +
          f"save_s=$saveS%.1f attach_s=$attachS%.1f " +
          f"attach_serve_s=$attServeS%.2f attach_parity=$attParity " +
          f"post_probe8_s=$postS%.2f solo_probe8_s=$soloS%.2f " +
          f"float_cached_mb=${floatBytes / 1e6}%.0f " +
          f"pq_cached_mb=${pqBytes / 1e6}%.0f " +
          f"self_plain=${plainSelf * 100.0 / qIds.length}%.1f%% " +
          f"self_tomb=${tombSelf * 100.0 / qIds.length}%.1f%% " +
          f"self_post=${postSelf * 100.0 / qIds.length}%.1f%% " +
          f"self_solo=${soloSelf * 100.0 / qIds.length}%.1f%% " +
          f"cluster_plain=${plainClus * 100.0 / qIds.length}%.1f%% " +
          f"cluster_tomb=${tombClus * 100.0 / qIds.length}%.1f%% " +
          f"cluster_post=${postClus * 100.0 / qIds.length}%.1f%% " +
          f"cluster_solo=${soloClus * 100.0 / qIds.length}%.1f%%")
      }

      // AUTO-EF rung (round-13): the density-adaptive in-cell beam's
      // calibration sweep. One DENSE cloud materialized as one cell
      // (nCells=1 — the regime the formula exists for), self-match and
      // wall measured at the configured beam (ef0=32), the formula's
      // prescription (ef0=0 -> autoEf), and the manual dial the 1e7
      // rehearsal found (ef0=128). The question the sweep answers: does
      // the formula's extra in-cell work BUY recall at this density, or
      // is it paying 5x for nothing (the round-12 verdict's concern —
      // the constant was calibrated at exactly one point, 156k rows).
      if (ops("autoef")) run("autoef_sweep", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted}
        import spark.implicits._
        val dim = 64
        def vecOf(id: Long): Array[Float] = Array.tabulate(dim)(d =>
          (HnswParams.uniformFromHash(0L * 997 + d, 77L) * 20.0 - 10.0).toFloat +
            0.1f * (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        val vecs = spark.range(n.toLong).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec")
          .localCheckpoint(true)
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "cosine", seed = 9L)
        val t0 = System.nanoTime()
        val index = HnswRouted.build(vecs, cfg, nCells = 1,
          maxCellRows = math.max(HnswRouted.DefaultMaxCellRows, n.toLong))
        val buildS = (System.nanoTime() - t0) / 1e9
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 1000)).take(1000)
        val qDf = spark.createDataset(qIds.map(id => (id, vecOf(id))))
          .toDF("qid", "qvec").localCheckpoint(true)
        def serve(ef0: Int): (Double, Long) = {
          val t = System.nanoTime()
          val self = HnswRouted.search(index, qDf, 1, nProbe = 1, ef0 = ef0)
            .filter(col("qid") === col("id")).count()
          ((System.nanoTime() - t) / 1e9, self)
        }
        serve(32) // warm
        val auto = HnswRouted.autoEf(32, n)
        val (wFixed, sFixed) = serve(32)
        val (wAuto, sAuto) = serve(0)
        val (w128, s128) = serve(128)
        index.unpersist()
        (sAuto, f"build_s=$buildS%.1f auto_ef=$auto " +
          f"ef32_s=$wFixed%.2f self32=${sFixed * 100.0 / qIds.length}%.1f%% " +
          f"efauto_s=$wAuto%.2f selfauto=${sAuto * 100.0 / qIds.length}%.1f%% " +
          f"ef128_s=$w128%.2f self128=${s128 * 100.0 / qIds.length}%.1f%%")
      }

      // ROUTED-RESTART rung (round-13): the streaming-ingest recovery
      // claim, rehearsed at scale without test plumbing — build a seed
      // index, ingest 4 batches with a checkpoint save after batch 2
      // (the StreamingRouted cadence protocol), "crash", then recover =
      // attach the checkpoint + replay the unsaved tail. The claim:
      // recovery (attach + replay) ≪ rebuilding the full corpus, with
      // occupancy parity against the uninterrupted fold.
      if (ops("routed_restart")) run("ann_routed_restart", n) {
        import graft.hnsw.{HnswDistributed, HnswParams, HnswRouted}
        import spark.implicits._
        val dim = 64
        val nCells = 64
        def vecOf(id: Long): Array[Float] = {
          val c = (id % nCells).toInt
          Array.tabulate(dim)(d =>
            (HnswParams.uniformFromHash(c.toLong * 997 + d, 77L) * 20.0 - 10.0).toFloat +
              (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0).toFloat)
        }
        def slice(a: Long, b: Long) = spark.range(a, b).as[Long]
          .map(id => (id, vecOf(id))).toDF("id", "vec").localCheckpoint(true)
        val half = n.toLong / 2
        val batchLen = n.toLong / 8
        val cfg = HnswDistributed.BuildConfig(
          HnswParams.standard(64, 32, 16), "cosine", seed = 9L)
        val dir = s"$base/routed_restart_idx"
        // the uninterrupted fold: seed build + 4 ingests, save after
        // batch 2 (cadence every=2)
        var live = HnswRouted.build(slice(0L, half), cfg, nCells)
        val t0 = System.nanoTime()
        (0 until 4).foreach { b =>
          live = HnswRouted.ingest(live,
            slice(half + b * batchLen, half + (b + 1) * batchLen))
          if (b == 1) HnswRouted.save(live, dir)
        }
        val foldS = (System.nanoTime() - t0) / 1e9
        val liveStats = HnswRouted.cellStats(live).sortBy(_._1).toSeq
        live.unpersist()
        // crash + recover: attach the checkpoint, replay batches 3-4
        val t1 = System.nanoTime()
        var rec = HnswRouted.attach(spark, dir)
        val attachS = (System.nanoTime() - t1) / 1e9
        val t2 = System.nanoTime()
        (2 until 4).foreach { b =>
          rec = HnswRouted.ingest(rec,
            slice(half + b * batchLen, half + (b + 1) * batchLen))
        }
        val replayS = (System.nanoTime() - t2) / 1e9
        val parity = HnswRouted.cellStats(rec).sortBy(_._1).toSeq == liveStats
        rec.unpersist()
        // the counterfactual: full rebuild of the same total corpus
        val t3 = System.nanoTime()
        val rebuilt = HnswRouted.build(slice(0L, half + 4 * batchLen), cfg, nCells)
        val rebuildS = (System.nanoTime() - t3) / 1e9
        rebuilt.unpersist()
        (liveStats.map(_._2).sum,
          f"fold_s=$foldS%.1f attach_s=$attachS%.1f replay_s=$replayS%.1f " +
          f"recover_s=${attachS + replayS}%.1f rebuild_s=$rebuildS%.1f " +
          f"recover_over_rebuild=${(attachS + replayS) / rebuildS}%.3f parity=$parity")
      }

      // EVICTION-STORM rung (round-18, the unified-lifecycle rehearsal):
      // KryoRoundTripSpec proves each shard CLASS survives one forced
      // serialize→deserialize→serve; this rung proves the unified
      // RoutedLifecycle survives REPEATED eviction/re-read interleaved
      // with mutation. A MEMORY_ONLY ballast RDD sized to ~45% of the
      // heap fights the MEMORY_AND_DISK shards for the storage pool, so
      // shard blocks keep dropping to disk (Kryo serialize) and
      // re-reading (deserialize) BETWEEN delete / patched-compact /
      // fold / full-compact / re-ingest / serve steps — the round-16
      // SIGSEGV class (serialization-corrupt map state) surfaces here
      // as a crash, a survivor-parity break, or a leaked tombstone.
      // Run with an undersized heap on purpose (SPARK_DRIVER_MEM=8g at
      // n=1e7); the rung REPORTS max on-disk bytes so a too-large heap
      // (no eviction => no storm) is visible in the line, not silent.
      if (ops("evictstorm")) run("ann_evict_storm", n) {
        import graft.hnsw.{HnswParams, HnswRoutedCodes}
        import spark.implicits._
        val nCells =
          if (n >= 100000000) 1024 else if (n >= 10000000) 256 else 64
        def anchorOf(c: Int): Long =
          java.lang.Double.doubleToRawLongBits(
            HnswParams.uniformFromHash(c.toLong, 77L))
        def codeOf(id: Long): Long = {
          var code = anchorOf((id % nCells).toInt)
          var k = 0
          while (k < 12) {
            val bit = (HnswParams.uniformFromHash(id * 13 + k, 13L) * 64).toInt.min(63)
            code ^= (1L << bit)
            k += 1
          }
          code
        }
        val codes = spark.range(n.toLong).as[Long]
          .map(id => (id, codeOf(id))).toDF("id", "code")
          .localCheckpoint(true)
        val params = HnswParams.standard(64, 32, 16)
        val t0 = System.nanoTime()
        var index = HnswRoutedCodes.build(codes, params, nCells, seed = 42L)
        val buildS = (System.nanoTime() - t0) / 1e9
        // Invariant design (hardened by the 1e6 shakedowns): the storm
        // mutates every cell ANY batch id routes to — and strays exist
        // (a 12-bit-flipped code can land nearer another cluster's
        // anchor), so "clusters >= 3 are untouched" is false at the
        // CELL level: one stray batch id in cell 28 rebuilt that
        // cell's graph and deterministically flipped one query's
        // beam-recall at 1e6 — legitimate reshaping, not corruption.
        // The exact invariant: queries whose ENTIRE nProbe=8 probe set
        // avoids every touched cell — then every consulted graph is
        // identical across rounds, searches are deterministic, and the
        // full (qid, id, hamming) top-1 ROW SET must match the
        // baseline exactly, round over round.
        val rounds = 6
        val batch = math.min(20000, math.max(1000, n / 100))
        val anchorsArr = index.anchors
        // batch ids: cluster-0 stride RESTRICTED to its home cell —
        // strays (a 12-bit-flipped code can route to another trained
        // anchor) would make touchedCells ≈ all cells and starve the
        // query sample (the first 1e7 read kept 13 queries); with
        // strays excluded the storm touches exactly ONE cell and the
        // invariant keeps a full sample
        val candidates = (0L until n.toLong by nCells.toLong)
          .take(rounds * batch * 2)
        val byHome = candidates.groupBy(id =>
          HnswRoutedCodes.nearestAnchor(codeOf(id), anchorsArr))
        val (homeCell, homeIds0) = byHome.maxBy(_._2.size)
        val effBatch = math.min(batch, homeIds0.size / rounds)
        val homeIds = homeIds0.toArray
        val touchedCells = Set(homeCell)
        // 8 nearest anchors by Hamming, ties by index (the router's
        // contract, driver-side for query selection only)
        def probeSet(code: Long): Seq[Int] =
          anchorsArr.indices
            .sortBy(c => (java.lang.Long.bitCount(anchorsArr(c) ^ code), c))
            .take(8)
        val qIds = (0L until n.toLong by math.max(1L, n.toLong / 8000))
          .filter { id =>
            id % nCells >= 3 && probeSet(codeOf(id)).forall(!touchedCells(_))
          }
          .take(2000)
        val qDf = spark.createDataset(qIds.map(id => (id, codeOf(id))))
          .toDF("qid", "qcode").localCheckpoint(true)
        def topRows(idx: HnswRoutedCodes.RoutedCodeIndex): (Double, Seq[(Long, Long, Int)]) = {
          val t = System.nanoTime()
          val rows = HnswRoutedCodes.search(idx, qDf, 1, nProbe = 8)
            .select(col("qid"), col("id"), col("hamming"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
            .toSeq.sorted
          ((System.nanoTime() - t) / 1e9, rows)
        }
        topRows(index) // warm
        val baseRows = topRows(index)._2
        val baselineSelf = baseRows.count(_._3 == 0).toLong
        // ballast: Array[Long](128) rows ≈ 1.1 KB deserialized; sized
        // to ~45% of the heap so ballast + index exceed the storage
        // pool and LRU ping-pongs between them every round
        val heap = Runtime.getRuntime.maxMemory
        val ballastRows = math.max(1000L, (heap * 0.45 / 1100).toLong)
        val ballast = spark.sparkContext.range(0L, ballastRows, 1,
            spark.sparkContext.defaultParallelism)
          .map(i => Array.fill(128)(i))
        ballast.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
          .setName("graft-evictstorm-ballast")
        def squeeze(): Unit = { ballast.count(); () }
        def diskBytes(): Long =
          spark.sparkContext.getRDDStorageInfo.map(_.diskSize).sum
        squeeze()
        var parityBreaks = 0
        var leakedTotal = 0L
        var maxDisk = 0L
        var serveLast = 0.0
        (1 to rounds).foreach { r =>
          // disjoint home-cell batch per round: slice r of the
          // stray-filtered cluster-0 ids — deleted, folded out, then
          // re-ingested
          val ids = homeIds.slice((r - 1) * effBatch, r * effBatch)
          val idsDf = spark.createDataset(ids.toSeq).toDF("id")
            .localCheckpoint(true)
          squeeze()
          var cur = HnswRoutedCodes.delete(index, idsDf)
          maxDisk = math.max(maxDisk, diskBytes())
          // exclusion under eviction pressure: a deleted id must not
          // find itself through a freshly re-read shard
          val deadQ = spark.createDataset(
              ids.take(300).toSeq.map(id => (id, codeOf(id))))
            .toDF("qid", "qcode")
          leakedTotal += HnswRoutedCodes.search(cur, deadQ, 1, nProbe = 8)
            .filter(col("qid") === col("id")).count()
          squeeze()
          if (r % 2 == 1) {
            // odd rounds: full-copy compact (supersedes the prior image)
            cur = HnswRoutedCodes.compact(cur)
          } else {
            // even rounds: patched compact + fold — overlay state and
            // the composite read path under the same eviction churn
            val base = cur
            val patched = HnswRoutedCodes.compactPatched(base)
            squeeze()
            val folded = HnswRoutedCodes.foldOverlay(patched)
            base.shards.unpersist(blocking = true)
            cur = folded
          }
          maxDisk = math.max(maxDisk, diskBytes())
          squeeze()
          // re-ingest the freed ids (tombstones emptied by the fold)
          val reDf = spark.createDataset(ids.toSeq.map(id => (id, codeOf(id))))
            .toDF("id", "code")
          cur = HnswRoutedCodes.ingest(cur, reDf)
          maxDisk = math.max(maxDisk, diskBytes())
          val (s, nowRows) = topRows(cur)
          val self = nowRows.count(_._3 == 0).toLong
          serveLast = s
          if (nowRows != baseRows) {
            parityBreaks += 1
            // name the diverging rows — bounded by the discrepancy,
            // diagnosis not decoration
            val baseMap = baseRows.map(x => x._1 -> x).toMap
            nowRows.filter(x => baseMap.get(x._1).exists(_ != x)).take(5)
              .foreach { case (qid, id, d) =>
                val (_, bid, bd) = baseMap(qid)
                println(s"REHEARSAL_PHASE evictstorm DIVERGED qid=$qid " +
                  s"now=(id=$id, hamming=$d) base=(id=$bid, hamming=$bd)")
              }
          }
          println(f"REHEARSAL_PHASE evictstorm n=$n round=$r " +
            f"serve_s=$s%.2f rows_match=${nowRows == baseRows} " +
            f"zero_dist=$self/$baselineSelf " +
            f"disk_bytes=${diskBytes()} leaked_cum=$leakedTotal")
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

      // COUNT-MIN rung (round-11): the claim under test is the sketch's
      // whole reason to exist — shuffle volume is bounded by
      // partitions x depth x width CELLS (map-side combine IS the
      // sketch merge), flat as n grows a decade; the exact count's
      // shuffle grows with the distinct-key count instead.
      if (ops("cms")) run("cms_sketch", n) {
        val cfg = graft.operators.CountMin.Config(depth = 4, width = 4096, seed = 5L)
        val toks = spark.range(n.toLong).select(
          concat(lit("tok"), pmod(xxhash64(col("id")), lit(100000L))).as("term"))
        val sk = graft.operators.CountMin.sketch(toks, "term", cfg)
        (sk.count(), s"cells_max=${cfg.depth * cfg.width}")
      }

      // KMV rung (round-11): the distinct-count dual of the cms rung —
      // the k-bounded aggregate's shuffle is capped at groups x k x
      // partitions LONGS however many rows (and distinct keys) flow in,
      // while exact countDistinct shuffles every distinct key. The
      // estimator is audited in-run against the exact count (the same
      // number the catalog row hash-proves against DuckDB at sf scale).
      if (ops("kmv")) run("kmv_sketch", n) {
        val k = 256
        val rows = spark.range(n.toLong).select(
          concat(lit("g"), pmod(col("id"), lit(8L))).as("g"),
          // distinct universe grows with n (~n/2 distinct keys)
          pmod(xxhash64(col("id")), lit(math.max(1L, n.toLong / 2))).as("key"))
        val sk = graft.operators.Kmv.sketch(rows, col("key"), Seq(col("g")), k)
          .withColumn("n_est", graft.operators.Kmv.estimate(col("kmv"), k))
        val (est, sketch) = collector.measure("kmv_sketch")(
          sk.select(col("g"), col("n_est")).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap)
        val (exact, exactSpan) = collector.measure("kmv_exact")(
          rows.groupBy(col("g"))
            .agg(countDistinct(col("key")).as("n")).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap)
        val sketchRecords = sketch.total.shuffleWriteRecords
        val exactRecords = exactSpan.total.shuffleWriteRecords
        val maxErrBp = est.map { case (g, e) =>
          math.abs(e - exact(g)) * 10000 / math.max(1L, exact(g)) }.max
        (est.size.toLong, s"sketch_records=$sketchRecords " +
          s"exact_records=$exactRecords max_err_bp=$maxErrBp cap=${8 * k}/task")
      }

      // SEQUENCE-PACKING rung (round-11): the claim is that fixed-length
      // packing is pure count arithmetic — per decade the only data-sized
      // costs are one range-partition of (id, n_tok) pairs and one
      // seq_id-keyed aggregation; the per-partition-totals collect is
      // bounded by parallelism and the span explode by n_tok/L + 1 rows
      // per doc. No token string ever exists.
      if (ops("pack")) run("pack_sequences", n) {
        import graft.operators.PrefixSum
        import org.apache.spark.sql.expressions.Window
        val L = 2048L
        val d = spark.range(n.toLong).select(col("id").as("doc_id"),
          (lit(50L) + pmod(col("id") * 37L, lit(900L))).as("n_tok"))
        val r = PrefixSum.ranged(d, numPartitions = 32,
          order = Seq(col("doc_id")), weight = col("n_tok"))
        val prev = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val seqs = r.df
          .withColumn("start",
            r.offset + coalesce(sum(col("n_tok")).over(prev), lit(0L)))
          .withColumn("fin", col("start") + col("n_tok"))
          .select(explode(sequence(expr(s"start div $L"), expr(s"(fin - 1) div $L")))
            .as("seq_id"),
            col("start"), col("fin"))
          .groupBy(col("seq_id"))
          .agg(sum(least(col("fin"), (col("seq_id") + 1) * L) -
            greatest(col("start"), col("seq_id") * L)).as("n_tokens"))
        // one pass for both numbers — two .count()s would execute the
        // whole explode + window + groupBy pipeline twice inside the
        // timed region and report ~2x the cost of one pack
        val row = seqs.agg(count(lit(1)).as("n"),
          sum(when(col("n_tokens") === L, 1L).otherwise(0L)).as("full")).head
        (row.getLong(0), s"full_seqs=${row.getLong(1)} total_tokens=${r.total} L=$L")
      }

      if (ops("spans")) run("substring_spans", n) {
        val out = graft.operators.SubstringDedup.duplicatedSpans(
          docs, "text", "doc_id", minTokens = 20)
        (out.count(), "")
      }
      // the DEDUP regime (threshold 0.85): planted near-dups sit at
      // cosine ~0.99 and banding prunes the background hard — the
      // documented sweet spot of SimHash LSH. (At moderate thresholds
      // like 0.45 the background collision rate 0.5^r keeps candidates
      // ~all-pairs; that regime's scale path is the ANN index, per the
      // v_neardup_lsh catalog note — measured here once: 434 s at
      // n=1e5 vs 13 s for the same corpus at 0.85.)
      if (ops("lsh")) run("neardup_lsh_planned", n) {
        val p = graft.operators.LshPlan.plan(
          threshold = 0.85, targetRecall = 0.95, nBits = 512, n = n.toLong)
        val out = graft.operators.Dedup.neardupLsh(
          vecs, "vec_id", "embedding", threshold = 0.85,
          nBits = 512, bands = p.bands, rowsPerBand = p.rowsPerBand)
        (out.count(), s"bands=${p.bands} rows_per_band=${p.rowsPerBand}")
      }
    }
    spark.stop()
  }
}
