package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Runs one workload and prints its metrics; see perfbench/README.md.
  *
  * Untraced run (end-to-end metrics): generate inputs, set up
  * [[SetupReps]] times (median = `setup_s`), measure live heap, warm up,
  * then a closed loop of steps for `--seconds`.
  *
  * Traced run (per-layer metrics): the same set-up, then a fixed number of
  * steps under job groups and spans (their Spark work is charged by
  * [[OpListener]]), then untraced and traced steps in turn for
  * the rest of `--seconds` (per call type, their median ratio is the
  * tracing overhead), then the in-process replays. Spans are written out at
  * the end. */
object Main {
  val SetupReps = 3

  final case class Metric(name: String, value: Double, unit: String, samples: Int)
  final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric])

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
                        trace: Boolean = false, selfcheck: Boolean = false,
                        work: String = "", cores: Int = 1)

  def parse(args: Array[String]): Args = args.toList.grouped(2).foldLeft(Args()) {
    case (a, List("--workload", v)) => a.copy(workload = v)
    case (a, List("--seed", v))     => a.copy(seed = v.toLong)
    case (a, List("--seconds", v))  => a.copy(seconds = v.toInt)
    case (a, List("--trace", v))    => a.copy(trace = v == "1")
    case (a, List("--work", v))     => a.copy(work = v)
    case (a, List("--cores", v))    => a.copy(cores = v.toInt)
    case (a, List("--selfcheck"))   => a.copy(selfcheck = true)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def session(a: Args): SparkSession = {
    val s = graft.SparkEntry.applyConfigs(SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val spark = session(a)
    val code =
      try {
        if (a.selfcheck) SelfCheck.run(spark, a)
        else {
          val r = run(spark, a.workload, a.seed, a.seconds, a.trace, tiny = false, a.work)
          print(table(r))
          println(json(r))
          if (r.correct) 0 else 1
        }
      } catch { case t: Throwable =>
        System.err.println(s"benchmark failed: $t"); t.printStackTrace(); 2
      } finally spark.stop()
    System.exit(code)
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Int, traced: Boolean,
          tiny: Boolean, work: String): Result = {
    val listener = if (traced) Some(new OpListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    try {
      val ctx = new Ctx(spark, work, listener)
      val w = Workload(name, ctx, seed, tiny)
      measure(ctx, w, seconds, traced, seed, work)
    } finally listener.foreach(spark.sparkContext.removeSparkListener)
  }

  def measure(ctx: Ctx, w: Workload, seconds: Int, traced: Boolean, seed: Long,
              work: String): Result = {
    val setupS = (1 to SetupReps).map { _ =>
      w.release()
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"setups: ${setupS.map(x => f"$x%.2f").mkString(" ")} s")
    val heapMb = liveHeapMb()
    (1 to w.warmSteps).foreach(_ => w.step())
    val first = w.steps
    ctx.recording = true
    val out = mutable.ArrayBuffer.empty[Metric]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (!traced) {
      while (elapsed < seconds) w.step()
      val loopS = elapsed
      System.err.println(f"loop: ${w.steps - first} steps in $loopS%.2f s")
      ctx.recording = false
      w.finish()
      val search = ctx.latencies("search")
      val rows = ctx.items("search") + ctx.items("insert")
      // per second inside the calls: the loop's own output checks excluded
      val callS = (search ++ ctx.latencies("insert")).sum / 1e3
      out += Metric("setup_s", Stats.median(setupS), "s", setupS.size)
      out += Metric("search_qps", ctx.items("search") / (search.sum / 1e3), "1/s", search.size)
      out += Metric("search_ms_p50", Stats.median(search), "ms", search.size)
      out += Metric("search_ms_tail", Stats.percentile(search, w.tailPct), "ms", search.size)
      out += Metric("loop_rows_per_s", rows / callS, "1/s", w.steps - first)
      out += Metric("recall_at_10", w.recall10, "ratio", ctx.recallTotal.toInt)
      out += Metric("success_rate", 1.0 - ctx.failed.toDouble / ctx.attempted, "ratio",
        ctx.attempted.toInt)
      out += Metric("heap_live_mb", heapMb, "MB", 1)
      if (Stats.beyond(search.size, w.tailPct) < 10)
        System.err.println(s"warning: only ${search.size} search samples for p${w.tailPct}")
    } else {
      ctx.tracing = true
      (1 to w.traceSteps).foreach(_ => w.step())
      w.counted()
      val countedOps = ctx.tracedOps.toList
      // then untraced and traced steps in turn (at least one untraced);
      // per op type, the ratio of traced to untraced median latency is the
      // tracing overhead
      var k = 0
      while (elapsed < seconds || k < 1) {
        ctx.tracing = k % 2 == 1
        w.step(); k += 1
      }
      ctx.tracing = false
      ctx.recording = false
      w.finish()
      val layers = new Layers
      PerLayer.names.foreach(layers(_) = 0.0)
      ctx.listener.foreach { l =>
        org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext)
        PerLayer.spark(layers, l, countedOps)
      }
      w.layers(layers)
      for (kind <- PerLayer.ops; l = ctx.latencies(kind) if l.nonEmpty)
        layers(s"op.$kind.ms_p50") = Stats.median(l)
      // share of a search call's wall time that the HNSW kernel accounts
      // for: the single-thread replay's time per query, over the cores
      val searches = ctx.latencies("search")
      if (searches.nonEmpty)
        layers("hnsw.search_kernel_share") = layers.values("hnsw.search_us_per_query") / 1e3 *
          ctx.items("search") / searches.size / ctx.spark.sparkContext.defaultParallelism /
          Stats.median(searches)
      val inserts = ctx.latencies("insert")
      if (inserts.nonEmpty) layers("op.insert.rows_per_s") = ctx.items("insert") / (inserts.sum / 1e3)
      val ratios = PerLayer.ops.flatMap(kind => for {
        t <- ctx.opMs.get((kind, true)); u <- ctx.opMs.get((kind, false))
      } yield Stats.median(t) / Stats.median(u))
      layers("trace.overhead_pct") = 100.0 * (ratios.sum / ratios.size - 1.0)
      ctx.writeSpans(java.nio.file.Paths.get(work).getParent
        .resolve("traces").resolve(s"${w.getClass.getSimpleName}-seed$seed.jsonl"))
      layers.values.foreach { case (k, v) => out += Metric(k, v, PerLayer.unit(k), 1) }
    }
    w.release()
    Result(ctx.failed == 0, ctx.attempted, ctx.failed, out.toSeq)
  }

  def liveHeapMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    bean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def table(r: Result): String = {
    val sb = new StringBuilder
    r.metrics.foreach(m => sb ++= f"${m.name}%-40s ${m.value}%16.6f ${m.unit}%-8s n=${m.samples}%n")
    sb ++= s"attempted=${r.attempted} failed=${r.failed} correct=${r.correct}\n"
    sb.toString
  }

  def json(r: Result): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    r.metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {""", ", ", "}}")
  }
}
