package perfbench

import org.apache.spark.sql.SparkSession

/** Tests the benchmark itself at tiny sizes: every workload, untraced and
  * traced, must pass its output checks and report every metric; two traced
  * runs at one seed must count identically; and a corrupted truth must be
  * caught by the recall check. Returns the process exit code. */
object SelfCheck {
  val e2e = Seq("setup_s", "search_qps", "search_ms_p50", "search_ms_tail",
    "loop_rows_per_s", "recall_at_10", "success_rate", "heap_live_mb")
  val counts = Seq("store.dist_evals_per_query", "store.dist_evals_per_insert",
    "hnsw.hops_per_query", "spark.search.jobs", "spark.search.stages",
    "spark.search.tasks", "spark.insert.jobs", "spark.insert.stages", "spark.insert.tasks")

  def run(spark: SparkSession, a: Main.Args): Int = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: => String): Unit = if (!ok) problems += what
    var n = 0
    def work(): String = { n += 1; s"${a.work}/selfcheck-$n" }

    Workload.names.foreach { name =>
      val plain = Main.run(spark, name, 7, 2, traced = false, tiny = true, work())
      expect(plain.correct, s"$name: output checks failed")
      val got = plain.metrics.map(m => m.name -> m.value).toMap
      e2e.foreach(m => expect(got.get(m).exists(v => v > 0 && !v.isInfinite),
        s"$name: end-to-end metric $m missing or not positive (${got.get(m)})"))
      val t1 = Main.run(spark, name, 7, 2, traced = true, tiny = true, work())
      val t2 = Main.run(spark, name, 7, 2, traced = true, tiny = true, work())
      expect(t1.correct && t2.correct, s"$name: traced output checks failed")
      val l1 = t1.metrics.map(m => m.name -> m.value).toMap
      val l2 = t2.metrics.map(m => m.name -> m.value).toMap
      expect(PerLayer.names.forall(l1.contains), s"$name: per-layer metrics missing")
      counts.foreach(c => expect(l1.get(c) == l2.get(c),
        s"$name: $c differs between traced runs (${l1.get(c)} vs ${l2.get(c)})"))
      System.err.println(s"selfcheck: $name done")
    }

    val ctx = new Ctx(spark, work(), None)
    val broken = new AnnSearch(ctx, 7, true) {
      override def setup(): Unit = { super.setup(); corruptTruth() }
    }
    val r = Main.measure(ctx, broken, 1, traced = false, 7, ctx.workDir)
    expect(!r.correct && r.failed > 0, "a corrupted truth was not caught")

    problems.foreach(p => System.err.println(s"selfcheck: $p"))
    println(if (problems.isEmpty) "selfcheck: ok" else s"selfcheck: ${problems.size} problem(s)")
    if (problems.isEmpty) 0 else 1
  }
}
