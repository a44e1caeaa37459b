package graft.tools


/** Per-query orchestration attribution: run each named query twice
  * (second = warm) and report, for the warm run's span, the wall time,
  * number of Spark jobs, stages, tasks, and summed task wall — a query
  * whose wall is far above its summed-task/parallelism floor is
  * scheduling/planning-bound, not compute-bound. No args after the sf
  * dir = the full catalog. */
object QueryJobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.SparkEntry.localSession("32")
    val collector = graft.trace.Collector.install(spark.sparkContext)

    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.format("noop").mode("overwrite").save()
    println("query wall_s jobs stages tasks task_sum_s")
    names.foreach { n =>
      try {
        val fn = graft.SparkEntry.queries(n)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
        val (_, span) = collector.measure(n)(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        val c = span.total
        println(f"PROBE $n ${span.seconds}%.2f ${c.jobs} ${c.stages} ${c.tasks} ${c.taskMs / 1e3}%.2f")
        span.children.foreach(r => println(f"  SPAN ${r.name} ${r.seconds}%.2f " +
          f"${r.total.jobs} ${r.total.stages} ${r.total.tasks} ${r.total.taskMs / 1e3}%.2f"))
      } catch { case t: Throwable =>
        println(s"PROBE $n FAILED ${t.getMessage}")
      }
    }
    spark.stop()
  }
}
