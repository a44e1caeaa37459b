package graft

import graft.trace.Collector

/** Job ceilings on catalog rows: the warm run of each row, read through
  * the span collector, submits exactly the pinned number of Spark jobs.
  * Job counts are deterministic where wall time is not, so a re-added
  * count(), collect or materialization shows up here as a number. The
  * pins were measured on the commit before the span collector existed,
  * with an independent listener (marker jobs around the run, as
  * [[graft.hnsw.RoutedJobCountSpec]] does). */
class CatalogJobCountSpec extends SparkSpec {

  private val pins = Map(
    "v_recall_bq" -> 14, "v_recall_ivf" -> 11, "v_recall_ivfpq" -> 16,
    "v_recall_pq" -> 16, "v_recall_rproj" -> 17, "v_recall_sq8" -> 16,
    "e_user_quartiles" -> 10, "d_source_overlap_kmv" -> 11,
    "h_knn_frontier" -> 48, "h_knn_durable" -> 54)

  test("warm catalog rows run the pinned job counts") {
    val c = Collector.install(spark.sparkContext)
    try {
      val measured = pins.keys.toSeq.sorted.map { n =>
        val fn = SparkEntry.queries(n)
        def run(): Unit = fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        run()
        n -> c.measure(n)(run())._2.total.jobs
      }
      println(measured.map { case (n, j) => s"JOBS $n $j" }.mkString("\n"))
      val drift = measured.filter { case (n, j) => pins(n) != j }
      assert(drift.isEmpty, s"job counts drifted from the pins: $drift")
    } finally c.close()
  }
}
