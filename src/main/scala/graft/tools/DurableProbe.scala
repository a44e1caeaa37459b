package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch: time one catalog query end-to-end at an sf dir (default the
  * durable-build query). Not library surface. */
object DurableProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val name = if (args.length > 1) args(1) else "h_knn_durable"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.applyConfigs(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm the session like Bench does
    spark.read.parquet(s"$dir/embeddings.parquet")
      .write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    println(f"QUERY $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.stop()
  }
}
