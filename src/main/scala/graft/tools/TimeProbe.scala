package graft.tools
object TimeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.SparkEntry.localSession("32")
    spark.read.parquet(s"$sfDir/documents.parquet").write.format("noop").mode("overwrite").save()
    names.foreach { n =>
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"TIMEPROBE $n run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
