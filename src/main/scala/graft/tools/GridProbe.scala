package graft.tools


/** Standalone grid-cell probe (not part of the library surface): runs
  * ONLY the Bench vector-grid build cells at the given sizes, printing
  * build wall + GC + heap — for iterating on build-path memory churn
  * without paying the full catalog bench. */
object GridProbe {
  def main(args: Array[String]): Unit = {
    import graft.hnsw.{HnswCodes, HnswDistributed, HnswParams}
    import graft.hnsw.HnswDistributed.BuildConfig
    val sizes = if (args.nonEmpty) args(0).split(",").map(_.toInt).toSeq
                else Seq(100000)
    val variants = if (args.length > 1) args(1).split(",").toSet
                   else Set("float", "hamming")
    val spark = graft.SparkEntry.localSession("32")
    println(s"heap_max_mb=${Runtime.getRuntime.maxMemory / 1e6}")

    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val dim = 64
    val cfg = BuildConfig(HnswParams.standard(64, 32, 32), "cosine", seed = 9L)

    // warm-up (mirrors Bench)
    locally {
      val wRows = Array.tabulate(256) { i =>
        (i.toLong, Array.tabulate(dim)(d =>
          (HnswParams.uniformFromHash(i.toLong * 131 + d, 17L) * 2.0 - 1.0).toFloat))
      }
      HnswDistributed.buildFromArray(spark, wRows, cfg)
      val wCodes = Array.tabulate(256)(i =>
        (i.toLong, i.toLong * 0x9E3779B97F4A7C15L))
      import spark.implicits._
      HnswCodes.buildBatched(spark.createDataset(wCodes.toSeq).toDF("id", "code"),
        HnswParams.standard(64, 32, 32), seed = 23L)
    }

    sizes.foreach { n =>
      if (variants("float")) {
        System.gc()
        val rows = Array.tabulate(n) { i =>
          (i.toLong, Array.tabulate(dim)(d =>
            (HnswParams.uniformFromHash(i.toLong * 131 + d, 17L) * 2.0 - 1.0).toFloat))
        }
        val gc0 = gcMs(); val t0 = System.nanoTime()
        val model = HnswDistributed.buildFromArray(spark, rows, cfg)
        val t = (System.nanoTime() - t0) / 1e9
        val rt = Runtime.getRuntime
        println(f"GRIDPROBE float n=$n build=$t%.2fs gc=${(gcMs() - gc0) / 1e3}%.2fs " +
          f"heap_used_mb=${(rt.totalMemory - rt.freeMemory) / 1e6}%.0f layers=${model.snapshot.numLayers}")
      }
      if (variants("hamming")) {
        System.gc()
        val codes = Array.tabulate(n) { i =>
          (i.toLong, java.lang.Double.doubleToRawLongBits(
            HnswParams.uniformFromHash(i.toLong, 23L)))
        }
        import spark.implicits._
        val codesDf = spark.createDataset(codes.toSeq).toDF("id", "code").cache()
        codesDf.count()
        val gc0 = gcMs(); val t0 = System.nanoTime()
        val model =
          if (n <= 10000) HnswCodes.build(codesDf, HnswParams.standard(64, 32, 32), seed = 23L)
          else HnswCodes.buildBatched(codesDf, HnswParams.standard(64, 32, 32), seed = 23L)
        val t = (System.nanoTime() - t0) / 1e9
        val rt = Runtime.getRuntime
        println(f"GRIDPROBE hamming n=$n build=$t%.2fs gc=${(gcMs() - gc0) / 1e3}%.2fs " +
          f"heap_used_mb=${(rt.totalMemory - rt.freeMemory) / 1e6}%.0f layers=${model.snapshot.numLayers}")
        codesDf.unpersist()
      }
    }
    spark.stop()
  }
}
