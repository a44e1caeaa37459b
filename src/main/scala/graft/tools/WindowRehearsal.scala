package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale rehearsal for the e_value_neighbors window rewrite: the
  * sliding RANGE count (re-aggregated per row, O(rows × frame width))
  * vs the cumulative-difference formulation (two incremental
  * UNBOUNDED-PRECEDING frames, O(rows)) on synthetic (type, value)
  * rows across three decades. Fixed value domain, so the frame WIDTH
  * grows ~10× per decade — exactly the regime where the sliding form
  * blows up and the cumulative one does not. Both run the production
  * query's salted-bucket structure (owner + two neighbor buckets, 3×
  * replication) and are asserted equal before timing. Cells whose
  * projected cost exceeds a budget are skipped with the projection
  * printed (the ScaleRehearsal honesty rule: a skipped cell is a
  * recorded fact, not a silent gap).
  */
object WindowRehearsal {
  private val R = 1000L
  private val W = 2000L
  private val Domain = 1000000L // fixed: frame rows grow with n

  private def synth(spark: SparkSession, n: Long): DataFrame =
    spark.range(n)
      .select(col("id"),
        (col("id") % 5).cast("string").as("event_type"),
        pmod(hash(col("id")).cast("long") * 2654435761L, lit(Domain)).as("value_c"))

  private def salted(df: DataFrame): DataFrame = {
    val b0 = floor(col("value_c") / W)
    df.withColumn("bucket", explode(array(b0 - 1, b0, b0 + 1)))
      .withColumn("is_owner", col("bucket") === b0)
  }

  private def sliding(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("value_c")).rangeBetween(-R, R)
    salted(df).withColumn("n_near", count(lit(1)).over(w))
      .filter(col("is_owner"))
      .select(col("id"), col("n_near"))
  }

  private def cumulative(df: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("value_c"))
    val hi = count(lit(1)).over(ord.rangeBetween(Window.unboundedPreceding, R))
    val lo = count(lit(1)).over(ord.rangeBetween(Window.unboundedPreceding, -(R + 1)))
    salted(df).withColumn("n_near", hi - lo)
      .filter(col("is_owner"))
      .select(col("id"), col("n_near"))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession("32")

    def t(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // equality gate at the smallest decade before any timing
    val small = synth(spark, 100000L).localCheckpoint()
    val diff = sliding(small).as("a")
      .join(cumulative(small).as("b"), Seq("id"))
      .filter(col("a.n_near") =!= col("b.n_near")).count()
    require(diff == 0L, s"formulations disagree on $diff rows")
    println("WINDOWREHEARSAL equality: sliding == cumulative on n=1e5")

    var lastSlidingPerTouch = 0.0
    Seq(100000L, 1000000L, 10000000L).foreach { n =>
      val df = synth(spark, n).localCheckpoint()
      val frameRows = n.toDouble * (2 * R + 1) / Domain // avg frame width
      val touches = n * frameRows
      val cum = t { cumulative(df).write.format("noop").mode("overwrite").save() }
      // budget: skip the sliding cell once its projected wall exceeds 10 min
      val projected = if (lastSlidingPerTouch > 0) touches * lastSlidingPerTouch else 0.0
      if (projected > 600.0) {
        println(f"WINDOWREHEARSAL n=$n frame~${frameRows}%.0f cumulative=${cum}%.1fs " +
          f"sliding=SKIPPED (projected ${projected}%.0fs from measured per-touch cost)")
      } else {
        val sld = t { sliding(df).write.format("noop").mode("overwrite").save() }
        lastSlidingPerTouch = sld / touches
        println(f"WINDOWREHEARSAL n=$n frame~${frameRows}%.0f cumulative=${cum}%.1fs " +
          f"sliding=${sld}%.1fs speedup=${sld / cum}%.1fx")
      }
      // no unpersist: Dataset.unpersist is a no-op on localCheckpoint'd
      // frames (they persist their RDD outside the CacheManager); the
      // ContextCleaner reclaims them once the reference is dropped, and
      // the per-decade frames (<= ~300 MB at 1e7) fit comfortably beside
      // the run in any case
    }
    spark.stop()
  }
}
