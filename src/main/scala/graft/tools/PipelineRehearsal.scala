package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Decade sweep for the round's new pipeline operators — the measured
  * half of their scale claims:
  *
  *  - BPE training claims per-round O(distinct words): the sweep
  *    records distinct-word count and wall per decade (the rehearsal
  *    corpus keeps vocab proportional to n — Heaps'-law posture — so
  *    distinct words grow ~linearly and wall should track them, not
  *    the raw token count).
  *  - The release pipeline claims two shuffles at any size (one text
  *    window, one sort): the sweep records wall per decade, which
  *    should stay ~linear with a flat plan.
  *
  * Findings land in BASELINE.md next to the dedup-family rehearsal.
  */
object PipelineRehearsal {

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession("32")
    val collector = graft.trace.Collector.install(spark.sparkContext)

    for (n <- Seq(1000, 10000, 100000)) {
      val docs = ScaleRehearsal.Corpus.mkDocs(spark, n)
        // the capstone's injection needs a source column
        .withColumn("source", concat(lit("src"), (col("doc_id") % 20).cast("string")))
        .localCheckpoint(true)

      val distinctWords = docs
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(countDistinct(col("w"))).head.getLong(0)

      val (merges, bpe) = collector.measure("bpe_train")(
        graft.operators.BpeTrain.train(docs, "text", nMerges = 12))
      val bpeS = bpe.seconds
      val bpeShuffleRecords = bpe.total.shuffleWriteRecords
      // the beyond-driver-memory route, forced (threshold 0) — the
      // auto route picks local below 2M distinct words, so both paths
      // stay measured per decade
      val t0d = System.nanoTime()
      val mergesD = graft.operators.BpeTrain.train(docs, "text", nMerges = 12,
        localVocabThreshold = 0L)
      val bpeDistS = (System.nanoTime() - t0d) / 1e9
      require(mergesD.map(m => (m.left, m.right, m.freq)) ==
        merges.map(m => (m.left, m.right, m.freq)),
        "routes diverged — the router must be invisible in output")

      val t1 = System.nanoTime()
      val relFrame = graft.queries.Curation.releaseTransform(docs)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("text")).orderBy(col("doc_id"))))
        .filter(col("n_tok") >= 30 && col("rn") === 1)
      // noop sink, not count(): count() lets column pruning skip the
      // normalize + redaction expressions — the dominant per-row work
      // this timing exists to measure (the Bench sink rule)
      relFrame.write.format("noop").mode("overwrite").save()
      val relS = (System.nanoTime() - t1) / 1e9
      val released = relFrame.count()

      println(f"n=$n%7d distinct_words=$distinctWords%8d " +
        f"bpe12_s=$bpeS%7.2f bpe12_dist_s=$bpeDistS%7.2f " +
        f"bpe_shuffle_records=$bpeShuffleRecords%10d " +
        f"top_merge=${merges.head.left}+${merges.head.right}(${merges.head.freq}) " +
        f"release_s=$relS%6.2f released=$released%7d")
    }
    spark.stop()
  }
}
