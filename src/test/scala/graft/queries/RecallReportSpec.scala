package graft.queries

import graft.SparkSpec
import graft.hnsw.HnswParams

/** The recall rows count their queries from the exact side of the
  * report (`countDistinct(qid)` over the truth table), not from the query
  * frame: on generated vectors, every `v_recall_*` row's `n_queries` must
  * equal the query frame's count, and its `n_expected` k per query. */
class RecallReportSpec extends SparkSpec {
  import spark.implicits._

  test("every v_recall_* row reports n_queries == qs.count()") {
    val dir = java.nio.file.Files.createTempDirectory("graft-recall-report").toString
    // 64 dims: the PQ, IVF-PQ and random-projection rows fix that width
    (0L until 500L).map { i =>
      (i, Array.tabulate(64)(j => (HnswParams.uniformFromHash(i * 67 + j, 8L) * 2.0 - 1.0).toFloat))
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val qs = Tables(spark, dir, "embeddings").filter($"vec_id" % 25 === 0).count()
    assert(qs == 20)
    val rows = Vector.defs.keys.filter(_.startsWith("v_recall_")).toSeq.sorted
    assert(rows.size >= 3)
    rows.foreach { name =>
      val r = Vector.defs(name)(spark, dir).select("n_queries", "n_expected").head()
      assert(r.getLong(0) == qs, s"$name n_queries")
      assert(r.getLong(1) == 10 * qs, s"$name n_expected")
    }
  }
}
