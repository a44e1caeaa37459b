package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions.signPack64

/** The scan kernel of `search` must return what the score expressions
  * return through `searchWith`, row for row and bit for bit, and the
  * bounded-heap paths must agree exactly with the window-rank path (which
  * mirrors the SQL oracle) on every metric. */
class ExactKnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val vectors = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val queries = emb.filter(col("vec_id") % 25 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** Float embeddings, or their u64 sign codes under hamming. */
  private def inputs(metric: String): (DataFrame, DataFrame) =
    if (metric != "hamming") (queries, vectors)
    else (queries.select(col("qid"), signPack64(col("qvec")).as("qvec")),
      vectors.select(col("id"), signPack64(col("vec")).as("vec")))

  /** (qid, id, rank, score bits) in rank order; NaN bits are canonical. */
  private def rows(df: DataFrame): Seq[(Long, Long, Int, Long)] =
    df.select("qid", "id", "rank", "score").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(r => (r._1, r._3))

  for (metric <- Seq("cosine", "l2", "dot", "hamming")) {
    test(s"aggregator path == windowed path ($metric)") {
      val (q, v) = inputs(metric)
      val a = ExactKnn.search(q, v, 10, metric)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val w = ExactKnn.searchWindowed(q, v, 10, metric)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(a == w)
    }
  }

  test("top-k matches a driver-side reference computation (cosine)") {
    import graft.store.Metrics
    val vecs = vectors.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qs = queries.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val expected = qs.flatMap { case (qid, qv) =>
      vecs.map { case (id, v) => (qid, id, 1.0 - Metrics.cosineDist(qv, v)) }
        .sortBy { case (_, id, s) => (-s, id) }
        .take(10).zipWithIndex
        .map { case ((_, id, _), i) => (qid, id, i + 1) }
    }.toSet
    val got = ExactKnn.search(queries, vectors, 10, "cosine")
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
  }

  test("scan kernel == score expression, row for row and bit for bit, on every metric") {
    val rnd = new scala.util.Random(7)
    def vec(dim: Int): Array[Float] = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    // 8-d vectors, with shorter and longer ones, a zero vector, a NaN
    // component, a repeated id and an exact repeat of a whole row
    val stored = (0 until 40).map(i => (i.toLong, vec(8))) ++ Seq(
      (40L, vec(5)), (41L, vec(11)), (42L, new Array[Float](8)),
      (43L, vec(8).updated(3, Float.NaN)), (3L, vec(8)), (44L, vec(8)))
    val all = stored :+ stored.last
    val vecs = all.toDF("id", "vec").repartition(3)
    val codes = all.map { case (id, v) => (id, java.util.Arrays.hashCode(v) * 0x9E3779B97F4A7C15L) }
      .toDF("id", "vec").repartition(3)
    // 1, 5 and 7 queries: none a multiple of the four-query pass; the
    // 7-query set mixes lengths and holds a zero query
    val qvecs = Map(
      1 -> Seq(vec(8)),
      5 -> Seq.fill(5)(vec(8)),
      7 -> (Seq.fill(5)(vec(8)) ++ Seq(vec(6), new Array[Float](8))))
    for ((nq, qs) <- qvecs; k <- Seq(3, 60); metric <- Seq("cosine", "l2", "dot", "hamming")) {
      val q = qs.zipWithIndex.map { case (v, i) => (100L + i, v) }.toDF("qid", "qvec")
      val (qDf, vDf) =
        if (metric != "hamming") (q, vecs)
        else (q.select(col("qid"), signPack64(col("qvec")).as("qvec")), codes)
      val kernel = rows(ExactKnn.search(qDf, vDf, k, metric))
      val expr = rows(ExactKnn.searchWith(qDf, vDf, k, ExactKnn.scoreCol(metric),
        ExactKnn.metricAscending(metric)))
      assert(kernel == expr, s"$metric, $nq queries, k=$k")
      assert(kernel.size == nq * math.min(k, all.size), s"$metric, $nq queries, k=$k")
    }
  }

  test("a null vector is no candidate on any path, and a null query returns no rows") {
    val table = Seq[(Long, Array[Float])]((1L, Array(1f, 0f, 0f, 0f)), (2L, null),
      (3L, Array(0f, 1f, 0f, 0f)), (4L, new Array[Float](4))).toDF("id", "vec")
    val qs = Seq[(Long, Array[Float])]((10L, Array(1f, 0f, 0f, 0f)), (11L, null))
      .toDF("qid", "qvec")
    val cell = Ivf.IvfModel(Array(Array(1f, 0f, 0f, 0f)), "cosine")
    val expected = Map(
      "cosine" -> Seq((1L, 1.0), (3L, 0.0), (4L, 0.0)),
      "l2" -> Seq((1L, 0.0), (4L, 1.0), (3L, 2.0)),
      "dot" -> Seq((1L, 1.0), (3L, 0.0), (4L, 0.0)))
    for ((metric, want) <- expected; k <- Seq(2, 4)) {
      val asc = ExactKnn.metricAscending(metric)
      val paths = Map(
        "search" -> ExactKnn.search(qs, table, k, metric),
        "searchWith" -> ExactKnn.searchWith(qs, table, k, ExactKnn.scoreCol(metric), asc),
        "searchWindowed" -> ExactKnn.searchWindowed(qs, table, k, metric),
        "Ivf.searchWith" -> Ivf.searchWith(qs, table.withColumn("cell", lit(0)), cell,
          k, 1, ExactKnn.scoreCol(metric), asc, "vec"))
      for ((path, df) <- paths) {
        val got = df.select("qid", "id", "score", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(_._4).toSeq
        val exp = want.take(k).zipWithIndex.map { case ((id, s), i) => (10L, id, s, i + 1) }
        assert(got == exp, s"$path, $metric, k=$k")
      }
    }
  }

  test("NaN scores: last on search and searchWith, first in searchWindowed under a descending score") {
    // Spark, like DuckDB, orders NaN above every double: the window's
    // ORDER BY score DESC (cosine, dot) puts it first, as the SQL oracle
    // does, and its ascending l2 order puts it last; the bounded top-k
    // paths rank it last on every metric
    val table = Seq((1L, Array(1f, Float.NaN, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f))).toDF("id", "vec")
    val qs = Seq((10L, Array(1f, 0f, 0f, 0f))).toDF("qid", "qvec")
    // ids in rank order: (search and searchWith, searchWindowed)
    val expected = Map(
      "cosine" -> (Seq(2L, 3L, 1L), Seq(1L, 2L, 3L)),
      "dot" -> (Seq(2L, 3L, 1L), Seq(1L, 2L, 3L)),
      "l2" -> (Seq(2L, 3L, 1L), Seq(2L, 3L, 1L)))
    def ranked(df: DataFrame): Seq[Long] =
      df.select("id", "rank").collect().map(r => (r.getInt(1), r.getLong(0))).sorted.map(_._2).toSeq
    for ((metric, (topK, windowed)) <- expected) {
      val asc = ExactKnn.metricAscending(metric)
      assert(ranked(ExactKnn.search(qs, table, 3, metric)) == topK, s"search, $metric")
      assert(ranked(ExactKnn.searchWith(qs, table, 3, ExactKnn.scoreCol(metric), asc)) == topK,
        s"searchWith, $metric")
      assert(ranked(ExactKnn.searchWindowed(qs, table, 3, metric)) == windowed,
        s"searchWindowed, $metric")
    }
  }
}
