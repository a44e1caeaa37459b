package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.VectorFunctions._
import graft.hnsw.ExprEnc
import graft.store.ArenaVectorStore.{metricCode, squaredNorm, Cosine, L2}

/** Exact (brute-force) k-nearest-neighbor search — the Spark-native
  * `LinearDb` (reference: src/linear_db.rs:17-35): evaluate the distance of
  * every query against every stored vector, keep the k best.
  *
  * This is both a first-class operator (the only *exact* kNN) and the
  * recall oracle for the approximate paths (HNSW / LSH), exactly the role
  * the reference's linear baseline plays in benches/hnsw.rs:77-110.
  *
  * Scale design (100 TB posture):
  *   - The query set is the small side: [[search]] collects it once per
  *     call into a primitive block (vectors and cached squared norms, or
  *     u64 codes) and broadcasts it; the big vector table is scanned once,
  *     partition-parallel, by a scan kernel that keeps a bounded top-k per
  *     query, so at most k rows per query per partition reach the shuffle.
  *   - [[searchWith]] evaluates a caller-supplied score Column over the
  *     broadcast cross product and reduces it map-side with the same
  *     bounded top-k (partial aggregation), so its shuffle is
  *     O(#queries * k * #partitions) as well.
  *   - A window over the raw cross product would shuffle
  *     |queries| * |vectors| rows — wrong at scale; kept as
  *     [[searchWindowed]] for plan comparison and small inputs.
  *
  * Every path ranks by (score, id), and a null score (a null vector on
  * either side) is no candidate: a null query returns no rows. A NaN
  * score (a NaN component) ranks last on [[search]] and [[searchWith]].
  * [[searchWindowed]] sorts as the SQL oracle it mirrors does: Spark and
  * DuckDB both order NaN above every double, so NaN ranks first under a
  * descending score (cosine, dot) and last under an ascending one (l2).
  */
object ExactKnn {

  /** One scored candidate. score semantics depend on `ascending`:
    * distance (smaller = better) or similarity (larger = better). */
  case class Scored(id: Long, score: Double)

  /** One row into [[TopKAggregator]]: `scored` is false where the score
    * is null, and such a row is no candidate. */
  case class Candidate(id: Long, score: Double, scored: Boolean)

  /** Aggregation buffer: parallel primitive arrays, best candidate first,
    * product-encoded — partial-aggregation ser/deser stays on flat
    * Tungsten arrays instead of Kryo-serialized object graphs. */
  case class TopKBuf(ids: Array[Long], scores: Array[Double], n: Int)

  /** True when candidate (sA, idA) ranks worse than (sB, idB): by score in
    * the metric's direction, then by id. NaN scores (a corrupt vector
    * under l2/dot) rank worse than everything regardless of direction —
    * otherwise a NaN row could occupy a slot that blocks all later
    * candidates. */
  @inline private def worse(sA: Double, idA: Long, sB: Double, idB: Long,
                            ascending: Boolean): Boolean = {
    val aN = java.lang.Double.isNaN(sA)
    val bN = java.lang.Double.isNaN(sB)
    if (aN || bN) aN && (!bN || idA > idB)
    else if (ascending) sA > sB || (sA == sB && idA > idB)
    else sA < sB || (sA == sB && idA > idB)
  }

  /** The one bounded top-k insert: offers (score, id) to the best-first
    * run `ids`/`scores(from until from + n)` of capacity k and returns the
    * run's new length. A full run drops its worst candidate. */
  private[operators] def offer(ids: Array[Long], scores: Array[Double], from: Int, n: Int,
                               k: Int, id: Long, score: Double, ascending: Boolean): Int = {
    if (n == k && !worse(scores(from + k - 1), ids(from + k - 1), score, id, ascending)) n
    else {
      var i = from + math.min(n, k - 1)
      while (i > from && worse(scores(i - 1), ids(i - 1), score, id, ascending)) {
        scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1
      }
      scores(i) = score; ids(i) = id
      math.min(n + 1, k)
    }
  }

  /** Bounded top-k aggregator: partial aggregation keeps at most k
    * candidates per group on the map side — the Spark image of the
    * reference's FurthestQueue beam (src/data_structures/queue.rs:12-65).
    * `best` = smallest score when ascending (distances), largest otherwise.
    */
  class TopKAggregator(k: Int, ascending: Boolean)
      extends Aggregator[Candidate, TopKBuf, Seq[Scored]] {

    override def zero: TopKBuf = TopKBuf(new Array[Long](k), new Array[Double](k), 0)

    override def reduce(buf: TopKBuf, in: Candidate): TopKBuf =
      if (in.scored) add(buf, in.id, in.score) else buf

    override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      var out = a
      var i = 0
      while (i < b.n) { out = add(out, b.ids(i), b.scores(i)); i += 1 }
      out
    }

    private def add(buf: TopKBuf, id: Long, score: Double): TopKBuf = {
      val n = offer(buf.ids, buf.scores, 0, buf.n, k, id, score, ascending)
      if (n == buf.n) buf else TopKBuf(buf.ids, buf.scores, n)
    }

    override def finish(buf: TopKBuf): Seq[Scored] =
      (0 until buf.n).map(i => Scored(buf.ids(i), buf.scores(i)))
    override def bufferEncoder: Encoder[TopKBuf] = ExpressionEncoder[TopKBuf]()
    override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
  }

  /** Distance/similarity column factory by metric name. */
  def scoreCol(metric: String)(q: Column, v: Column): Column = metric match {
    case "cosine"  => cosineSim(q, v)  // similarity: higher is better
    case "l2"      => l2Sq(q, v)       // distance: lower is better
    case "dot"     => dotF32(q, v)     // similarity
    case "hamming" => hammingU64(q, v).cast("double") // distance, u64 codes
    case other     => throw new IllegalArgumentException(s"unknown metric: $other")
  }
  def metricAscending(metric: String): Boolean = metric match {
    case "l2" | "hamming" => true
    case _                => false
  }

  /** Scale path: broadcast query block x partition-local scan kernel ->
    * at most k rows per query per partition -> tiny shuffle -> final
    * merge. Output: (qid, id, score, rank), row for row what
    * [[searchWith]] returns for `scoreCol(metric)`, scores bit-identical.
    *
    * @param queries  (qid, qvec) — small: collected when this is called
    * @param vectors  (id: long, vec) — arbitrarily large
    */
  def search(queries: DataFrame, vectors: DataFrame, k: Int,
             metric: String = "cosine",
             queryVecCol: String = "qvec", vecCol: String = "vec"): DataFrame = {
    val ascending = metricAscending(metric)
    val code = metric match {
      case "hamming" => Hamming
      case other     => metricCode(other)
    }
    val qs = queries.select(col("qid"), col(queryVecCol))
    val block = qs.sparkSession.sparkContext.broadcast(QueryBlock(code, qs.collect()))
    val schema = StructType(Seq(qs.schema.fields(0),
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    val vs = vectors.select(col("id").cast(LongType), col(vecCol))
    def scan[V](enc: Encoder[(Long, V)])(f: (QueryBlock, QueryTopK, Long, V) => Unit) =
      vs.as(enc).mapPartitions { it =>
        val b = block.value
        val top = new QueryTopK(b.qids, k, ascending)
        it.foreach { case (id, v) => if (v != null) f(b, top, id, v) }
        top.rows
      }(Encoders.row(schema))
    val pairs =
      if (code == Hamming)
        scan(Encoders.tuple(Encoders.scalaLong, Encoders.LONG))((b, top, id, c) => scanCode(b, top, id, c))
      else scan(Encoders.tuple(Encoders.scalaLong, ExprEnc.floatArray))(scanVector)
    rankPerQuery(pairs, k, ascending)
  }

  /** [[search]] with a caller-supplied score column (any codegen'd kernel
    * — e.g. the PQ asymmetric distance over a code column). The score
    * expression runs over the broadcast cross product; this is the
    * reference the scan kernel of [[search]] is checked against. */
  def searchWith(queries: DataFrame, vectors: DataFrame, k: Int,
                 score: (Column, Column) => Column, ascending: Boolean,
                 queryVecCol: String = "qvec", vecCol: String = "vec"): DataFrame =
    rankPerQuery(vectors
      .join(broadcast(queries))
      .select(col("qid"), col("id"),
        score(col(queryVecCol), col(vecCol)).as("score")), k, ascending)

  /** The ranking tail every top-k path shares: (qid, id, score) rows ->
    * bounded top-k per qid (null scores are no candidates) ->
    * (qid, id, score, rank), rank 1 = best. */
  private[graft] def rankPerQuery(pairs: DataFrame, k: Int, ascending: Boolean): DataFrame = {
    val topk = udaf(new TopKAggregator(k, ascending))
    pairs
      .groupBy(col("qid"))
      .agg(topk(col("id"), col("score"), col("score").isNotNull).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("qid"), col("n.id").as("id"), col("n.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Small-data / oracle-shaped variant: full cross product + window.
    * Simple and exactly mirrors the SQL oracle, NaN order included (first
    * under a descending score); shuffles the whole cartesian product, so
    * only for modest |queries| x |vectors|. */
  def searchWindowed(queries: DataFrame, vectors: DataFrame, k: Int,
                     metric: String = "cosine",
                     queryVecCol: String = "qvec", vecCol: String = "vec"): DataFrame = {
    val asc = metricAscending(metric)
    val score = scoreCol(metric)(col(queryVecCol), col(vecCol))
    // null scores rank after every real one, so dropping them after the
    // window leaves the ranks of the real candidates as they are
    val ordered = if (asc) Seq(col("score").asc_nulls_last, col("id").asc)
                  else Seq(col("score").desc_nulls_last, col("id").asc)
    vectors
      .join(broadcast(queries))
      .select(col("qid"), col("id"), score.as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(ordered: _*)))
      .filter(col("rank") <= k && col("score").isNotNull)
  }

  private final val Hamming = 3

  /** The query side of [[search]], collected once per call. Query j is
    * `qids(j)`; under a float metric its vector is `vecs(j)`, with squared
    * norm `normSq(j)` summed in index order (the expression's `na`), and
    * `dim` is the length all queries share (-1 when they differ); under
    * hamming its code is `codes(j)`. Queries with a null vector are left
    * out. */
  private final case class QueryBlock(metric: Int, qids: Array[Any], dim: Int,
                                      vecs: Array[Array[Float]], normSq: Array[Double],
                                      codes: Array[Long])

  private object QueryBlock {
    def apply(metric: Int, rows: Array[Row]): QueryBlock = {
      val live = rows.filterNot(_.isNullAt(1))
      val qids = live.map(_.get(0))
      if (metric == Hamming)
        QueryBlock(metric, qids, 0, null, null, live.map(_.getAs[Number](1).longValue))
      else {
        val vecs = live.map(_.getSeq[Float](1).toArray)
        val dims = vecs.map(_.length).distinct
        QueryBlock(metric, qids, if (dims.length == 1) dims(0) else -1,
          vecs, vecs.map(squaredNorm), null)
      }
    }
  }

  /** Per-task state of the scan: a best-first run of at most k
    * (score, id) candidates per query — nq * k ids and scores. */
  private final class QueryTopK(qids: Array[Any], k: Int, ascending: Boolean) {
    private val nq = qids.length
    private val ids = new Array[Long](nq * k)
    private val scores = new Array[Double](nq * k)
    private val counts = new Array[Int](nq)

    @inline def offer(q: Int, id: Long, score: Double): Unit =
      counts(q) = ExactKnn.offer(ids, scores, q * k, counts(q), k, id, score, ascending)

    /** The kept candidates as (qid, id, score) rows. */
    def rows: Iterator[Row] =
      Iterator.range(0, nq).flatMap(q =>
        Iterator.range(q * k, q * k + counts(q)).map(i => Row(qids(q), ids(i), scores(i))))
  }

  /** `bit_count(q ^ v)` against every query. */
  private def scanCode(b: QueryBlock, top: QueryTopK, id: Long, v: Long): Unit = {
    var q = 0
    while (q < b.codes.length) {
      top.offer(q, id, java.lang.Long.bitCount(b.codes(q) ^ v).toDouble)
      q += 1
    }
  }

  @inline private def cosine(dot: Double, na: Double, nb: Double): Double =
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)

  /** Scores stored vector `v` against every query. While four queries of
    * v's length remain, they are scored in one pass over v, each pair with
    * its own sequential accumulator, and cosine reads both norms from the
    * cache; the rest go one pair at a time. Each score sums the same terms
    * in the same order as the codegen'd expression
    * ([[graft.functions.Float32VectorKernel]]), with the query as its left
    * operand, so the score is bit-identical. */
  private def scanVector(b: QueryBlock, top: QueryTopK, id: Long, v: Array[Float]): Unit = {
    val metric = b.metric
    val nq = b.vecs.length
    val n = v.length
    var q = 0
    if (n == b.dim) {
      val vn = if (metric == Cosine) squaredNorm(v) else 0.0
      while (q + 4 <= nq) {
        val q0 = b.vecs(q); val q1 = b.vecs(q + 1); val q2 = b.vecs(q + 2); val q3 = b.vecs(q + 3)
        var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
        var i = 0
        if (metric == L2) {
          while (i < n) {
            val y = v(i).toDouble
            val d0 = q0(i).toDouble - y; a0 += d0 * d0
            val d1 = q1(i).toDouble - y; a1 += d1 * d1
            val d2 = q2(i).toDouble - y; a2 += d2 * d2
            val d3 = q3(i).toDouble - y; a3 += d3 * d3
            i += 1
          }
        } else {
          while (i < n) {
            val y = v(i).toDouble
            a0 += q0(i).toDouble * y
            a1 += q1(i).toDouble * y
            a2 += q2(i).toDouble * y
            a3 += q3(i).toDouble * y
            i += 1
          }
          if (metric == Cosine) {
            a0 = cosine(a0, b.normSq(q), vn); a1 = cosine(a1, b.normSq(q + 1), vn)
            a2 = cosine(a2, b.normSq(q + 2), vn); a3 = cosine(a3, b.normSq(q + 3), vn)
          }
        }
        top.offer(q, id, a0); top.offer(q + 1, id, a1)
        top.offer(q + 2, id, a2); top.offer(q + 3, id, a3)
        q += 4
      }
    }
    while (q < nq) { top.offer(q, id, pairScore(metric, b.vecs(q), v)); q += 1 }
  }

  /** One score over the common prefix of `q` and `v`, norms included. */
  private def pairScore(metric: Int, q: Array[Float], v: Array[Float]): Double = {
    val n = math.min(q.length, v.length)
    var acc = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = q(i).toDouble; val y = v(i).toDouble
      if (metric == L2) { val d = x - y; acc += d * d }
      else { acc += x * y; na += x * x; nb += y * y }
      i += 1
    }
    if (metric == Cosine) cosine(acc, na, nb) else acc
  }
}
