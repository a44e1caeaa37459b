package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.hnsw.HnswParams
import graft.store.Metrics

/** IVF (inverted-file) approximate nearest neighbor — the
  * coarse-quantizer member of the ANN family (alongside HNSW and
  * SimHash-LSH): k-means centroids partition the vector space into
  * cells; each vector lives in its nearest centroid's inverted list;
  * a query scans only its `nProbe` nearest cells and re-ranks those
  * candidates exactly.
  *
  * Scale shape: training runs on a driver-collected sample (centroid
  * count is small by design); assignment is one scan; search shuffles
  * O(|queries| x candidates-in-probed-cells) rows instead of the full
  * table. `nProbe = nCells` degrades to exhaustive exact search — used
  * as the oracle regime.
  *
  * Training is deterministic: splitmix-seeded initial centroids and a
  * fixed Lloyd iteration count.
  */
object Ivf {

  final case class IvfModel(centroids: Array[Array[Float]], metricName: String)
      extends Serializable {
    def nCells: Int = centroids.length
  }

  private val rowEnc = Encoders.tuple(Encoders.scalaLong, graft.hnsw.ExprEnc.floatArray)

  /** Lloyd's k-means on a driver-collected sample (deterministic). */
  def train(vectors: DataFrame, nCells: Int, metric: String = "cosine",
            seed: Long = 11L, iters: Int = 10, maxSample: Int = 100000): IvfModel = {
    val dist = Metrics.byName(metric)
    // same training contract as KMeans.finiteVecs: a null vec NPEs the
    // driver loop and a single NaN component makes its cell's running
    // sum NaN after one Lloyd pass — the centroid then repels every
    // assignment forever (NaN distances never win), silently killing
    // one IVF cell and the recall it carried
    val finite = vectors
      .filter(col("vec").isNotNull &&
        forall(col("vec"), x => !isnan(x) && abs(x) < lit(Float.PositiveInfinity)))
    // DETERMINISTIC sample: a bare limit() takes whatever partitions
    // schedule first, so two runs train different centroids and every
    // recall measurement downstream drifts run-to-run (measured as a
    // 3-point self-match swing in the routed rehearsal). Hash-filtering
    // on the id is order-independent and scan-cheap; the stride comes
    // from one count. A trailing limit still caps the collect exactly.
    val total = finite.count()
    // CEILING division (round-11 advice): a floor stride collects up to
    // ~2x maxSample rows when total sits just under a stride boundary
    // (total = 2*maxSample - 1 gives stride 1 — every row); ceiling
    // keeps the expected survivor count <= maxSample
    val stride = math.max(1L,
      (total + math.max(1, maxSample) - 1) / math.max(1, maxSample))
    // no trailing limit (it would reintroduce scheduling order into
    // WHICH rows survive): the filter passes ~total/stride <= maxSample
    // rows in expectation, all collected, then the id sort + take pins
    // the selection
    val sample = finite
      .filter(pmod(xxhash64(col("id"), lit(seed)), lit(stride)) === 0L)
      .select(col("id"), col("vec")).as(rowEnc)
      .collect().sortBy(_._1).take(maxSample).map(_._2)
    require(sample.nonEmpty, "empty training set")
    val dim = sample.head.length

    // splitmix-seeded distinct starting points
    var centroids = Array.tabulate(math.min(nCells, sample.length)) { i =>
      val idx = (HnswParams.uniformFromHash(i.toLong, seed) * sample.length).toInt
        .min(sample.length - 1)
      sample(idx).clone()
    }

    var it = 0
    while (it < iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids, dist)
        var d = 0
        while (d < dim) { sums(c)(d) += v(d); d += 1 }
        counts(c) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(dim)(d => (sums(c)(d) / counts(c)).toFloat)
      }
      it += 1
    }
    IvfModel(centroids, metric)
  }

  private def nearestCentroid(v: Array[Float], cs: Array[Array[Float]],
                              dist: (Array[Float], Array[Float]) => Double): Int = {
    var best = 0; var bestD = Double.MaxValue
    var i = 0
    while (i < cs.length) {
      val d = dist(v, cs(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Cell-assignment column (one scan, no shuffle) — a codegen'd
    * Catalyst expression, not a UDF: the assignment stays inside
    * whole-stage codegen on the full-table scan. */
  def cellCol(model: IvfModel): Column => Column =
    c => graft.functions.IvfFunctions.ivfCell(c, model.centroids, model.metricName)

  /** k-NN through the inverted lists: probe each query's `nProbe`
    * nearest cells, exact-rerank candidates with the bounded-heap top-k.
    * Output (qid, id, score, rank) — same contract as ExactKnn.search.
    */
  def search(queries: DataFrame, vectors: DataFrame, model: IvfModel,
             k: Int, nProbe: Int, metric: String = "cosine"): DataFrame =
    searchWith(queries,
      vectors.withColumn("cell", cellCol(model)(col("vec"))), model,
      k, nProbe, ExactKnn.scoreCol(metric), ExactKnn.metricAscending(metric), "vec")

  /** The shared probe pipeline — probe-explode, inverted-list join on
    * `cell`, caller-supplied score over (qvec, payloadCol), bounded-heap
    * top-k. `assigned` must carry (id, cell, payloadCol); serves both
    * the raw-vector path ([[search]]) and the PQ-code path
    * (Pq.searchIvfPq). */
  def searchWith(queries: DataFrame, assigned: DataFrame, model: IvfModel,
                 k: Int, nProbe: Int, score: (Column, Column) => Column,
                 ascending: Boolean, payloadCol: String): DataFrame = {
    val probed = queries
      .withColumn("cell", explode(graft.functions.IvfFunctions.ivfProbes(
        col("qvec"), model.centroids, model.metricName, nProbe)))
    ExactKnn.rankPerQuery(probed.join(assigned, "cell")
      .select(col("qid"), col("id"),
        score(col("qvec"), col(payloadCol)).as("score")), k, ascending)
  }
}
