package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{PqFunctions, PqKernels}
import graft.hnsw.HnswParams

/** Product quantization — the compression member of the ANN family
  * (alongside HNSW, IVF and SimHash-LSH): vectors are split into
  * [[PqKernels.NumSub]] subspaces, each quantized to one of
  * [[PqKernels.NumCentroids]] centroids; a 64-dim float vector becomes a
  * 16-nibble (64-bit) code in a single long column. At 100 TB that is the
  * difference between scanning the raw embedding column and scanning a
  * ~3% code column; search is asymmetric (ADC): the query stays
  * full-precision against the codebook.
  *
  * The standard serving shape is coarse ADC top-C followed by an exact
  * re-rank of the C survivors against the raw vectors — [[search]]
  * implements exactly that (candidate cost O(n) cheap scans + O(C) exact
  * kernels per query).
  *
  * Training is deterministic: per-subspace Lloyd iterations on a
  * driver-collected sample with splitmix-seeded starts (the same scheme
  * as [[Ivf.train]]).
  */
object Pq {

  final case class PqModel(codebook: Array[Array[Array[Float]]]) extends Serializable

  /** Per-subspace k-means over a sample of (id, vec) rows. */
  def train(vectors: DataFrame, seed: Long = 13L, iters: Int = 10,
            maxSample: Int = 100000): PqModel = {
    // training contract shared with KMeans/Ivf: null vecs NPE the
    // driver loop and a NaN component poisons its subspace's centroid 0
    // permanently (NaN running sums; NaN distances never selected)
    val sample = vectors
      .filter(col("vec").isNotNull &&
        forall(col("vec"), x => !isnan(x) && abs(x) < lit(Float.PositiveInfinity)))
      .select(col("vec"))
      .limit(maxSample).collect().map(_.getSeq[Float](0).toArray)
    PqModel(trainOnSample(sample, seed, iters))
  }

  /** The per-subspace Lloyd loop on an in-memory, already-filtered (no
    * null / non-finite vectors) sample — the ONE codebook trainer, shared
    * by [[train]] and the HnswPq serving-model encode so the seeding and
    * empty-cluster rules can never drift between them. */
  private[graft] def trainOnSample(sample: Array[Array[Float]], seed: Long,
                                   iters: Int): Array[Array[Array[Float]]] = {
    require(sample.nonEmpty, "empty training set")
    val dim = sample.head.length
    val sd = PqKernels.subDim(dim)
    Array.tabulate(PqKernels.NumSub) { s =>
      val off = s * sd
      val width = math.max(math.min(sd, dim - off), 0)
      val slices = sample.map { v =>
        Array.tabulate(width)(i => v(off + i))
      }
      var cents = Array.tabulate(math.min(PqKernels.NumCentroids, slices.length)) { c =>
        val idx = (HnswParams.uniformFromHash(c.toLong * 31 + s, seed) * slices.length).toInt
          .min(slices.length - 1)
        slices(idx).clone()
      }
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length)(new Array[Double](width))
        val counts = new Array[Int](cents.length)
        slices.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var acc = 0.0; var i = 0
            while (i < width) { val d = v(i) - cents(c)(i); acc += d.toDouble * d; i += 1 }
            if (acc < bestD) { bestD = acc; best = c }
            c += 1
          }
          var i = 0
          while (i < width) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old
          else Array.tabulate(width)(i => (sums(c)(i) / counts(c)).toFloat)
        }
        it += 1
      }
      cents
    }
  }

  /** Encoded table: (id, code) — the compressed scan column. */
  def encode(vectors: DataFrame, model: PqModel): DataFrame =
    vectors.select(col("id"),
      PqFunctions.pqEncode(col("vec"), model.codebook).as("code"))

  def adcCol(model: PqModel)(q: Column, code: Column): Column =
    PqFunctions.pqAdc(q, code, model.codebook)

  /** ADC top-`candidates` over the code column, then exact re-rank of the
    * survivors against the raw vectors. Output (qid, id, score, rank)
    * with score = exact squared L2, rank <= k.
    *
    * Serving workloads MUST pass `precomputedCodes` (persist the output
    * of [[encode]] once per corpus — at scale that is the ~3% compressed
    * column this operator exists to scan); without it every call pays a
    * full re-encode of the raw vectors. */
  def search(queries: DataFrame, vectors: DataFrame, model: PqModel,
             k: Int, candidates: Int,
             precomputedCodes: Option[DataFrame] = None): DataFrame = {
    val codes = precomputedCodes.getOrElse(encode(vectors, model))
    // coarse stage: scan codes (8 bytes/row), bounded-heap top-C per query
    val coarse = ExactKnn.searchWith(queries, codes, candidates,
      (q, c) => adcCol(model)(q, c), ascending = true, vecCol = "code")
      .select(col("qid"), col("id"))
    // exact re-rank of C survivors only
    rerank(coarse, vectors, queries, k)
  }

  /** IVF-PQ — the canonical beyond-memory ANN serving shape (coarse
    * quantizer + compressed residual scan): each query probes its
    * `nProbe` nearest IVF cells and runs ADC only over the codes in
    * those cells, then exact-reranks the C survivors. The scan cost per
    * query is (nProbe/nCells) of the code column — compressed AND
    * pruned; the raw vectors are touched only for C rows per query.
    *
    * Pass `precomputedCodes` (the persisted output of [[encodeWithCells]])
    * in serving; otherwise both quantizers run over the raw table. */
  def searchIvfPq(queries: DataFrame, vectors: DataFrame,
                  ivfModel: Ivf.IvfModel, pqModel: PqModel,
                  k: Int, nProbe: Int, candidates: Int,
                  precomputedCodes: Option[DataFrame] = None): DataFrame = {
    val codes = precomputedCodes.getOrElse(encodeWithCells(vectors, ivfModel, pqModel))
    val coarse = Ivf.searchWith(queries, codes, ivfModel,
        k = candidates, nProbe = nProbe,
        score = adcCol(pqModel), ascending = true, payloadCol = "code")
      .select(col("qid"), col("id"))
    rerank(coarse, vectors, queries, k)
  }

  /** Inverted-list + code table: (id, cell, code) — persist once per
    * corpus; both the cell filter and the ADC scan read only this. */
  def encodeWithCells(vectors: DataFrame, ivfModel: Ivf.IvfModel,
                      pqModel: PqModel): DataFrame =
    vectors.select(col("id"),
      graft.functions.IvfFunctions.ivfCell(
        col("vec"), ivfModel.centroids, ivfModel.metricName).as("cell"),
      graft.functions.PqFunctions.pqEncode(col("vec"), pqModel.codebook).as("code"))

  /** Candidate sets at or under this row count broadcast into the
    * re-rank join ((qid, id) pairs — ~100 MB of hash relation at the
    * cap), so the VECTORS side STREAMS instead of shuffling. In the
    * online serving regime candidates ≪ corpus always holds; without
    * the broadcast the join shuffles the entire vector table per query
    * batch — measured 26 GB per serve at the 1e8 rung, which is what
    * ran that host out of disk (and on a cluster is a full-corpus
    * network pass per batch). The auto-broadcast threshold cannot make
    * this call: candidate stats are unknown at plan time. */
  private[graft] val BroadcastCandidateMax = 4000000L

  /** Exact L2 re-rank of coarse candidates — shared by the PQ and SQ8
    * compressed-scan paths and the HNSW-over-PQ traversal
    * ([[graft.hnsw.HnswPq]]). The candidate union is materialized ONCE
    * (localCheckpoint — it feeds two jobs: the count that picks the
    * join shape and the join itself; uncheckpointed, the count would
    * re-run every per-cell probe kernel), then joins BROADCAST when
    * small (the serving regime — vectors stream, no shuffle) and
    * shuffled only when a genuinely batch-scale candidate set exceeds
    * [[BroadcastCandidateMax]].
    *
    * Fault-tolerance trade-off (deliberate): localCheckpoint blocks are
    * NOT recomputable — losing an executor that holds them mid-serve
    * fails that query batch, which the caller simply retries (the serve
    * is a pure read; the candidate set is tiny next to the corpus, so
    * re-running the coarse probes is the cheap path, and a reliable
    * `checkpoint()` would bill a distributed-FS write per batch).
    * Retention: the checkpointed blocks live until the returned
    * DataFrame's RDD is GC'd; the driver tracks them via weak refs and
    * `spark.cleaner` drops them at the next GC cycle. Serving loops
    * that hold many batch results should release references promptly
    * (the catalog/rehearsal paths collect and drop — measured steady
    * executor storage across the 1e8 rung's 2000-query serve). */
  private[graft] def rerank(coarse: DataFrame, vectors: DataFrame,
                            queries: DataFrame, k: Int): DataFrame = {
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.expressions.Window
    // LAZY checkpoint + count in ONE job (round-20, the frontier-loop
    // round-19 trick): the eager checkpoint ran a materialization job and
    // the shape-picking count ran a second job over the same blocks; the
    // count below is the materializing action, and every later read
    // (both join sides) still hits the checkpointed blocks.
    val mat = coarse.localCheckpoint(false)
    val side = if (mat.count() <= BroadcastCandidateMax) broadcast(mat) else mat
    side
      .join(vectors, "id")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("id"),
        VectorFunctions.l2Sq(col("qvec"), col("vec")).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score"), col("id"))))
      .filter(col("rank") <= k)
  }
}
