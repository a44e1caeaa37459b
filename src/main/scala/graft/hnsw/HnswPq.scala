package graft.hnsw

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.functions.PqKernels
import graft.operators.Pq
import graft.store.{CodeArena, CodeQuery, GraphSnapshot}

/** HNSW graph traversal in PQ-compressed space — the memory-tier shape of
  * DiskANN-style serving: what every executor holds is the layered graph
  * plus 8-byte codes (not raw vectors); the full-precision embedding table
  * stays a distributed parquet column touched only by the final exact
  * re-rank join of ef candidates per query.
  *
  * Why this exists next to [[HnswDistributed]] (raw vectors broadcast) and
  * [[Pq.search]] (flat ADC scan): at 100 TB neither holds — raw vectors
  * don't fit executor memory, and a flat scan is O(n) per query. Graph +
  * codes is O(ef log n) probes per query over state 32x smaller than the
  * raw table (dim=64 floats -> 8 B codes), and the re-rank restores exact
  * ranking over the surviving candidates.
  *
  * Distance contract: ADC reconstructs squared L2, so the graph must be
  * BUILT with the l2 metric for traversal order to agree with serving
  * order (asserted). Search runs the ordinal engine ([[OrdinalGraph]])
  * over a [[CodeArena]], each query measured through its ADC table, bit
  * for bit the reference [[graft.store.AdcVectorStore]] — the store swap
  * the reference's trait split exists for (src/traits.rs:18-95).
  */
object HnswPq {

  /** Everything an executor needs to serve: graph + codes + codebook.
    * NO raw vectors — at dim=64 this broadcasts 32x smaller than the
    * equivalent [[HnswModel]]. Served like a [[HnswCodes.CodeModel]]. */
  final case class PqServingModel(params: HnswParams, form: OrdinalForm.Codes,
                                  codebook: Array[Array[Array[Float]]]) {
    def size: Int = form.size

    /** A fresh view, for one thread. */
    def view(): OrdinalGraph[CodeQuery] = form.view(params)
    def snapshot: GraphSnapshot = form.snapshot
    /** Id -> code, derived once. */
    @transient lazy val codes: Map[Long, Long] = form.store.rows.toMap
  }

  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, PqServingModel]()

  /** Release the model memo (see [[IndexCaches]]) — pure heap state. */
  private[hnsw] def releaseCaches(): Unit = modelCache.clear()

  /** Derive the serving model from a built l2 HNSW model: train the
    * codebook on the indexed vectors and encode them driver-side. Memoized
    * per source key (the [[HnswDistributed.buildCached]] pattern); the
    * key folds in the graph's BUILD PARAMS — two models over the same
    * corpus with different ef/M must not serve each other's graphs —
    * and the encode cost is attributed to the build ledger. */
  def fromModelCached(model: HnswModel, key: String, seed: Long = 13L): PqServingModel = {
    val p = model.params
    val paramKey = Seq(p.m.toList, p.mMax.toList, p.efConstrSearch.toList,
      p.efConstrInsert.toList, p.efSearch.toList, p.layerProbability).mkString("|")
    modelCache.computeIfAbsent(
      s"$key|$seed|${model.metricName}|${model.size}|$paramKey", _ =>
      graft.BuildLedger.timed("hnsw_pq_encode") {
        require(model.metricName == "l2",
          s"HnswPq serves squared-L2 (ADC); graph metric was ${model.metricName}" +
            " — traversal order would disagree with serving order")
        // in the id -> vector map's order, which fixes the trained codebook
        val sample = model.form.store.toLongVecMap.valuesIterator.take(100000).toArray
        val codebook = trainOnArrays(sample, seed)
        // the codes on the model's own ordinals, under its graph
        val arena = model.form.store
        PqServingModel(model.params, model.form.over(CodeArena.of(arena.ids,
          arena.rows.map(r => PqKernels.encodeArray(r._2, codebook)).toArray)), codebook)
      })
  }

  /** Driver-side codebook training on an in-memory sample: filter the
    * non-finite vectors (the DataFrame-side contract [[Pq.train]] applies
    * before its collect), then run THE shared Lloyd loop
    * ([[Pq.trainOnSample]]) — one trainer, no drift. */
  private[hnsw] def trainOnArrays(sample0: Array[Array[Float]], seed: Long): Array[Array[Array[Float]]] = {
    val sample = sample0.filter(v =>
      v != null && v.forall(x => !x.isNaN && !x.isInfinity))
    Pq.trainOnSample(sample, seed, iters = 10)
  }

  private val pairEnc = Encoders.tuple(Encoders.scalaLong, ExprEnc.floatArray)

  /** ADC-ranked candidates: (qid, id, adc, rank), rank <= beam where
    * beam = max(ef, k). Pure compressed-space traversal — no raw vectors
    * anywhere in the plan.
    *
    * Broadcasts the serving model per call; serving workloads should
    * broadcast once via [[broadcastModel]] and reuse the handle across
    * query batches ([[searchAdcBroadcast]]) so its lifecycle — including
    * `destroy()` — is theirs (the [[HnswDistributed.searchBroadcast]]
    * rule; a per-call broadcast can only be reclaimed by the
    * ContextCleaner after the plan is GC'd). */
  def searchAdc(queries: DataFrame, model: PqServingModel, k: Int, ef: Int): DataFrame =
    searchAdcBroadcast(queries,
      broadcastModel(queries.sparkSession, model), k, ef)

  def broadcastModel(spark: org.apache.spark.sql.SparkSession, model: PqServingModel)
      : org.apache.spark.broadcast.Broadcast[PqServingModel] =
    spark.sparkContext.broadcast(model)

  def searchAdcBroadcast(queries: DataFrame,
                         modelB: org.apache.spark.broadcast.Broadcast[PqServingModel],
                         k: Int, ef: Int): DataFrame = {
    val resEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaDouble, Encoders.scalaInt)
    queries.select(col("qid"), col("qvec")).as(pairEnc)
      .mapPartitions { it =>
        val m = modelB.value
        val view = m.view()
        val beam = math.max(ef, k)
        it.flatMap { case (qid, qvec) =>
          val w = view.search(CodeQuery.adc(qvec, m.codebook), beam, beam)
          w.iterator.zipWithIndex.map { case (nb, i) => (qid, nb.dst, nb.dist, i + 1) }
        }
      }(resEnc)
      .toDF("qid", "id", "adc", "rank")
  }

  /** Full serving path: compressed-space traversal for ef candidates per
    * query, then ONE join against the distributed raw-vector table for the
    * exact squared-L2 re-rank. Output (qid, id, score, rank), rank <= k. */
  def search(queries: DataFrame, model: PqServingModel, vectors: DataFrame,
             k: Int, ef: Int): DataFrame = {
    val coarse = searchAdc(queries, model, k, ef).select(col("qid"), col("id"))
    Pq.rerank(coarse, vectors, queries, k)
  }
}
