package graft.hnsw

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{CodeArena, CodeQuery, GraphSnapshot}

/** HNSW over u64 bit-codes compared by Hamming distance — the reference's
  * native vector representation (lazy_memory_store.rs:14-21, 49-54),
  * end-to-end distributed: driver-sequential index build (Hamming evals
  * are single XOR+popcounts; build cost is dwarfed by one Spark job until
  * ~10^6 codes — switch to the float path's micro-batching beyond), then
  * broadcast-model mapPartitions search, both on the ordinal engine
  * ([[OrdinalGraph]]) over a [[CodeArena]]. */
object HnswCodes {

  /** A built code index: its graph in the form it was built in (a
    * [[CodeArena]] and `Int` rows), served through [[OrdinalGraph]] views
    * that share it. */
  final case class CodeModel(params: HnswParams, form: OrdinalForm.Codes) {
    /** A fresh view, for one thread. */
    def view(): OrdinalGraph[CodeQuery] = form.view(params)
    def snapshot: GraphSnapshot = form.snapshot
    /** Id -> code, derived once. */
    @transient lazy val codes: LongLongMap = LongLongMap.from(form.store.rows, form.size)
  }
  private val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Process-wide model memo (the [[HnswDistributed.buildCached]]
    * pattern): catalog queries over the same static code table share one
    * build; the first consumer pays it and the bench attributes it as a
    * one-time cost via [[graft.BuildLedger]]. The model is pure data (no
    * session refs), so the memo survives across sessions in one JVM.
    * `key` must identify the code SOURCE (table dir + code kernel) —
    * params/seed/mode are folded in here. */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, CodeModel]()

  /** Release the model memo (see [[IndexCaches]]) — pure heap state. */
  private[hnsw] def releaseCaches(): Unit = modelCache.clear()

  def buildCached(codes: DataFrame, params: HnswParams, seed: Long,
                  key: String, batched: Boolean = false): CodeModel =
    modelCache.computeIfAbsent(
      Seq(key, seed, batched, params.m.toList, params.mMax.toList,
        params.efConstrSearch.toList, params.efConstrInsert.toList,
        params.efSearch.toList, params.layerProbability).mkString("|"),
      _ => graft.BuildLedger.timed("hamming_build")(
        if (batched) buildBatched(codes, params, seed)
        else build(codes, params, seed)))

  /** Build from (id: long, code: long) rows. Deterministic: id-sorted
    * inserts, hash-based layer assignment. */
  def build(codes: DataFrame, params: HnswParams, seed: Long = 42L): CodeModel = {
    // distinctBy: a duplicate id would insert twice (self-links, inflated
    // degree) while rows.toMap collapsed it silently
    val rows = codes.select(col("id"), col("code")).as(pairEnc).collect()
      .sortBy(_._1).distinctBy(_._1)
    CodeModel(params, OrdinalGraph.grow(params, seed, new CodeArena, None,
      rows.iterator.map { case (id, code) => (id, CodeQuery.hamming(code)) }))
  }

  /** Micro-batched build for code tables beyond comfortable sequential
    * range (the u64 twin of [[HnswDistributed.buildFromArray]]): seed
    * phase strictly sequential, then phase-1 search_to_insert distributed
    * against a broadcast copy of the current graph's `Int` rows, phase-2
    * merges in deterministic id order. The code table itself broadcasts
    * at any realistic scale (8 bytes per vector). */
  def buildBatched(codes: DataFrame, params: HnswParams, seed: Long = 42L,
                   seedBatch: Int = 128, maxBatch: Int = 4096,
                   growthDenom: Int = 4, batchCeiling: Int = 262144): CodeModel = {
    val spark = codes.sparkSession
    val rows = codes.select(col("id"), col("code")).as(pairEnc).collect()
      .sortBy(_._1).distinctBy(_._1)
    val ids = rows.map(_._1)
    val build = new BuildCodes(ids, rows.map(_._2))
    val graph = HnswDistributed.batchedBuildLoop(spark, ids,
      ids.map(params.selectLayerByHash(_, seed)), params, seedBatch, maxBatch,
      growthDenom, batchCeiling)(build)
    CodeModel(params, graph.form[CodeArena](build.store))
  }

  /** A batched code build's rows: `codes(i)` under `ids(i)`. */
  private[hnsw] final class BuildCodes(val ids: Array[Long], codes: Array[Long])
      extends BuildRows[CodeQuery] {
    @transient lazy val store: CodeArena = CodeArena.of(ids, codes)
    def query(i: Int): CodeQuery = CodeQuery.hamming(codes(i))
    def pointBytes: Long = codes.length * 8L
  }

  /** Distributed k-NN over codes: (qid, qcode) -> (qid, id, hamming, rank).
    * Serving workloads should broadcast once ([[broadcastModel]]) and call
    * [[searchBroadcast]] per batch. */
  def search(queries: DataFrame, model: CodeModel, k: Int): DataFrame =
    searchBroadcast(queries, broadcastModel(queries.sparkSession, model), k)

  def broadcastModel(spark: SparkSession,
                     model: CodeModel): org.apache.spark.broadcast.Broadcast[CodeModel] =
    spark.sparkContext.broadcast(model)

  def searchBroadcast(queries: DataFrame,
                      modelB: org.apache.spark.broadcast.Broadcast[CodeModel],
                      k: Int): DataFrame = {
    val resEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaInt, Encoders.scalaInt)
    queries.select(col("qid"), col("qcode")).as(pairEnc)
      .mapPartitions { it =>
        val view = modelB.value.view()
        it.flatMap { case (qid, qcode) =>
          view.search(CodeQuery.hamming(qcode), k, 0).iterator.zipWithIndex.map { case (nb, i) =>
            (qid, nb.dst, nb.dist.toInt, i + 1)
          }
        }
      }(resEnc)
      .toDF("qid", "id", "hamming", "rank")
  }
}
