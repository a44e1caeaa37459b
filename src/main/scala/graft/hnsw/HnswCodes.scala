package graft.hnsw

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{GraphSnapshot, InMemoryGraph}

/** HNSW over u64 bit-codes compared by Hamming distance — the reference's
  * native vector representation (lazy_memory_store.rs:14-21, 49-54),
  * end-to-end distributed: driver-sequential index build (Hamming evals
  * are single XOR+popcounts; build cost is dwarfed by one Spark job until
  * ~10^6 codes — switch to the float path's micro-batching beyond), then
  * broadcast-model mapPartitions search. */
object HnswCodes {

  final case class CodeModel(
      params: HnswParams,
      snapshot: GraphSnapshot,
      codes: LongLongMap // primitive-keyed AND -valued: probed twice per Hamming eval
  ) extends Serializable

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
    val searcher = new HnswSearcher(params)
    val store = new CodeStoreWithIds
    val graph = new InMemoryGraph
    rows.foreach { case (id, code) =>
      store.stage(id, code)
      searcher.insert(store, graph, id, searcher.selectLayerByHash(id, seed))
    }
    CodeModel(params, graph.snapshot, LongLongMap.from(rows.iterator, rows.length))
  }

  /** Micro-batched build for code tables beyond comfortable sequential
    * range (the u64 twin of [[HnswDistributed.buildFromArray]]): seed
    * phase strictly sequential, then phase-1 search_to_insert distributed
    * against a broadcast snapshot of the current graph, phase-2 merges in
    * deterministic id order. The code table itself broadcasts at any
    * realistic scale (8 bytes per vector). */
  def buildBatched(codes: DataFrame, params: HnswParams, seed: Long = 42L,
                   seedBatch: Int = 128, maxBatch: Int = 4096,
                   growthDenom: Int = 4, batchCeiling: Int = 262144): CodeModel = {
    val spark = codes.sparkSession
    val rows = codes.select(col("id"), col("code")).as(pairEnc).collect()
      .sortBy(_._1).distinctBy(_._1)
    val searcher = new HnswSearcher(params)
    val codeMap = LongLongMap.from(rows.iterator, rows.length)
    val store = new CodeStoreWithIds(codeMap)
    val graph = new InMemoryGraph
    val ids = rows.map(_._1)
    val insLayers = ids.map(id => searcher.selectLayerByHash(id, seed))

    HnswDistributed.batchedBuildLoop(spark, ids, insLayers, params, seedBatch, maxBatch,
      growthDenom, batchCeiling)(codeMap,
      i => searcher.insert(store, graph, ids(i), insLayers(i)),
      () => graph.snapshot,
      (m: LongLongMap, snap: GraphSnapshot) => {
        val local = new CodeStoreWithIds(m)
        (id: Long, layer: Int) => searcher.searchToInsert(local, snap, id, layer)._1.map(_.toArray)
      },
      (id: Long, found: Vector[Array[Neighbor]]) => {
        val links = found.map(a => FurthestQueue.fromAscending(a.toSeq))
        searcher.insertFromSearchResults(store, graph, id, links, links.size > graph.numLayers)
      })

    CodeModel(params, graph.snapshot, codeMap)
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
        val m = modelB.value
        val searcher = new HnswSearcher(m.params)
        // read-through store over the broadcast map (no per-partition
        // copy); the query slot (-1) is re-staged per row
        val store = new CodeStoreWithIds(m.codes)
        it.flatMap { case (qid, qcode) =>
          store.stage(-1L, qcode)
          val w = searcher.search(store, m.snapshot, -1L, k)
          w.iterator.zipWithIndex.map { case (nb, i) =>
            (qid, nb.dst, nb.dist.toInt, i + 1)
          }
        }
      }(resEnc)
      .toDF("qid", "id", "hamming", "rank")
  }

  /** CodeVectorStore with caller-assigned ids (the dense auto-id variant
    * lives in graft.store; HNSW needs the table's own ids). `base` backs
    * ids not staged locally — executors wrap the broadcast code table
    * without copying it. */
  private final class CodeStoreWithIds(
      base: LongLongMap = new LongLongMap())
      extends graft.store.VectorStore {
    type Raw = Long
    private val staged = new LongLongMap()
    def stage(id: Long, code: Long): Unit = staged.put(id, code)
    // two primitive probes (staged miss -> base hit) — no Option, no boxing
    private def code(id: Long): Long =
      if (staged.contains(id)) staged(id) else base(id)
    override def prepareQuery(raw: Long): Long =
      throw new UnsupportedOperationException("use stage(id, code)")
    override def insert(q: Long): Long = q
    override def evalDistance(q: Long, v: Long): Double =
      java.lang.Long.bitCount(code(q) ^ code(v)).toDouble
    override def isMatch(d: Double): Boolean = d <= 0.0
  }
}
