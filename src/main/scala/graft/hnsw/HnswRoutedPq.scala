package graft.hnsw

import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.PqKernels
import graft.operators.Pq
import graft.store.{ArenaVectorStore, CodeArena, CodeQuery, GraphSnapshot}

/** Routed + PQ compose — per-cell ADC codes on the routed serving tier:
  * the beyond-memory shape at the SCALE tier. [[HnswRouted]] holds full
  * float vectors per cell (dim=64 → 256 B/row); this tier derives from
  * a built routed index by PQ-encoding each cell's vectors (8 B/row,
  * 32x smaller) while REUSING the cell graphs as built — so what an
  * executor holds per cell is the layered graph plus codes, and the
  * full-precision table is touched only by the final exact re-rank join
  * ([[HnswPq]]'s DiskANN-style discipline, per cell). At 1e8 rows the
  * difference is ~25 GB of vectors vs ~0.8 GB of codes across the
  * fleet's cells — the margin between fitting executor memory and not.
  *
  * Serving: driver-routed like [[HnswRouted.search]] (query batch ≪
  * corpus), per probed cell an ADC-space candidate stage — the graph
  * beam in the nProbe regime, an exact ADC scan in the exhaustive
  * regime or when the cell is small/mostly-ineligible (the routed
  * tier's one-beam-then-exact discipline, in ADC space) — then ONE
  * exact squared-L2 re-rank join of the candidate union against the
  * distributed raw-vector table ([[Pq.rerank]]).
  *
  * Accuracy contract (the honest PQ note): ADC is lossy, so unlike the
  * float routed tier the exhaustive regime is NOT structurally exact —
  * a true neighbor can rank beyond the per-cell candidate budget no
  * matter how exact the in-cell scan. What the exhaustive regime DOES
  * guarantee is that every cell contributes its true ADC-top-C, so
  * candidate recall is limited only by quantization, not routing; with
  * a generous C the re-ranked top-k matches the exact oracle at
  * catalog scale (the `h_knn_cosine` empirical-exactness bar — verified
  * set-identical, held to the hash oracle), and `h_recall_routed_pq`
  * measures the honest nProbe regime. Distance contract: ADC
  * reconstructs squared L2, so the underlying routed graphs must be
  * BUILT with the l2 metric (asserted) for traversal order to agree
  * with candidate order.
  *
  * Tombstones carry over from the source index and are excluded from
  * the candidate stage (sorted-array membership, the routed tier's
  * predicate shape). Lifecycle: [[delete]] is O(set) metadata; with a
  * live float source, fold/grow THERE and [[rederive]] (touched cells
  * only); with no float source — the [[attach]]ed posture — the SOLO
  * lifecycle serves: [[ingest]] (ADC-space insert, quantize-on-
  * insert), [[compactSolo]] (touched-cell rebuild from the raw-vector
  * table), [[save]]/[[attach]] durability, and the filtered serving
  * surface ([[searchFiltered]]/[[searchFilteredDistributed]]).
  */
object HnswRoutedPq extends RoutedTier {
  type S = PqCellShard
  type I = RoutedPqIndex
  type Q = Array[Float]
  type P = HnswRouted.Router

  /** One cell's serving state: its graph in the form it was grown or
    * encoded in (the cell's [[CodeArena]] and `Int` rows with their
    * distances), NO raw vectors. A DISK_ONLY cell deserializes straight
    * into what it serves. `fingerprint` is an order-independent 64-bit
    * content digest of the (id, vec) pairs the codes were encoded from —
    * [[rederive]] compares it against the source cell's current content
    * to decide carry-over vs re-encode without ever holding the old
    * vectors. */
  final case class PqCellShard(cell: Int, form: OrdinalForm.Codes, fingerprint: Long)
      extends RoutedCell {
    def view(params: HnswParams): OrdinalGraph[CodeQuery] = form.view(params)
    /** Id -> code, derived once. */
    @transient lazy val codes: LongLongMap = LongLongMap.from(form.store.rows, form.size)
  }

  /** splitmix64 finalizer (the repo's standard mixer). */
  @inline private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Order-independent content digest of a cell's (id, vec) map: each
    * row hashes (id, raw float bits) through an xxhash-style fold +
    * splitmix finalizer; rows combine by ADDITION so iteration order
    * cannot matter. Cost ~len+5 integer ops per row — ~250x cheaper
    * than the encode it lets [[rederive]] skip. A colliding pair of
    * DIFFERENT cell contents would carry stale codes (coarse-stage
    * noise only — the exact re-rank still orders true candidates);
    * at 64 well-mixed bits per cell the chance is ~nCells/2^64 per
    * rederive, far below any operational concern. */
  private[hnsw] def contentFingerprint(vectors: ArenaVectorStore): Long =
    contentFingerprintRows(vectors.rows)

  /** Same fold over a row iterator (order-independent by the addition
    * combine) — the [[buildSolo]] path digests the build rows directly
    * without materializing a float map it would immediately drop. */
  private[hnsw] def contentFingerprintRows(
      rows: Iterator[(Long, Array[Float])]): Long = {
    var acc = 0L
    rows.foreach { case (id, v) =>
      var h = id * 0x9E3779B97F4A7C15L
      var i = 0
      while (i < v.length) {
        h = (h ^ java.lang.Float.floatToRawIntBits(v(i)).toLong) *
          0xC2B2AE3D27D4EB4FL
        i += 1
      }
      acc += mix64(h)
    }
    acc
  }

  /** `buildSeed` is the SOURCE index's build seed (cfg.seed),
    * persisted through save/attach: solo rebuilds ([[compactSolo]])
    * and solo ingest layer draws use it so a solo-compacted cell is
    * graph-identical to the float tier's rebuild of the same
    * survivors — not just content-identical (the pre-round-16 gap:
    * a hardcoded seed 13 made the equivalence content-level only).
    * `overlay`: patch RDDs still pinned under `shards` (the
    * [[compactSoloCellsPatched]] rebuilt-cells overlay). `storage`: the
    * residency it was built or attached with ([[RoutedHandle]]). */
  final case class RoutedPqIndex(
      params: HnswParams,
      router: HnswRouted.Router,
      codebook: Array[Array[Array[Float]]],
      shards: RDD[(Int, PqCellShard)],
      tombstones: Array[Long],
      buildSeed: Long = 13L,
      overlay: Seq[RDD[_]] = Nil,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      extends RoutedHandle[PqCellShard, RoutedPqIndex] {
    private[graft] def withState(shards: RDD[(Int, PqCellShard)], tombstones: Array[Long],
                                 overlay: Seq[RDD[_]]): RoutedPqIndex =
      copy(shards = shards, tombstones = tombstones, overlay = overlay)
  }

  // ---- the PQ representation's binding ([[RoutedTier]]): compactions
  // rebuild from survivor floats FETCHED from the raw-vector table
  // ([[soloRebuild]]), since codes cannot rebuild a servable graph ----
  implicit protected def cellTag: ClassTag[PqCellShard] = ClassTag(classOf[PqCellShard])
  implicit protected def routingTag: ClassTag[HnswRouted.Router] =
    ClassTag(classOf[HnswRouted.Router])
  private[graft] val tierName = "routed-pq"
  private[graft] val payloadCol = "vec"
  private[hnsw] val distCol = "adc"
  private[hnsw] def queryEnc: Encoder[(Long, Array[Float])] = pairEnc
  private[hnsw] def routing(i: RoutedPqIndex): HnswRouted.Router = i.router
  private[graft] def probeCells(r: HnswRouted.Router, q: Array[Float], nProbe: Int): Iterator[Int] =
    r.probeCells(q, nProbe)
  protected def partitioner(i: RoutedPqIndex): Partitioner = HnswRouted.partitionerFor(i.router)
  override protected def resurrectHint: String = "Run compactSolo() first (frees the ids), or " +
    "rederive from a compacted float source"
  private[graft] def streamIngest(i: RoutedPqIndex, rows: DataFrame): RoutedPqIndex =
    ingest(i, rows, unpersistPrior = true)

  /** Members as code RECONSTRUCTIONS ([[PqKernels.decodeArray]] — 16
    * centroid lookups each): what the merged-cell audit and the
    * covering-probe warm-up read, with no float source. */
  protected def memberRows(i: RoutedPqIndex): PqCellShard => Iterator[(Long, Array[Float])] = {
    val cbB = i.shards.sparkContext.broadcast(i.codebook)
    _.form.store.rows.map { case (id, c) => (id, PqKernels.decodeArray(c, cbB.value)) }
  }

  /** The float separability kernel ([[MergedCellAudit.auditCell]]) over
    * reconstructions: dead/live mode separation is orders of magnitude
    * above the codebook's quantization radius, and members of one mode
    * reconstruct into the same small centroid neighborhood. Remedy:
    * [[compactSoloCells]] / [[compactSoloCellsPatched]] on the flagged
    * ids. */
  protected def auditKernel(i: RoutedPqIndex, sampleMax: Int, iters: Int, kSplit: Int) =
    (rows: Array[(Long, Array[Float])], isDead: Long => Boolean, nDead: Int) =>
      MergedCellAudit.auditCell(rows, graft.store.Metrics.byName("l2"), isDead, nDead,
        sampleMax, iters, kSplit)

  /** The coarse ADC path at k = `ef` — no float table, usable in the
    * solo/attached posture; the exact re-rank join reads the external
    * raw-vector table, whose warmth is the table owner's concern. */
  protected def warmServe(i: RoutedPqIndex, ef: Int): DataFrame => DataFrame =
    searchCoarse(i, _, candidates = math.max(1, ef), nProbe = 1, ef0 = ef)

  /** Derive the PQ serving tier from a built routed index: train one
    * GLOBAL codebook on a per-cell-capped driver sample (≤ `sampleMax`
    * vectors — a global codebook keeps ADC comparable across cells so
    * the cross-cell merge orders correctly; per-cell codebooks would
    * need per-cell re-rank before any merge), then ONE narrow encode
    * pass over the shards (no shuffle — cell graphs and the pinned
    * partitioner are reused as-is). The float shards are NOT
    * unpersisted: the caller owns the source index (catalog rows keep
    * serving it). */
  def fromRouted(index: HnswRouted.RoutedIndex, seed: Long = 13L,
                 persist: Boolean = true,
                 sampleMax: Int = 100000): RoutedPqIndex = {
    requireL2(index)
    val nCells = math.max(1, index.router.allCells.size)
    val perCell = math.max(1, sampleMax / nCells)
    // per-cell-capped sample: every cell contributes, so the codebook
    // sees the full support even when k-means packed most rows into a
    // few cells (a head-only sample would quantize the tail badly)
    val sample = index.shards.flatMap { case (_, s) =>
      // in the id -> vector map's order, which fixes the trained codebook
      s.form.store.toLongVecMap.valuesIterator.take(perCell)
    }.collect()
    val codebook = HnswPq.trainOnArrays(sample, seed)
    fromRoutedWith(index, codebook, persist)
  }

  /** Derive the PQ tier with a PRE-TRAINED codebook: one narrow encode
    * pass, no sample, no training — the path [[rederive]] takes when the
    * source index was retrained/re-attached (the codebook survives the
    * router: it quantizes vector CONTENT, which retrain does not change;
    * [[HnswRouted.driftAudit]] is the signal for when content drift
    * warrants a fresh [[fromRouted]] training pass). */
  def fromRoutedWith(index: HnswRouted.RoutedIndex,
                     codebook: Array[Array[Array[Float]]],
                     persist: Boolean = true): RoutedPqIndex = {
    requireL2(index)
    derive(index, codebook, None, persist, forceCount = false, index.storage)._1
  }

  /** Build the PQ tier DIRECTLY from a vector table — no float index
    * is ever materialized, on this host or anywhere. The missing piece
    * of the 100 TB story until round 16: [[fromRouted]] derives from a
    * BUILT float tier, so creating the compressed tier transiently
    * required the uncompressed one resident (~25 GB of vectors per
    * 1e8 rows the serving fleet never wanted). Here the floats stream
    * through the build tasks and are dropped as each cell finishes:
    *
    *  1. codebook trained on a hash-decimated driver sample of the
    *     input (or supplied — the retrain/refresh path);
    *  2. router planned by the float tier's own machinery
    *     ([[HnswRouted.planRouter]]: k-means primary, skew-guard
    *     secondary splits) — same Router type, same pinned
    *     partitioner, so every downstream op (serve, ingest, delete,
    *     compactSolo, save/attach, rederive-by-fingerprint against a
    *     float source built later) composes unchanged;
    *  3. ONE shuffle of (id, vec) to cells, then per cell the SOLO
    *     ingest kernel builds the graph in ADC space (the new point's
    *     raw float serves its own insertion beam, then drops to code
    *     precision — [[CodeQuery.quantized]]'s quantize-on-insert), codes
    *     encode, and a TRUE content fingerprint digests the rows.
    *
    * What a task retains per cell is graph + 8 B/row codes; the cell's
    * float slice is transient build scratch. Accuracy follows the solo
    * ingest contract (graph edges chosen by reconstruction distances;
    * the exact re-rank join restores end-to-end exactness — the
    * `h_knn_routed_pq_solo` bar). `storage` defaults to the float
    * tier's MEMORY_AND_DISK; pass DISK_ONLY for the local disk
    * decades (the codes tier's discipline). */
  /** `dedupIds`/`pinInput` are 1e8-decade levers, measured on the rung:
    * the global id-dedup is a full-corpus `groupBy(id).agg(max(vec))`
    * whose PARTIAL aggregation holds one 264-byte array entry per
    * distinct key per task — on a table whose ids are already unique
    * (every group size 1: a primary-keyed pipeline, a generator) that
    * state is pure execution-memory burn and blew the 1e8 build's hash
    * aggregate before a single cell was touched. `dedupIds = false`
    * skips the shuffle when the CALLER guarantees id uniqueness (the
    * per-cell build still fail-fasts on an in-cell duplicate).
    * `pinInput = false` skips caching the projection for inputs that
    * are cheap to recompute (a generator, an already-checkpointed
    * table) — the router-planning passes re-read the input ~3 times,
    * which beats pinning another full-corpus copy onto the disk budget
    * the index itself needs. Defaults keep the safe behavior. */
  def buildSolo(vectors: DataFrame,
                cfg: HnswDistributed.BuildConfig,
                nCells: Int = 16,
                codebook: Array[Array[Array[Float]]] = null,
                codebookSeed: Long = 13L,
                sampleMax: Int = 100000,
                persist: Boolean = true,
                maxCellRows: Long = HnswRouted.DefaultMaxCellRows,
                storage: StorageLevel =
                  StorageLevel.MEMORY_AND_DISK,
                modalitySplit: Boolean = false,
                dedupIds: Boolean = true,
                pinInput: Boolean = true): RoutedPqIndex = {
    require(cfg.metric == "l2",
      "HnswRoutedPq serves squared-L2 (ADC); build with the l2 metric")
    val spark = vectors.sparkSession
    val projected = vectors.select(col("id"), col("vec"))
    val deduped0 =
      if (dedupIds) projected.groupBy(col("id")).agg(max(col("vec")).as("vec"))
      else projected
    val deduped =
      if (pinInput)
        deduped0.persist(StorageLevel.MEMORY_AND_DISK)
      else deduped0
    try {
      val cb =
        if (codebook != null) codebook
        else {
          // hash-decimated, id-sorted driver sample (the trainAnchors
          // discipline: order-independent selection, bounded collect)
          val total = deduped.count()
          val stride = math.max(1L,
            (total + math.max(1, sampleMax) - 1) / math.max(1, sampleMax))
          val sample = deduped
            .filter(pmod(xxhash64(col("id"), lit(codebookSeed)),
              lit(stride)) === 0L)
            .select(col("id"), col("vec")).as(pairEnc)
            .collect().sortBy(_._1).take(sampleMax).map(_._2)
          require(sample.nonEmpty, "empty codebook training set")
          HnswPq.trainOnArrays(sample, codebookSeed)
        }
      val (router, cells) = HnswRouted.planRouter(deduped, cfg, nCells,
        maxCellRows, modalitySplit)
      // the per-cell build fail-fasts on an in-cell duplicate id (the
      // documented dedupIds = false contract)
      val shards = buildShards(HnswRouted.keyedByCell(cells),
        HnswRouted.partitionerFor(router), persist, storage)(growSolo(
        spark.sparkContext.broadcast(cb), cfg.params, cfg.seed, ingested = false))
      RoutedPqIndex(cfg.params, router, cb, shards, Array.empty,
        buildSeed = cfg.seed, storage = storage)
    } finally if (pinInput) { deduped.unpersist(blocking = false); () }
  }

  private def requireL2(source: HnswRouted.RoutedIndex): Unit =
    require(source.cfg.metric == "l2",
      s"HnswRoutedPq serves squared-L2 (ADC); routed graphs were built " +
        s"with ${source.cfg.metric} — traversal order would disagree " +
        "with candidate order")

  /** Encode one float cell shard: codes on the cell's own ordinals (its
    * graph, float distances included, carried as is) + content
    * fingerprint. */
  private[hnsw] def encodeShard(s: HnswRouted.CellShard,
                                cb: Array[Array[Array[Float]]]): PqCellShard = {
    val arena = s.form.store
    PqCellShard(s.cell, s.form.over(CodeArena.of(arena.ids,
      arena.rows.map(r => PqKernels.encodeArray(r._2, cb)).toArray)), contentFingerprint(arena))
  }

  private val pairEnc = Encoders.tuple(Encoders.scalaLong, ExprEnc.floatArray)

  /** ADC-space candidates: (qid, id, adc), up to `candidates` rows per
    * (query, probed cell). The per-cell stage is the routed tier's
    * one-beam-then-exact discipline transplanted to ADC space:
    * exhaustive regime / small / mostly-dead cells take the exact ADC
    * scan (O(eligible) LUT lookups per query — 16 adds per row), the
    * nProbe regime takes one graph beam and falls back to the scan if
    * the eligible prefix comes up short. Routing is the shared
    * transport ([[RoutedServe]]): driver collect below
    * [[HnswRouted.DriverRouteMax]], distributed (query-side-only
    * shuffle keyed by the pinned partitioner, narrow zipPartitions on
    * the shard side) — same kernel, spec-pinned identical. */
  def searchCoarse(index: RoutedPqIndex, queries: DataFrame,
                   candidates: Int, nProbe: Int, ef0: Int = 0): DataFrame =
    request(index, candidates, nProbe, ef0).routed(queries, None)

  /** Distributed-routing twin of [[searchCoarse]] (the batch-side
    * shape; see [[HnswRouted.searchDistributed]]). */
  def searchCoarseDistributed(index: RoutedPqIndex, queries: DataFrame,
                              candidates: Int, nProbe: Int,
                              ef0: Int = 0): DataFrame =
    request(index, candidates, nProbe, ef0).distributed(queries, None)

  /** Attribute-filtered routed+PQ k-NN — the float tier's
    * [[HnswRouted.searchFiltered]] contract on the compressed tier:
    * top-k among only the ids in `allowed` (one id column), tombstones
    * composing (allowed AND not deleted), ADC candidates per probed
    * cell, ONE exact re-rank join against the raw-vector table. The
    * allow-set broadcasts as a sorted primitive array while it fits
    * [[HnswRouted.AllowCollectMax]]; above the cutover the call
    * reroutes through [[searchFilteredDistributed]] — no driver-side
    * copy of either large input at any size. */
  def searchFiltered(index: RoutedPqIndex, queries: DataFrame,
                     vectors: DataFrame, allowed: DataFrame,
                     k: Int, nProbe: Int, candidates: Int,
                     ef0: Int = 0): DataFrame =
    reranked(request(index, math.max(candidates, k), nProbe, ef0)
      .filtered(queries, allowed), vectors, queries, k)

  /** [[searchFiltered]] with a pre-collected allow-set (sorted
    * ascending, duplicate-free) — the repeat-caller path. */
  def searchFilteredIds(index: RoutedPqIndex, queries: DataFrame,
                        vectors: DataFrame, allowedIds: Array[Long],
                        k: Int, nProbe: Int, candidates: Int,
                        ef0: Int = 0): DataFrame =
    reranked(request(index, math.max(candidates, k), nProbe, ef0)
      .routed(queries, Some(allowedIds)), vectors, queries, k)

  /** Fully distributed attribute-filtered serving on the PQ tier — the
    * float tier's [[HnswRouted.searchFilteredDistributed]] transport
    * with the ADC kernel: no driver-side materialization of the query
    * batch OR the allow-set (the allow-set joins the index's own
    * (id → cell) pairs and rides a 3-way zipPartitions with the shards
    * and the routed queries). */
  def searchFilteredDistributed(index: RoutedPqIndex, queries: DataFrame,
                                vectors: DataFrame, allowed: DataFrame,
                                k: Int, nProbe: Int, candidates: Int,
                                ef0: Int = 0): DataFrame =
    reranked(request(index, math.max(candidates, k), nProbe, ef0)
      .filteredDistributed(queries, allowed), vectors, queries, k)

  /** ONE exact squared-L2 re-rank join of the candidate union against
    * the distributed raw-vector table. */
  private def reranked(coarse: DataFrame, vectors: DataFrame,
                       queries: DataFrame, k: Int): DataFrame =
    Pq.rerank(coarse.select(col("qid"), col("id")), vectors, queries, k)

  /** The ADC candidate kernel ([[serveAdcShard]]) at `candidates` rows
    * per (query, probed cell). */
  private[hnsw] def kernel(index: RoutedPqIndex, candidates: Int, nProbe: Int,
                           ef0: Int): RoutedServe.Kernel[PqCellShard, Array[Float]] = {
    val params = index.params
    val exhaustive = nProbe >= index.router.nPrimary
    val cbB = index.shards.sparkContext.broadcast(index.codebook)
    (m, probes, hasAllow, allow, dead) =>
      serveAdcShard(params, m, cbB.value, dead, probes, candidates,
        exhaustive, ef0, hasAllow, allow)
  }

  /** Per-shard ADC candidate kernel of every serving path. `allow` is a
    * sorted allow-set (the attribute predicate's id list): an id serves
    * only if allowed AND not tombstoned. Unlike the float/codes kernel
    * ([[PredicatedCensus.serve]]) it always runs the census and has no
    * identity-filter branch — its candidate contract differs. */
  private[hnsw] def serveAdcShard(
      params: HnswParams, m: PqCellShard,
      cb: Array[Array[Array[Float]]], dead: Array[Long],
      probes: Iterator[(Long, Array[Float])],
      candidates: Int, exhaustive: Boolean,
      ef0: Int, hasAllow: Boolean,
      allow: Array[Long]): Iterator[(Long, Long, Double)] = {
    // census/eligibleOrdinals/exact-scan machinery is the shared
    // [[PredicatedCensus]] kernel (one copy across the three routed
    // tiers)
    val cen = new PredicatedCensus.Census(m.form.store, hasAllow, allow, dead)
    @inline def eligible(id: Long): Boolean = cen.eligible(id)
    val view = m.view(params)
    val ef = HnswRouted.cellEf(params, ef0, cen.cellN)
    val c = math.max(1, candidates)
    // exact ADC scan: k-bounded queue selection over the eligible
    // ordinals (the routed exactScan, with the LUT kernel per query)
    def adcScan(qid: Long, q: CodeQuery): Iterator[(Long, Long, Double)] =
      PredicatedCensus.exactScanTopK(cen.eligibleOrdinals, m.form.store.ids, c, view.distances(q))
        .iterator.map(nb => (qid, nb.dst, nb.dist))
    if (cen.eligibleCount == 0) Iterator.empty
    else probes.flatMap { case (qid, qvec) =>
      val q = CodeQuery.adc(qvec, cb)
      if (exhaustive || cen.cutoverToExact(c))
        adcScan(qid, q)
      else {
        val beam = math.max(c, ef)
        val w = view.search(q, beam, beam)
        val hits = w.iterator.filter(nb => eligible(nb.dst)).take(c).toList
        if (hits.length >= math.min(c, cen.eligibleCount))
          hits.iterator.map(nb => (qid, nb.dst, nb.dist))
        else adcScan(qid, q)
      }
    }
  }

  /** Full serving path: ADC candidates per probed cell, then ONE exact
    * squared-L2 re-rank join against the distributed raw-vector table.
    * Output (qid, id, score, rank), rank <= k. */
  def search(index: RoutedPqIndex, queries: DataFrame, vectors: DataFrame,
             k: Int, nProbe: Int, candidates: Int, ef0: Int = 0): DataFrame =
    reranked(searchCoarse(index, queries, math.max(candidates, k), nProbe,
      ef0), vectors, queries, k)


  // --------------------------------------------------------------------
  // SOLO lifecycle — the attached tier without its float source.
  // [[attach]] restores graph + codes with no float index anywhere; the
  // lifecycle must not then require one. ingest quantizes-on-insert in
  // ADC space ([[CodeQuery.quantized]]: the new point's raw
  // float serves its own insertion beam, then drops to code precision
  // like every other member); compactSolo folds tombstones by
  // rebuilding ONLY touched cells from the raw-vector table (the
  // re-rank table — the one full-precision copy the design keeps).
  // --------------------------------------------------------------------

  /** Fingerprint of a solo-ingested cell: the true content fingerprint
    * needs the old members' floats, which the solo tier does not hold —
    * fold the new ids into the prior digest so the value can never
    * equal any float-source content fingerprint (same 2^-64 collision
    * class as the fingerprint itself). A later [[rederive]] against a
    * float source then re-encodes exactly the solo-touched cells. */
  private def ingestedFp(prior: Long, ids: Iterator[Long]): Long =
    ids.foldLeft(mix64(prior ^ 0x5851F42D4C957F2DL))((acc, id) =>
      acc + mix64(id * 0x9E3779B97F4A7C15L))

  /** Ingest a float batch into the PQ tier WITHOUT a float source — the
    * attached tier's grow path. Routing, guards and the cogroup merge
    * mirror [[HnswRouted.ingest]] verbatim (global duplicate-id guard,
    * tombstone fail-fast, untouched cells pass by reference); the
    * per-cell insert runs the ordinal engine over the cell's
    * [[CodeArena]] — the new point's raw float serves its own
    * insertion beam (asymmetric ADC against member codes), then the
    * insert stores its code ([[CodeQuery.quantized]]): from that moment the point
    * is searchable at code precision exactly like every restored
    * member, in-session or after the next save/attach. The exact
    * re-rank join keeps end-to-end exactness wherever the raw-vector
    * table holds the batch (the caller appends it there).
    *
    * `seed` drives layer selection for the new nodes (hash(id, seed));
    * the default (Long.MinValue sentinel) is the index's persisted
    * [[RoutedPqIndex.buildSeed]] so solo-grown cells draw layers
    * exactly like a float-source build of the same rows would — an
    * explicit seed stays structurally valid (layer draws are
    * independent per node) but breaks graph-identity with the float
    * twin. Touched cells' fingerprints are INVALIDATED (see
    * [[ingestedFp]]): a later [[rederive]] against a float source
    * re-encodes them and restores true-content digests. */
  def ingest(index: RoutedPqIndex, newRows: DataFrame,
             persist: Boolean = true, unpersistPrior: Boolean = false,
             seed: Long = Long.MinValue): RoutedPqIndex =
    ingestWith(index, newRows, persist, unpersistPrior)(HnswRouted.routeBy(index.router))(
      growSolo(newRows.sparkSession.sparkContext.broadcast(index.codebook), index.params,
        if (seed == Long.MinValue) index.buildSeed else seed, ingested = true))

  /** The solo cell kernel — [[buildSolo]], [[ingest]] and the
    * `floatExact = false` compaction rebuild all grow a cell here
    * ([[OrdinalGraph.grow]]): each id-sorted row's RAW float serves its
    * own insertion beam against member codes (asymmetric ADC), then the
    * insert QUANTIZES it ([[CodeQuery.quantized]]) — from that moment the
    * point serves at code precision exactly like every restored member;
    * `prior`'s graph and codes absorb the rows copy-on-merge (a cached
    * shard is never mutated).
    * The fingerprint is the TRUE content digest of a fresh cell's rows;
    * `ingested` folds the new ids into the prior digest instead
    * ([[ingestedFp]]; 0 for a cell that had no shard). */
  private[hnsw] def growSolo(cbB: Broadcast[Array[Array[Array[Float]]]], params: HnswParams,
                       seed: Long, ingested: Boolean)(cell: Int, prior: Option[PqCellShard],
                       rows: Array[(Long, Array[Float])]): PqCellShard = {
    val cb = cbB.value
    val arena = prior.fold(new CodeArena)(_.form.store.copy())
    // one query (and its lookup table) alive at a time: each row is
    // checked, stored and quantized as the grow reaches it
    PqCellShard(cell, OrdinalGraph.grow(params, seed, arena, prior.map(_.form),
      rows.iterator.map { case (id, v) =>
        require(arena.ordinalOf(id) < 0, s"routed-pq ingest: id $id already present in cell $cell")
        (id, CodeQuery.quantized(v, cb))
      }),
      if (ingested) ingestedFp(prior.fold(0L)(_.fingerprint), rows.iterator.map(_._1))
      else contentFingerprintRows(rows.iterator))
  }

  /** Fold the deletion set out of the PQ tier WITHOUT a float source:
    * cells holding a tombstoned id rebuild from the raw-vector table
    * (survivor floats fetched for ONLY the touched cells — one join
    * against the table the exact re-rank already reads), getting a
    * float-exact fresh graph, re-encoded codes and a TRUE content
    * fingerprint back; untouched cells pass through by reference.
    * Tombstones empty (every present dead id was folded; absent ids
    * were no-ops), freeing the ids for re-ingest. Cost: O(touched
    * cells) graph build + one scan/shuffle of the raw-vector table
    * restricted to touched-cell survivors — the solo twin of the
    * float tier's compact, with the vector fetch made explicit. */
  def compactSolo(index: RoutedPqIndex, vectors: DataFrame,
                  persist: Boolean = true,
                  unpersistPrior: Boolean = false,
                  floatExact: Boolean = true): RoutedPqIndex =
    compactSoloCounted(index, vectors, persist, unpersistPrior,
      forceCount = false, floatExact = floatExact)._1

  /** [[compactSolo]] exposing (index, rebuiltCells, carriedCells).
    * `floatExact` follows [[compactSoloCells]]: false rebuilds touched
    * cells with the [[buildSolo]] kernel over the same fetched floats
    * (the serving-cadence choice — solo build-serve geometry, 7x
    * cheaper rebuild; BASELINE round-18). */
  private[graft] def compactSoloCounted(
      index: RoutedPqIndex, vectors: DataFrame,
      persist: Boolean = true, unpersistPrior: Boolean = false,
      forceCount: Boolean = true,
      floatExact: Boolean = true): (RoutedPqIndex, Long, Long) =
    if (index.tombstones.isEmpty) (index, 0L, index.router.allCells.size.toLong)
    else compactBy(index, soloRebuild(index, vectors, floatExact), persist,
      unpersistPrior, forceCount)

  /** The solo compactions' cell rebuild: survivor floats FETCHED from
    * the raw-vector table (the re-rank table — the one full-precision
    * copy the design keeps; only the picked cells' survivors are
    * joined, and their count is checked against the shard), then either
    * the float tier's kernel (`floatExact`: an exact-distance graph,
    * re-encoded) or the solo kernel ([[growSolo]]: graph-identical to a
    * fresh solo build of the survivors). Codes and a TRUE content
    * fingerprint come back either way; layers draw from the build seed,
    * so a float-exact rebuild is graph-identical to the float tier's
    * compaction of the same survivors. */
  private def soloRebuild(index: RoutedPqIndex, vectors: DataFrame,
                          floatExact: Boolean): RoutedTier.Rebuild[PqCellShard] = {
    val cbB = vectors.sparkSession.sparkContext.broadcast(index.codebook)
    val float = HnswRouted.growCell(
      HnswDistributed.BuildConfig(index.params, "l2", seed = index.buildSeed)) _
    val solo = growSolo(cbB, index.params, index.buildSeed, ingested = false) _
    RoutedTier.Rebuild((cell, _, _, rows) =>
      if (floatExact) encodeShard(float(cell, None, rows), cbB.value)
      else solo(cell, None, rows), Some(vectors))
  }

  /** Targeted solo compaction: [[compactSolo]] restricted to the listed
    * cells — fold the deletion set out of ONLY those cells (survivor
    * floats fetched for only them), SHRINK the tombstone set by exactly
    * the ids that lived there, pass every other cell by reference.
    *
    * `floatExact = false` rebuilds the listed cells with the
    * [[buildSolo]] kernel instead: the SAME survivor-float fetch join,
    * but each survivor's RAW float drives its own insertion beam in
    * ADC space (asymmetric — raw query against member codes), so the
    * rebuilt cell is graph-identical to a fresh solo build of the same
    * survivors. Why offer it: the float-exact rebuild's graph is built
    * on exact distances, which yields a DENSER effective adjacency
    * than the ADC-built neighbors around it, and the ADC beam pays for
    * that density on every post-remedy serve (~0.25 ms/query at 1e7 —
    * BASELINE round-17's four-run attribution); this variant restores
    * the exact build-serve geometry the rest of the solo index has.
    * Served EXACTNESS is unchanged either way (the exact re-rank
    * orders true candidates). NOTE a float-FREE variant (staging code
    * RECONSTRUCTIONS instead of fetched floats) was built and measured
    * in round 18 and REJECTED: all members of one PQ Voronoi region
    * decode to the same point, so the rebuilt graph degenerates into
    * zero-distance cliques and every query escalates to the exact
    * scan — post-remedy serving read 7.6x plain at 1e6, WORSE than the
    * unremediated tax (BASELINE round-18). The fetch join is the price
    * of a servable graph. */
  def compactSoloCells(index: RoutedPqIndex, vectors: DataFrame,
                       cells: Array[Int], persist: Boolean = true,
                       unpersistPrior: Boolean = false,
                       floatExact: Boolean = true): RoutedPqIndex =
    compactCellsBy(index, cells, soloRebuild(index, vectors, floatExact), persist,
      unpersistPrior)

  /** [[compactSoloCells]] with O(touched) PERSISTED BYTES — the
    * float/codes tiers' patch-overlay discipline on the compressed
    * tier: only the touched partitions' cells persist in the overlay;
    * the served composite reads the base's cached blocks everywhere
    * else; the base handle keeps serving its own answer; patches
    * stack, [[foldOverlay]] bounds the stack. With persist = false
    * every action on the composite re-runs the survivor-float fetch
    * join and the listed cells' rebuild — one-shot callers only. */
  def compactSoloCellsPatched(index: RoutedPqIndex, vectors: DataFrame,
                              cells: Array[Int],
                              persist: Boolean = true,
                              floatExact: Boolean = true): RoutedPqIndex =
    compactCellsBy(index, cells, soloRebuild(index, vectors, floatExact), persist,
      unpersistPrior = false, patched = true)

  /** Detect-and-remediate — [[HnswRouted.remediateMergedCells]] on the
    * compressed tier: [[mergedCellAudit]] (over reconstructions — no
    * float access) → targeted solo compaction of the flagged cells
    * (survivor floats fetched for only them), PATCHED by default.
    * Returns the remediated index (the input handle when nothing is
    * flagged) and the flagged cell ids. */
  def remediateMergedCellsSolo(index: RoutedPqIndex, vectors: DataFrame,
                               minCellRows: Int = 1024,
                               persist: Boolean = true,
                               unpersistPrior: Boolean = false,
                               patched: Boolean = true,
                               floatExact: Boolean = true): (RoutedPqIndex, Array[Int]) =
    remediateBy(index, minCellRows, persist, unpersistPrior, patched)(
      soloRebuild(index, vectors, floatExact))

  /** Follow the float source tier through its lifecycle: after
    * [[HnswRouted.ingest]]/[[HnswRouted.compact]]/compactCells[Patched]/
    * foldOverlay/[[HnswRouted.retrain]] on the source, re-derive the PQ
    * serving tier INCREMENTALLY — cells whose content fingerprint is
    * unchanged carry their codes over by reference (zero encode work;
    * they do adopt the source's current graph snapshot, so a
    * graph-identical rebuild is also free), and only content-changed
    * cells re-encode. The codebook is NEVER retrained here (it
    * quantizes content, and lifecycle ops move rows between graphs —
    * [[HnswRouted.driftAudit]] + a fresh [[fromRouted]] is the refresh
    * path when ingest drift degrades it). Tombstones adopt the
    * source's set — after a source compact they shrink to exactly what
    * the fold left.
    *
    * When the source's cell layout changed (retrain → new router, or a
    * re-attach with a different partitioner), CELL-keyed carry is
    * impossible — but CONTENT-keyed carry is not: a retrain that moved
    * few members re-converges most cells onto identical member sets
    * under new cell ids. The cross-layout path matches old cells to
    * new cells BY content fingerprint (one cheap digest pass over the
    * source — no encode), ships only the matched cells' code stores
    * through the new partitioner (a shuffle bounded by the carried
    * id and code bytes, 16 B/row), and re-encodes just the unmatched
    * cells.
    * Solo-ingested cells can never false-match ([[ingestedFp]] keeps
    * their digests outside the content-digest family).
    *
    * `unpersistPrior` releases the old PQ handle's shards once the new
    * image is materialized (set it in streaming loops that own their
    * handles; leave it off when `old` is a shared memo). */
  def rederive(old: RoutedPqIndex, source: HnswRouted.RoutedIndex,
               persist: Boolean = true,
               unpersistPrior: Boolean = false): RoutedPqIndex =
    rederiveCounted(old, source, persist, unpersistPrior,
      forceCount = false)._1

  /** [[rederive]] exposing (index, reencodedCells, carriedCells) — the
    * counters ride accumulators, so with `persist = false` this forces
    * one count() job to populate them (spec/instrumentation path). */
  private[graft] def rederiveCounted(
      old: RoutedPqIndex, source: HnswRouted.RoutedIndex,
      persist: Boolean = true,
      unpersistPrior: Boolean = false,
      forceCount: Boolean = true): (RoutedPqIndex, Long, Long) = {
    requireL2(source)
    val samePartitioning = (source.shards.partitioner, old.shards.partitioner) match {
      case (Some(a), Some(b)) => a == b // CellPartitioner: value equality
      case _                  => false
    }
    val prior =
      if (samePartitioning) Some(old.shards.mapValues(s => (s.form.store, s.fingerprint)))
      else {
        // layout changed (retrain / foreign attach): carry BY CONTENT
        // FINGERPRINT across the layouts (see the Scaladoc). Driver
        // state is one (fingerprint, cell) pair per cell on each side —
        // nCells-sized, never corpus-sized.
        val oldFps = old.shards.map { case (c, s) => (s.fingerprint, c) }
          .collect().toMap // fp collision across cells: content-distinct
                           // cells (ids partition) — 2^-64 class
        val carryByNewCell = source.shards.map { case (c, s) =>
          (c, contentFingerprint(s.form.store))
        }.collect().flatMap { case (nc, fp) => oldFps.get(fp).map(oc => (oc, nc)) }
        // no carry: one narrow encode pass, no shuffle
        if (carryByNewCell.isEmpty) None
        else {
          val carryMapB = source.shards.sparkContext.broadcast(carryByNewCell.toMap)
          // ship matched cells' code stores keyed by the NEW cell id (the
          // only shuffle; 16 B/row id and code bytes of carried cells)
          Some(old.shards.flatMap { case (oc, s) =>
            carryMapB.value.get(oc).map(nc => (nc, (s.form.store, s.fingerprint)))
          }.partitionBy(source.shards.partitioner.getOrElse(
            HnswRouted.partitionerFor(source.router))))
        }
      }
    val out = derive(source, old.codebook, prior, persist, forceCount, old.storage)
    if (unpersistPrior) old.unpersist()
    out
  }

  /** The one encode pass of [[fromRoutedWith]] and [[rederive]]: each
    * source cell carries the prior (codes, fingerprint) delivered for
    * it (`prior`, co-partitioned with the source) when the sizes agree
    * and the fingerprint matches its current content — its codes put on
    * the source cell's ordinals, the source's graph (free: content-identical
    * cells rebuild graph-identically), a TRUE content digest — and
    * re-encodes otherwise. Returns (index, reencodedCells,
    * carriedCells); the counters ride accumulators, so with `persist =
    * false` only `forceCount` populates them. */
  private def derive(source: HnswRouted.RoutedIndex,
                     codebook: Array[Array[Array[Float]]],
                     prior: Option[RDD[(Int, (CodeArena, Long))]],
                     persist: Boolean, forceCount: Boolean,
                     storage: StorageLevel): (RoutedPqIndex, Long, Long) = {
    val sc = source.shards.sparkContext
    val cbB = sc.broadcast(codebook)
    val reenc = sc.longAccumulator("pq-rederive-reencoded")
    val carry = sc.longAccumulator("pq-rederive-carried")
    def pass(it: Iterator[(Int, HnswRouted.CellShard)],
             carried: Map[Int, (CodeArena, Long)]) = it.map { case (cell, s) =>
      val ids = s.form.store.ids
      carried.get(cell).filter { case (codes, fp) =>
        codes.size == s.form.size && fp == contentFingerprint(s.form.store)
      } match {
        case Some((codes, fp)) =>
          // the same content, its codes put on the source cell's ordinals
          carry.add(1)
          cell -> PqCellShard(cell,
            s.form.over(CodeArena.of(ids, ids.map(id => codes.codes(codes.ordinalOf(id))))), fp)
        case None =>
          reenc.add(1)
          cell -> encodeShard(s, cbB.value)
      }
    }
    val shards = prior.fold(source.shards.mapPartitions(pass(_, Map.empty),
      preservesPartitioning = true))(p => source.shards.zipPartitions(p,
      preservesPartitioning = true)((f, c) => pass(f, c.toMap)))
    if (persist) RoutedTier.materialize(shards, cacheName, storage)
    else if (forceCount) shards.count()
    (RoutedPqIndex(source.cfg.params, source.router, codebook, shards,
      source.tombstones, buildSeed = source.cfg.seed, storage = storage),
      reenc.value, carry.value)
  }

  // --------------------------------------------------------------------
  // Durability: attach-without-rederive. The 1e8 serving posture NEEDS
  // it: deriving the PQ tier requires the float source resident, so a
  // restart that re-derives would pay the full float build + encode —
  // attach pays a parquet scan + CSR assembly instead, and the float
  // source never has to exist on the serving cluster at all. Eight
  // tables ([[RoutedTier.save]]): meta (params + router arity + build
  // seed), centroids (both router levels), codebook, codes (8 B/row),
  // links, entries, fingerprints (per-cell content digests — [[rederive]]
  // keeps its incremental carry across a restart), tombstones. The
  // metric is structurally `l2` (the [[fromRouted]] requirement).
  // --------------------------------------------------------------------

  private[hnsw] val payload = RoutedImage.Payload[PqCellShard, Long]("codes", "code",
    RoutedImage.codeRowEnc, _.form.store.rows)

  protected def imageMeta(i: RoutedPqIndex): (HnswParams, Seq[(String, Any)]) =
    (i.params, Seq("n_primary" -> i.router.nPrimary, "build_seed" -> i.buildSeed))

  protected def writeTables(i: RoutedPqIndex, spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    RoutedImage.writeRouter(spark, dir, i.router)
    i.codebook.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (c, n) => (s, n, c.toSeq) }
    }.toSeq.toDF("sub", "idx", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
    i.shards.map { case (cell, s) => (cell, s.fingerprint) }.toDF("cell", "fingerprint")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/fingerprints")
  }

  /** Restore WITHOUT the float source, keyed by the pinned
    * [[HnswRouted.CellPartitioner]] (value-equal to the source index's,
    * so a later [[rederive]] against a re-attached float source still
    * carries unchanged cells by fingerprint) — no k-means, no HNSW
    * construction, no encode. */
  private[hnsw] def restore(spark: SparkSession, dir: String, meta: Row,
                            persist: Boolean, storage: StorageLevel): RoutedPqIndex = {
    // build_seed persists since round 16; older images fall back to the
    // historical hardcoded solo seed (13) they were operated with
    val buildSeed =
      if (meta.schema.fieldNames.contains("build_seed"))
        meta.getAs[Long]("build_seed")
      else 13L
    val router = RoutedImage.readRouter(spark, dir, "l2")
    val codebook = spark.read.parquet(s"$dir/codebook").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getAs[Seq[Float]](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }
    val fps = spark.read.parquet(s"$dir/fingerprints").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fpB = spark.sparkContext.broadcast(fps)
    // per-cell PRESENCE also rides the fingerprints table (one row per
    // SHARD, zero-code cells included) — images written before the
    // entries table recorded presence keep their empty cells through it
    val shards = RoutedImage.shards(cacheName, spark, dir, payload,
      HnswRouted.partitionerFor(router), persist, storage, fps.keySet)(
      { (cell, cs, snap) =>
        val (ids, codes) = cs.toArray.unzip
        PqCellShard(cell, OrdinalForm.of(CodeArena.of(ids, codes), snap), fpB.value.getOrElse(cell, 0L))
      })
    RoutedPqIndex(RoutedImage.paramsFromMeta(meta), router, codebook, shards,
      RoutedImage.readTombstones(spark, dir), buildSeed, storage = storage)
  }

  /** Memoized save→attach round-trip over the cached derivation — the
    * catalog's durable-path handle (the [[HnswRouted.attachCached]]
    * pattern): derive once, persist the eight-table image, restore it
    * WITHOUT the float source, serve from the attached copy. */
  def attachCached(index: HnswRouted.RoutedIndex, key: String): RoutedPqIndex =
    memoized(index.shards.sparkContext.applicationId, "save_attach", "pqattach", key)(
      roundTrip(fromRoutedCached(index, key)))

  /** Memoized [[buildSolo]] — the catalog handle for the float-free
    * build path (one build per session per key). */
  def buildSoloCached(vectors: DataFrame, cfg: HnswDistributed.BuildConfig,
                      nCells: Int, key: String): RoutedPqIndex =
    memoized(HandleMemo.appId(vectors), "solo_build", "pqsolobuild", key, nCells)(
      buildSolo(vectors, cfg, nCells))

  /** Memoized derivation. */
  def fromRoutedCached(index: HnswRouted.RoutedIndex, key: String,
                       seed: Long = 13L): RoutedPqIndex =
    memoized(index.shards.sparkContext.applicationId, "encode", "pq", key, seed,
      index.tombstones.length)(fromRouted(index, seed))
}
