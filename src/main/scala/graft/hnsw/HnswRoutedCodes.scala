package graft.hnsw

import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.store.{CodeArena, CodeQuery, GraphSnapshot}

/** IVF-routed sharded HNSW over u64 bit-codes under Hamming distance —
  * [[HnswRouted]]'s architecture applied to the reference's NATIVE
  * representation (lazy_memory_store.rs:14-21, 49-54): a coarse
  * quantizer routes codes into cells, each cell holds its own HNSW
  * graph of codes, a query probes its nProbe nearest cells.
  *
  * The router is a K-MAJORITY quantizer (binary k-means: assignment by
  * Hamming distance to anchor codes, update by per-bit majority vote —
  * the Hamming-space analog of Lloyd's centroid mean, deterministic
  * seeded anchors + fixed iterations). 8 bytes per vector means this
  * tier has no Kryo 2 GiB envelope anywhere near practical scale: at
  * 1e8 codes the whole corpus is 800 MB spread across cells — the rung
  * the float tier's broadcast build refuses is this tier's natural
  * decade (measured in BASELINE.md).
  *
  * Same disciplines as the float tier: global id dedup before routing,
  * cell histogram fail-fast (codes that coincide can no more be split
  * than duplicate vectors — the guard names the dials), keyed shards
  * on a pinned partitioner, per-cell sequential construction in
  * ascending id order. The exhaustive regime (nProbe = nCells) is held
  * to the same full hash oracle as the flat Hamming index
  * (`h_knn_routed_hamming`).
  *
  * Production story mirrors [[HnswRouted]]: [[save]]/[[attach]]
  * persist a versioned parquet image (meta/anchors/codes/links/
  * entries) restored by one co-partitioned cogroup — no k-majority
  * training, no graph construction; [[ingest]] merges a batch per
  * cell with a narrow dependency on the index side and a global
  * duplicate-id fail-fast. */
object HnswRoutedCodes extends LocalRoutedTier {
  type S = CodeCellShard
  type I = RoutedCodeIndex
  type Q = Long
  type P = Array[Long]

  /** One cell: its graph in the form it was grown in (the cell's
    * [[CodeArena]] and `Int` rows), served like a
    * [[HnswCodes.CodeModel]]. A DISK_ONLY cell deserializes straight into
    * what it serves. */
  final case class CodeCellShard(cell: Int, form: OrdinalForm.Codes) extends RoutedCell {
    def view(params: HnswParams): OrdinalGraph[CodeQuery] = form.view(params)
    /** Id -> code, derived once. */
    @transient lazy val codes: LongLongMap = LongLongMap.from(form.store.rows, form.size)
  }
  /** `tombstones` is the index's deletion set (sorted ids) — the float
    * tier's soft-delete contract ([[HnswRouted.RoutedIndex]]):
    * [[delete]] adds, [[search]] excludes, [[compact]] folds out per
    * affected cell and frees the ids for re-[[ingest]]. `storage` is the
    * residency it was built or attached with ([[RoutedHandle]]). */
  final case class RoutedCodeIndex(
      params: HnswParams,
      seed: Long,
      anchors: Array[Long],
      shards: RDD[(Int, CodeCellShard)],
      tombstones: Array[Long] = Array.empty,
      overlay: Seq[RDD[_]] = Nil,
      storage: StorageLevel = DefaultStorage)
      extends RoutedHandle[CodeCellShard, RoutedCodeIndex] {
    private[graft] def withState(shards: RDD[(Int, CodeCellShard)], tombstones: Array[Long],
                                 overlay: Seq[RDD[_]]): RoutedCodeIndex =
      copy(shards = shards, tombstones = tombstones, overlay = overlay)
  }

  private val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  // ---- the u64-code representation's binding ([[RoutedTier]]) ----
  implicit protected def cellTag: ClassTag[CodeCellShard] = ClassTag(classOf[CodeCellShard])
  implicit protected def routingTag: ClassTag[Array[Long]] = ClassTag(classOf[Array[Long]])
  private[graft] val tierName = "routed-codes"
  private[graft] val payloadCol = "code"
  private[hnsw] val distCol = "hamming"
  private[hnsw] def queryEnc: Encoder[(Long, Long)] = pairEnc
  private[hnsw] def routing(i: RoutedCodeIndex): Array[Long] = i.anchors
  /** Keys are anchor RANKS (0..n-1), so the plain HashPartitioner is the
    * identity here (unlike the float tier's composite ids — see
    * [[HnswRouted.CellPartitioner]]). */
  protected def partitioner(i: RoutedCodeIndex): Partitioner = partitionerFor(i.anchors)
  /** This is the DISK_ONLY-decade tier: the superseded image is ~the
    * index's full footprint, so reclaim it before the caller's next job
    * rather than racing the async cleaner. */
  override protected def unpersistBlocking: Boolean = true
  protected def memberRows(i: RoutedCodeIndex): CodeCellShard => Iterator[(Long, Long)] =
    _.form.store.rows
  protected def grow(i: RoutedCodeIndex) = growCell(i.params, i.seed) _
  protected def route(i: RoutedCodeIndex) = keyedByAnchor(_: DataFrame, i.anchors)
  protected def rebuildFrom(index: RoutedCodeIndex, rows: DataFrame, nCells: Int,
                            persist: Boolean, maxCellRows: Long): RoutedCodeIndex =
    build(rows, index.params, if (nCells > 0) nCells else index.anchors.length,
      index.seed, persist, maxCellRows, index.storage)

  private def partitionerFor(anchors: Array[Long]): Partitioner =
    new HashPartitioner(math.max(1, anchors.length))

  /** (cell, (id, code)) pairs of an (id, code) projection, routed to the
    * nearest anchor. */
  private def keyedByAnchor(df: DataFrame, anchors: Array[Long]): RDD[(Int, (Long, Long))] = {
    val anchorsB = df.sparkSession.sparkContext.broadcast(anchors)
    df.select(col("id"), col("code")).as(pairEnc).rdd
      .map { case (id, c) => (nearestAnchor(c, anchorsB.value), (id, c)) }
  }

  @inline private def hamming(a: Long, b: Long): Int =
    java.lang.Long.bitCount(a ^ b)

  /** Nearest anchor by Hamming distance; ties to the lowest index (the
    * deterministic contract every assignment site shares). */
  def nearestAnchor(code: Long, anchors: Array[Long]): Int = {
    var best = 0; var bestD = Int.MaxValue
    var i = 0
    while (i < anchors.length) {
      val d = hamming(code, anchors(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** K-majority training on a deterministic driver sample (the
    * Ivf.train discipline: hash-stride selection — order-independent —
    * then id-sorted take). Anchor update = per-bit majority over the
    * cell's members; an empty cell keeps its anchor. */
  def trainAnchors(codes: DataFrame, nCells: Int, seed: Long = 11L,
                   iters: Int = 10, maxSample: Int = 100000): Array[Long] = {
    val total = codes.count()
    val stride = math.max(1L,
      (total + math.max(1, maxSample) - 1) / math.max(1, maxSample))
    val sample = codes
      .filter(pmod(xxhash64(col("id"), lit(seed)), lit(stride)) === 0L)
      .select(col("id"), col("code")).as(pairEnc)
      .collect().sortBy(_._1).take(maxSample).map(_._2)
    require(sample.nonEmpty, "empty training set")

    // initial anchors must be DISTINCT codes: nearestAnchor ties to the
    // lowest index, so a duplicated anchor's cell can never receive a
    // member, never updates, and stays dead — silently shrinking the
    // effective nCells and inflating survivors toward maxCellRows.
    // Hash-pick a start slot per anchor, then linear-probe forward to
    // the next code not yet chosen (identical to the old selection
    // whenever the hash pick was already distinct); stop early if the
    // sample holds fewer distinct codes than nCells.
    var anchors = {
      val chosen = new LongSet(nCells * 2)
      val init = Array.newBuilder[Long]
      var i = 0
      var exhausted = false
      while (i < math.min(nCells, sample.length) && !exhausted) {
        val start =
          ((HnswParams.uniformFromHash(i.toLong, seed) * sample.length).toInt)
            .min(sample.length - 1)
        var off = 0
        var picked = false
        while (!picked && off < sample.length) {
          val c = sample((start + off) % sample.length)
          if (chosen.add(c)) { init += c; picked = true }
          off += 1
        }
        exhausted = !picked
        i += 1
      }
      init.result()
    }
    var it = 0
    while (it < iters) {
      val ones = Array.ofDim[Int](anchors.length, 64)
      val counts = new Array[Int](anchors.length)
      sample.foreach { c =>
        val a = nearestAnchor(c, anchors)
        counts(a) += 1
        var b = 0
        while (b < 64) { if (((c >>> b) & 1L) == 1L) ones(a)(b) += 1; b += 1 }
      }
      anchors = anchors.zipWithIndex.map { case (old, a) =>
        if (counts(a) == 0) old
        else {
          var out = 0L
          var b = 0
          // strict majority sets the bit; exact ties clear it — any
          // deterministic rule works, this one is the simplest
          while (b < 64) {
            if (2 * ones(a)(b) > counts(a)) out |= (1L << b)
            b += 1
          }
          out
        }
      }
      it += 1
    }
    anchors
  }

  /** The code tier's one cell kernel — build, ingest and compaction all
    * grow a cell here: `prior`'s graph and codes (copy-on-merge: a
    * cached shard is never mutated) absorb the id-sorted `rows` in
    * order, layers from the id hash ([[OrdinalGraph.grow]]); with no
    * prior the cell builds fresh, so a compacted cell is graph-identical
    * to a fresh build of its surviving rows (same insert order, same
    * layer draws). */
  private[hnsw] def growCell(params: HnswParams, seed: Long)(cell: Int,
      prior: Option[CodeCellShard], rows: Array[(Long, Long)]): CodeCellShard = {
    val arena = prior.fold(new CodeArena)(_.form.store.copy())
    rows.foreach { case (id, _) =>
      require(arena.ordinalOf(id) < 0,
        s"routed-codes ingest: id $id already present in cell $cell — " +
          "re-inserting a vertex would corrupt its graph")
    }
    CodeCellShard(cell, OrdinalGraph.grow(params, seed, arena, prior.map(_.form),
      rows.iterator.map { case (id, c) => (id, CodeQuery.hamming(c)) }))
  }

  /** Per-cell row budget (see [[HnswRouted.DefaultMaxCellRows]]): codes
    * are 8 B/row, so the budget here bounds GRAPH memory (edges), not
    * vector memory — the same 4M default keeps a cell's layer-0 arrays
    * ~1 GiB at mMax=32. */
  val DefaultMaxCellRows = 4000000L

  /** Default shard residency. DISK_ONLY is the LOCAL-mode lever for
    * indexes larger than the heap's storage fraction (a 1e8-code index
    * is ~30 GB of CSR graphs): shards stream to disk as they build and
    * deserialize per probed partition at search — on a cluster the
    * same bytes spread across executors and MEMORY_AND_DISK is right. */
  val DefaultStorage: StorageLevel =
    StorageLevel.MEMORY_AND_DISK

  /** `modalitySplit`: opt-in BUILD-TIME modality guard — the float
    * tier's [[HnswRouted.build]] flag on the code representation. The
    * k-majority router routinely packs several well-separated code
    * modes into one cell (the skew guard bounds SIZE, not modality);
    * with the flag on, every cell above a row floor runs the sampled
    * [[modalCensusCodes]] separability census, and flagged cells'
    * strong-mode majority codes become ADDITIONAL anchors (the
    * strongest mode replaces the merged anchor) before the final
    * assignment — so a later delete aligned with one mode leaves whole
    * CELLS dead, which predicated serving skips outright, instead of
    * half-dead cells it must exact-scan. Off by default: the guard
    * adds one assignment pass + one bounded sampled collect. */
  def build(codes: DataFrame, params: HnswParams = HnswParams.standard(64, 32, 32),
            nCells: Int = 16, seed: Long = 42L, persist: Boolean = true,
            maxCellRows: Long = DefaultMaxCellRows,
            storage: StorageLevel = DefaultStorage,
            modalitySplit: Boolean = false): RoutedCodeIndex = {
    val spark = codes.sparkSession
    // global id dedup (deterministic survivor: max code)
    val deduped = codes.select(col("id"), col("code"))
      .groupBy(col("id")).agg(max(col("code")).as("code"))
    val anchors0 = trainAnchors(deduped, nCells, seed)
    val anchors =
      if (!modalitySplit) anchors0
      else {
        val keyed0 = keyedByAnchor(deduped, anchors0)
        val hist0 = keyed0.mapValues(_ => 1L).reduceByKey(_ + _).collect()
        val audit = hist0.filter(_._2 >= ModalityMinCellRows)
        if (audit.isEmpty) anchors0
        else {
          // one decimated collect serves ALL audited cells; per-cell
          // sample bounded by ModalitySampleMax, decimated by id hash
          // (the float guard's discipline — never by position)
          val keepB = spark.sparkContext.broadcast(audit.map {
            case (cell, cn) =>
              cell -> math.min(1.0, ModalitySampleMax.toDouble / cn)
          }.toMap)
          val sampled = keyed0.flatMap { case (cell, (id, c)) =>
            keepB.value.get(cell) match {
              case Some(keep)
                if HnswParams.uniformFromHash(id, seed ^ 0x9E3779B9L) < keep =>
                Iterator.single((cell, id, c))
              case _ => Iterator.empty
            }
          }.collect()
          val flagged = sampled.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
            case (cell, rows) =>
              val cs = rows.sortBy(_._2).take(ModalitySampleMax).map(_._3)
              val groups = modalCensusCodes(cs)
              if (groups.length >= 2) Some(cell -> groups) else None
          }
          if (flagged.isEmpty) anchors0
          else {
            // the census's group majority codes ARE the extra anchors
            // (children align with the detected modes by construction;
            // nearestAnchor is global, so the final assignment below
            // re-routes every row against the extended set). Anchors
            // must stay DISTINCT — ties go to the lowest index, so a
            // duplicate anchor's cell would be dead: skip mode codes
            // already present.
            // presence is a live COUNT over the evolving anchor list,
            // not a grow-only set: k-majority training can converge an
            // anchor EXACTLY onto one mode's code (measured at the 1e6
            // rung — anchor 14 WAS mode 0's code), and with a grow-only
            // set the head replacement evicted that code from the list
            // while "already present" then swallowed its re-append —
            // the one cell that stayed merged after the guard ran
            val out = scala.collection.mutable.ArrayBuffer.from(anchors0)
            val count = scala.collection.mutable.Map.empty[Long, Int]
            out.foreach(a => count(a) = count.getOrElse(a, 0) + 1)
            flagged.foreach { case (cell, groups) =>
              val head = groups.head._1
              if (head != out(cell) && count.getOrElse(head, 0) == 0) {
                count(out(cell)) = count(out(cell)) - 1 // slot vacates
                count(head) = 1
                out(cell) = head
              }
              groups.iterator.drop(1).foreach { case (g, _) =>
                if (count.getOrElse(g, 0) == 0) { count(g) = 1; out += g }
              }
            }
            out.toArray
          }
        }
      }
    val keyedRaw = keyedByAnchor(deduped, anchors)

    // skew guard: histogram fail-fast. Coincident codes cannot be
    // separated by ANY Hamming quantizer (they are the same point), so
    // unlike the float tier there is no secondary-split escape for true
    // mass collapse — fail at entry, naming the dials.
    val hist = keyedRaw.mapValues(_ => 1L).reduceByKey(_ + _).collect()
    val over = hist.filter(_._2 > maxCellRows)
    require(over.isEmpty,
      s"HnswRoutedCodes.build: ${over.length} cell(s) exceed " +
        s"maxCellRows=$maxCellRows (largest: ${over.map(_._2).max} rows). " +
        "Dials: raise nCells (more anchors), raise maxCellRows (more " +
        "executor memory per cell), or use HnswCodes.buildBatched (the " +
        "single-graph micro-batched tier) for collapsed code mass")

    RoutedCodeIndex(params, seed, anchors, buildShards(keyedRaw, partitionerFor(anchors),
      persist, storage)(growCell(params, seed)), storage = storage)
  }

  // --------------------------------------------------------------------
  // Merged-cell detection + targeted remedy — [[HnswRouted
  // .mergedCellAudit]]'s machinery on the Hamming representation. The
  // k-majority router can merge well-separated code modes into one cell
  // exactly like k-means merges float clusters (the float tier measured
  // an 11.6× predicated-serving tax from ONE merged cell before the
  // remedy landed there), and THIS tier is the 1e8-decade tier — the
  // scale where that failure class costs the most.
  // --------------------------------------------------------------------

  private val ModalityMinCellRows = 256L
  private val ModalitySampleMax = 1024

  /** Per-bit strict-majority code — the Hamming analog of the float
    * tier's component mean (strict majority sets the bit; exact ties
    * clear it — the [[trainAnchors]] update rule, any deterministic rule
    * works). Zero codes yield 0L. */
  private def majority(codes: Iterator[Long]): Long = {
    val ones = new Array[Int](64); var n = 0
    codes.foreach { c =>
      var b = 0
      while (b < 64) { if (((c >>> b) & 1L) == 1L) ones(b) += 1; b += 1 }
      n += 1
    }
    var out = 0L; var b = 0
    while (b < 64) { if (2 * ones(b) > n) out |= (1L << b); b += 1 }
    out
  }

  /** Modal census of a cell's code sample — [[HnswRouted.modalCensus]]
    * on Hamming space ([[HnswRouted.modalCensusOf]]): deterministic
    * k-majority (whole-sample majority + farthest-point seeds), Hamming
    * radii (already linear, no sqrt pass), and each merged group's code
    * the majority over the sample rows its components hold. Returns the
    * strong groups as (group majority code, sample count), descending by
    * count; 0-1 groups = unimodal. */
  private[graft] def modalCensusCodes(codes: Array[Long]): Array[(Long, Int)] =
    HnswRouted.modalCensusOf(codes, (a: Long, b: Long) => hamming(a, b).toDouble,
      identity, majority) { (comps, _, _, assign) =>
      val in = comps.toSet
      majority(codes.indices.iterator.filter(x => in(assign(x))).map(codes(_)))
    }

  /** The merged-cell separability kernel in Hamming space
    * ([[MergedCellAudit.audit]]): a deterministic k-majority split seeded
    * by the dead-member and live-member majority codes, then a
    * full-member purity census per component. Schema and thresholds
    * identical to the float audit. */
  protected def auditKernel(i: RoutedCodeIndex, sampleMax: Int, iters: Int, kSplit: Int) =
    (rows: Array[(Long, Long)], isDead: Long => Boolean, nDead: Int) =>
      MergedCellAudit.audit(rows, (a: Long, b: Long) => hamming(a, b).toDouble, majority,
        isDead, nDead, sampleMax, iters, kSplit)

  // --------------------------------------------------------------------
  // Durability: the image is meta, anchors, codes, links, entries and
  // tombstones ([[RoutedTier.save]]); a 1e8-code index is ~800 MB of
  // codes + its graphs, restored without training or construction.
  // --------------------------------------------------------------------

  private[hnsw] val payload = RoutedImage.Payload[CodeCellShard, Long]("codes", "code",
    RoutedImage.codeRowEnc, _.form.store.rows)

  protected def imageMeta(i: RoutedCodeIndex): (HnswParams, Seq[(String, Any)]) =
    (i.params, Seq("seed" -> i.seed))

  protected def writeTables(i: RoutedCodeIndex, spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    i.anchors.zipWithIndex.map { case (a, n) => (n, a) }.toSeq
      .toDF("idx", "anchor")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/anchors")
  }

  private[hnsw] def restore(spark: SparkSession, dir: String, meta: Row,
                            persist: Boolean, storage: StorageLevel): RoutedCodeIndex = {
    val anchors = spark.read.parquet(s"$dir/anchors").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).map(_._2)
    RoutedCodeIndex(RoutedImage.paramsFromMeta(meta), meta.getAs[Long]("seed"),
      anchors, RoutedImage.shards(cacheName, spark, dir, payload,
        partitionerFor(anchors), persist, storage) { (cell, cs, snap) =>
        val (ids, codes) = cs.toArray.unzip
        CodeCellShard(cell, OrdinalForm.of(CodeArena.of(ids, codes), snap))
      },
      RoutedImage.readTombstones(spark, dir), storage = storage)
  }

  /** Served Hamming distances stay INTEGERS — the flat tier's output
    * contract ([[HnswCodes.search]]): (qid, id, hamming, rank). */
  override protected def ranked(perShard: DataFrame, k: Int): DataFrame =
    RoutedServe.top(perShard.withColumn(distCol, col(distCol).cast("int")), distCol, k)

  /** Probe set for one query code: the nProbe nearest anchors by
    * Hamming distance, ties by anchor index. */
  private[graft] def probeCells(anchors: Array[Long], qc: Long, nProbe: Int): Iterator[Int] = {
    val byDist = Array.tabulate(anchors.length)(a => (a, hamming(qc, anchors(a))))
    java.util.Arrays.sort(byDist,
      Ordering.by[(Int, Int), (Int, Int)](x => (x._2, x._1)))
    byDist.iterator.take(nProbe).map(_._1)
  }

  /** The shared predicated kernel ([[PredicatedCensus.serve]]) on the
    * code representation: the cell's codes, a beam on the cell's
    * [[OrdinalGraph]] view and the Hamming distance by ordinal (INTEGER
    * distances — ties are the common case, and the kernel's total (dist,
    * id) queue order carries the oracle's tie-breaking). The probe set
    * covering every cell is the exhaustive regime (forced exact scan). */
  private[hnsw] def kernel(index: RoutedCodeIndex, k: Int, nProbe: Int,
                           ef0: Int): RoutedServe.Kernel[CodeCellShard, Long] = {
    val params = index.params
    val exhaustive = nProbe >= index.anchors.length
    (m, probes, hasAllow, allow, dead) => {
      val view = m.view(params)
      PredicatedCensus.serve(m.form.store, probes, k,
        HnswRouted.cellEf(params, ef0, m.form.size), exhaustive, hasAllow, allow, dead)(
        (qc, kk, ef) => view.search(CodeQuery.hamming(qc), kk, ef),
        qc => view.distances(CodeQuery.hamming(qc)))
    }
  }

  /** The memoized handle family of one codes corpus. */
  private def catalog(codes: DataFrame, params: HnswParams, nCells: Int, seed: Long,
                      key: String) =
    new Catalog(codes, key, Seq(nCells, seed, params.m.toList, params.mMax.toList,
      params.efConstrSearch.toList, params.efConstrInsert.toList,
      params.efSearch.toList, params.layerProbability), build(codes, params, nCells, seed))

  def buildCached(codes: DataFrame, params: HnswParams, nCells: Int,
                  seed: Long, key: String): RoutedCodeIndex =
    catalog(codes, params, nCells, seed, key).built

  /** Memoized save+attach round-trip — the catalog's durable-tier
    * serving handle for the code representation. */
  def attachCached(codes: DataFrame, params: HnswParams, nCells: Int,
                   seed: Long, key: String): RoutedCodeIndex =
    catalog(codes, params, nCells, seed, key).attached

  /** Memoized build-then-ingest — the incremental-growth handle, held to
    * the same exhaustive-regime oracle as a from-scratch build. */
  def growCached(baseCodes: DataFrame, newRows: DataFrame, params: HnswParams,
                 nCells: Int, seed: Long, key: String): RoutedCodeIndex =
    catalog(baseCodes, params, nCells, seed, key).grown(newRows)

  /** Memoized tombstone-serving handle over the SHARED cached build. */
  def deleteCached(codes: DataFrame, deleted: DataFrame, params: HnswParams, nCells: Int,
                   seed: Long, key: String, delKey: String): RoutedCodeIndex =
    catalog(codes, params, nCells, seed, key).deleted(deleted, delKey)

  /** Memoized compaction of the cached tombstoned index (the prior shards
    * stay cached for the sibling rows). */
  def compactCached(codes: DataFrame, deleted: DataFrame, params: HnswParams, nCells: Int,
                    seed: Long, key: String, delKey: String): RoutedCodeIndex =
    catalog(codes, params, nCells, seed, key).compacted(deleted, delKey)
}
