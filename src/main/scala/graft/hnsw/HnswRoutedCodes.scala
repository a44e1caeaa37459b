package graft.hnsw

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
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
object HnswRoutedCodes {

  /** One cell: its graph in the form it was grown in (the cell's
    * [[CodeArena]] and `Int` rows), served like a
    * [[HnswCodes.CodeModel]]. A DISK_ONLY cell deserializes straight into
    * what it serves. */
  final case class CodeCellShard(cell: Int, form: OrdinalForm.Codes) {
    def view(params: HnswParams): OrdinalGraph[CodeQuery] = form.view(params)
    def snapshot: GraphSnapshot = form.snapshot
    /** Id -> code, derived once. */
    @transient lazy val codes: LongLongMap = LongLongMap.from(form.store.rows, form.size)
  }

  /** `tombstones` is the index's deletion set (sorted ids) — the float
    * tier's soft-delete contract ([[HnswRouted.RoutedIndex]]):
    * [[delete]] adds, [[search]] excludes, [[compact]] folds out per
    * affected cell and frees the ids for re-[[ingest]]. */
  final case class RoutedCodeIndex(
      params: HnswParams,
      seed: Long,
      anchors: Array[Long],
      shards: RDD[(Int, CodeCellShard)],
      tombstones: Array[Long] = Array.empty,
      overlay: Seq[RDD[_]] = Nil) {
    def unpersist(): Unit = {
      overlay.foreach(_.unpersist())
      shards.unpersist()
    }
  }

  private val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** The u64-code tier's [[RoutedTier]] binding — one shared lifecycle
    * ([[RoutedLifecycle]]) across the three serving tiers; only the
    * representation (u64 codes, Hamming-space rebuild) lives
    * here. `unpersistBlocking`: this is the DISK_ONLY-decade tier —
    * the superseded image is ~the index's full footprint, reclaim it
    * before the caller's next job rather than racing the async
    * cleaner. */
  private[graft] object CodeTier
      extends RoutedServing[CodeCellShard, RoutedCodeIndex, Long, Array[Long]] {
    def shards(i: RoutedCodeIndex): RDD[(Int, CodeCellShard)] = i.shards
    def tombstones(i: RoutedCodeIndex): Array[Long] = i.tombstones
    def overlays(i: RoutedCodeIndex): Seq[RDD[_]] = i.overlay
    def make(i: RoutedCodeIndex, shards: RDD[(Int, CodeCellShard)],
             tombstones: Array[Long], overlays: Seq[RDD[_]]): RoutedCodeIndex =
      RoutedCodeIndex(i.params, i.seed, i.anchors, shards, tombstones, overlays)
    /** Keys are anchor RANKS (0..n-1), so the plain HashPartitioner is
      * the identity here (unlike the float tier's composite ids — see
      * [[HnswRouted.CellPartitioner]]). */
    def partitioner(i: RoutedCodeIndex): Partitioner = partitionerFor(i.anchors)
    val cacheName = "graft-hnsw-routed-codes"
    val tierName = "routed-codes"
    val unpersistBlocking = true
    val resurrectHint = "Run compact() first (frees the ids), or route " +
      "through the CDC stream, which filters tombstoned inserts"
    def form(s: CodeCellShard): OrdinalForm.Codes = s.form
    val queryCol = "qcode"
    def queryEnc: Encoder[(Long, Long)] = pairEnc
    def router(i: RoutedCodeIndex): Array[Long] = i.anchors
    def probeCells(anchors: Array[Long], qc: Long, nProbe: Int): Iterator[Int] =
      probeCellsCode(qc, anchors, nProbe)
    val codes = RoutedImage.Payload[CodeCellShard, Long]("codes", "code",
      RoutedImage.codeRowEnc, _.form.store.rows)
    def rebuild(i: RoutedCodeIndex): RoutedLifecycle.Rebuild[CodeCellShard] =
      RoutedLifecycle.Rebuild.local(codes.rows)(growCell(i.params, i.seed))
  }

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
          ((HnswSearcher.uniformFromHash(i.toLong, seed) * sample.length).toInt)
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
                if HnswSearcher.uniformFromHash(id, seed ^ 0x9E3779B9L) < keep =>
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

    RoutedCodeIndex(params, seed, anchors, RoutedLifecycle.build(CodeTier,
      keyedRaw, partitionerFor(anchors), persist, storage)(growCell(params, seed)))
  }

  /** Incremental ingest — [[HnswRouted.ingest]]'s contract on the code
    * representation: route the batch by nearest anchor, merge PER CELL
    * into the live graphs (untouched cells pass through by reference;
    * a cell with no prior shard starts fresh). The index side has a
    * NARROW dependency on its pinned partitioner — only the batch
    * shuffles, never the corpus. Ids must be new to the INDEX: a
    * global broadcast guard fails fast naming the cell that already
    * holds a clashing id (the cross-cell double-registration hazard —
    * a redelivered id whose code drifted routes to a different cell).
    * The ANCHORS ARE FROZEN; drift recovery is retrain + rebuild. */
  def ingest(index: RoutedCodeIndex, newRows: DataFrame,
             persist: Boolean = true,
             storage: StorageLevel = DefaultStorage): RoutedCodeIndex =
    RoutedLifecycle.ingest(CodeTier)(index, newRows, "code", persist,
      unpersistPrior = true, storage)(keyedByAnchor(_, index.anchors))(
      growCell(index.params, index.seed))

  /** Opt-in serving warm-up — [[HnswRouted.warm]] on the code
    * representation (this tier runs the DISK_ONLY decades where the
    * cold-first-serve tax is largest). One deserializing sweep off
    * the serving path; returns the shard count. */
  def warm(index: RoutedCodeIndex): Long = RoutedOps.warm(index.shards)

  /** Covering-probe warm-up — [[HnswRouted.warmProbe]] on the code
    * representation: one member code per cell served back through the
    * full path at k = 1, paying the kernel JIT + plan warm-up that
    * [[warm]]'s block sweep leaves on the first real serve. */
  def warmProbe(index: RoutedCodeIndex, ef: Int = 16): Long =
    // the rows are lazy: the probe-rep collection is O(nCells), not O(index)
    RoutedServe.warmProbe(CodeTier, index)(_.form.store.rows.map(_._2))(
      search(index, _, k = 1, nProbe = 1, ef0 = ef))

  /** Drift recovery — [[HnswRouted.retrain]] on the code
    * representation: re-train the k-majority anchors on the index's
    * current corpus and rebuild from its own shards (tombstones fold
    * out; cells rebalance; `nCells = 0` keeps the current count). */
  def retrain(index: RoutedCodeIndex, nCells: Int = 0,
              persist: Boolean = true,
              maxCellRows: Long = DefaultMaxCellRows,
              storage: StorageLevel = DefaultStorage): RoutedCodeIndex = {
    val n = if (nCells > 0) nCells else index.anchors.length
    val df = SparkSession.active.createDataset(RoutedLifecycle.liveRows(CodeTier)(
      index, CodeTier.codes.rows))(pairEnc).toDF("id", "code")
    build(df, index.params, n, index.seed, persist, maxCellRows, storage)
  }

  /** Which of `ids` (sorted ascending) are present in the index — the
    * float tier's [[HnswRouted.presentIds]] on the code representation
    * (one narrow broadcast scan; CDC idempotence). */
  def presentIds(index: RoutedCodeIndex, ids: Array[Long]): Array[Long] =
    RoutedOps.presentIds(index.shards, ids)(
      (s, f) => s.form.store.idIterator.foreach(f))

  /** Tombstone delete-without-rebuild — [[HnswRouted.delete]]'s
    * contract on the code representation: O(set) handle metadata, the
    * shards are SHARED with the input handle. [[search]] excludes the
    * set transparently (tombstoned vertices still conduct the in-cell
    * traversal); [[compact]] folds it out and frees the ids. */
  def delete(index: RoutedCodeIndex, ids: DataFrame): RoutedCodeIndex =
    RoutedLifecycle.delete(CodeTier)(index, ids)

  /** Fold the deletion set out of the graphs — [[HnswRouted.compact]]:
    * ONLY cells holding a tombstoned id rebuild (fresh, via
    * [[growCell]] — graph-identical to a fresh build of the
    * survivors); untouched cells pass through by reference. Returns an
    * index with an empty deletion set; compacted-away ids can
    * re-[[ingest]]. */
  def compact(index: RoutedCodeIndex, persist: Boolean = true,
              unpersistPrior: Boolean = true,
              storage: StorageLevel = DefaultStorage): RoutedCodeIndex =
    RoutedLifecycle.compact(CodeTier)(index, CodeTier.rebuild(index), persist,
      unpersistPrior, storage)._1

  /** PATCHED compaction — [[HnswRouted.compactCellsPatched]] on the
    * codes tier, with the touched set derived from the deletion set
    * itself (one narrow membership pass): only the rebuilt cells
    * persist (an overlay whose untouched partitions are empty blocks);
    * the served `shards` is an unpersisted partitioner-preserving
    * composite reading the base's cached blocks everywhere else. The
    * regime where this pays is a MEMORY-RESIDENT base (the cluster
    * posture): measured 0.99-1.01× plain serving with a cheaper fold
    * at 4e5-1e7. The honest 1e8 DISK_ONLY result (BASELINE round-15):
    * the fold costs the same ~840 s as the full copy (the one full
    * deserialize pass dominates, not the write churn) and the
    * composite's serving read 128 s vs 2.6 s on the warm base while
    * staying exactly correct — at the local disk decade prefer the
    * full-copy [[compact]]; the composite tax there is an open
    * round-16 diagnosis. The base index must STAY cached; fold the
    * patch stack back to one full image with [[foldOverlay]] on a
    * cadence. */
  def compactPatched(index: RoutedCodeIndex,
                     persist: Boolean = true): RoutedCodeIndex =
    RoutedLifecycle.compactPatched(CodeTier)(index, CodeTier.rebuild(index),
      persist)

  /** Materialize a patched index back into ONE persisted full image and
    * release the overlay stack (see [[HnswRouted.foldOverlay]]). */
  def foldOverlay(index: RoutedCodeIndex,
                  storage: StorageLevel = DefaultStorage): RoutedCodeIndex =
    RoutedLifecycle.foldOverlay(CodeTier)(index, storage)

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

  /** Merged-cell audit — [[HnswRouted.mergedCellAudit]] on the code
    * representation, for the regime the per-cell density census cannot
    * see: the k-majority router packed a now-DEAD code mode and a live
    * mode into one cell, so the cell reads ~50% eligible cell-wide
    * while queries arriving on the dead side have ~zero eligible among
    * their nearest — predicated serving there pays the exact scan
    * every probe. One narrow pass, no shuffle: cells whose dead
    * fraction is bimodal-eligible run the shared separability kernel
    * ([[MergedCellAudit.audit]]) in Hamming space — a deterministic
    * k-majority split whose first two seeds are the dead-member and
    * live-member majority codes (hypothesis-shaped init; k > 2 catches cells that
    * merged SEVERAL modes), then a full-member purity census per
    * component — flagged `merged` when ≥80%-pure-dead components hold
    * ≥80% of the dead mass beside a clearly-live component. Schema and
    * thresholds identical to the float audit. Remedy:
    * [[compactCells]]/[[compactCellsPatched]] on the flagged ids. */
  def mergedCellAudit(index: RoutedCodeIndex, minCellRows: Int = 1024,
                      minDeadBp: Int = 1000, maxDeadBp: Int = 9000,
                      sampleMax: Int = 4096, iters: Int = 8,
                      kSplit: Int = 8): DataFrame =
    RoutedLifecycle.mergedCellAudit(CodeTier)(index, minCellRows, minDeadBp,
        maxDeadBp) { (s, isDead, nDead) =>
      MergedCellAudit.audit(s.form.store.rows.toArray.sortBy(_._1),
        (a: Long, b: Long) => hamming(a, b).toDouble, majority, isDead, nDead,
        sampleMax, iters, kSplit)
    }

  /** Targeted compaction — [[HnswRouted.compactCells]] on the code
    * representation: fold the deletion set out of ONLY the listed
    * cells (narrow map, untouched cells pass by reference) and SHRINK
    * the tombstone set by exactly the ids that lived there. */
  def compactCells(index: RoutedCodeIndex, cells: Array[Int],
                   persist: Boolean = true,
                   unpersistPrior: Boolean = true,
                   storage: StorageLevel = DefaultStorage): RoutedCodeIndex =
    RoutedLifecycle.compactCells(CodeTier)(index, cells,
      CodeTier.rebuild(index), persist, unpersistPrior, storage)

  /** [[compactCells]] with O(touched) persisted bytes — the float
    * tier's [[HnswRouted.compactCellsPatched]] overlay discipline on
    * the code representation (only the rebuilt cells persist; the
    * served composite reads the base's cached blocks everywhere else;
    * the base handle must stay cached and keeps serving its own
    * answer; patches stack, [[foldOverlay]] bounds the stack). */
  def compactCellsPatched(index: RoutedCodeIndex, cells: Array[Int],
                          persist: Boolean = true): RoutedCodeIndex =
    RoutedLifecycle.compactCellsPatched(CodeTier)(index, cells,
      CodeTier.rebuild(index), persist)

  /** Detect-and-remediate — [[HnswRouted.remediateMergedCells]] on the
    * code representation: [[mergedCellAudit]] → targeted compaction on
    * the flagged cells, PATCHED by default. Returns the remediated
    * index (the input handle when nothing is flagged) and the flagged
    * cell ids. */
  def remediateMergedCells(index: RoutedCodeIndex, minCellRows: Int = 1024,
                           persist: Boolean = true,
                           unpersistPrior: Boolean = true,
                           patched: Boolean = true): (RoutedCodeIndex, Array[Int]) = {
    val flagged = RoutedLifecycle.flaggedCells(mergedCellAudit(index, minCellRows))
    if (flagged.isEmpty) (index, flagged)
    else if (patched) (compactCellsPatched(index, flagged, persist), flagged)
    else (compactCells(index, flagged, persist, unpersistPrior), flagged)
  }

  // --------------------------------------------------------------------
  // Durability: versioned parquet image + attach-without-rebuild
  // ([[VersionedIndexDirs]] discipline, the float tier's shape on four
  // data tables — meta, anchors, codes, links — plus per-cell entries
  // and the live tombstone set).
  // --------------------------------------------------------------------


  /** Persist as a new complete `idx_v{N}` version ([[RoutedImage.save]]:
    * meta, anchors, codes, links, entries, tombstones). A 1e8-code index
    * is ~800 MB of codes + its graphs — the designated 1e8-decade tier
    * no longer costs its full build per session. */
  def save(index: RoutedCodeIndex, path: String, keepVersions: Int = 1): Unit =
    RoutedImage.save(CodeTier)(index, path, keepVersions, index.params,
      Seq("seed" -> index.seed), CodeTier.codes) { (spark, dir) =>
      import spark.implicits._
      index.anchors.zipWithIndex.map { case (a, i) => (i, a) }.toSeq
        .toDF("idx", "anchor")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/anchors")
    }

  /** Restore WITHOUT rebuilding: newest complete version, one
    * co-partitioned cogroup reassembling per-cell codes + CSR
    * snapshots into each cell's serving form ([[OrdinalForm.of]]) — a
    * parquet scan, no k-majority training, no graph construction. */
  def attach(spark: SparkSession, path: String,
             persist: Boolean = true,
             storage: StorageLevel = DefaultStorage): RoutedCodeIndex = {
    val (dir, meta) = RoutedImage.open(spark, path)
    val anchors = spark.read.parquet(s"$dir/anchors").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).map(_._2)
    RoutedCodeIndex(RoutedImage.paramsFromMeta(meta), meta.getAs[Long]("seed"),
      anchors, RoutedImage.shards(CodeTier, spark, dir, CodeTier.codes,
        partitionerFor(anchors), persist, storage) { (cell, cs, snap) =>
        val (ids, codes) = cs.toArray.unzip
        CodeCellShard(cell, OrdinalForm.of(CodeArena.of(ids, codes), snap))
      },
      RoutedImage.readTombstones(spark, dir))
  }

  /** Routed Hamming k-NN: (qid, qcode) -> (qid, id, hamming, rank) —
    * the flat tier's output contract ([[HnswCodes.search]]). ef0
    * follows the float tier's density-adaptive default
    * ([[HnswRouted.autoEf]]); explicit ef0 pins the in-cell beam. */
  def search(index: RoutedCodeIndex, queries: DataFrame, k: Int,
             nProbe: Int, ef0: Int = 0): DataFrame =
    ranked(request(index, k, nProbe, ef0).routed(queries, None), k)

  /** Attribute-filtered routed Hamming k-NN — the float tier's
    * [[HnswRouted.searchFiltered]] contract on the code
    * representation (allow-set as a sorted broadcast array; per-cell
    * one-beam-then-exact; tombstones compose; exhaustive regime forces
    * the exact path). Above [[HnswRouted.AllowCollectMax]] ids the
    * call reroutes through [[searchFilteredDistributed]] — no
    * driver-side copy at any size (the float tier's cutover). */
  def searchFiltered(index: RoutedCodeIndex, queries: DataFrame,
                     allowed: DataFrame, k: Int, nProbe: Int,
                     ef0: Int = 0): DataFrame =
    ranked(request(index, k, nProbe, ef0).filtered(queries, allowed), k)

  /** Fully distributed filtered serving — the float tier's
    * [[HnswRouted.searchFilteredDistributed]] on the code
    * representation: allow-set joined against the index's own
    * (id → cell) pairs, shuffled by the pinned partitioner, 3-way
    * zipPartitions with shards + routed queries; per-cell sorted allow
    * arrays built executor-side. */
  def searchFilteredDistributed(index: RoutedCodeIndex, queries: DataFrame,
                                allowed: DataFrame, k: Int, nProbe: Int,
                                ef0: Int = 0): DataFrame =
    ranked(request(index, k, nProbe, ef0).filteredDistributed(queries, allowed), k)

  /** Probe set for one query code: the nProbe nearest anchors by
    * Hamming distance, ties by anchor index. */
  private def probeCellsCode(qc: Long, anchors: Array[Long],
                             nProbe: Int): Iterator[Int] = {
    val byDist = Array.tabulate(anchors.length)(a => (a, hamming(qc, anchors(a))))
    java.util.Arrays.sort(byDist,
      Ordering.by[(Int, Int), (Int, Int)](x => (x._2, x._1)))
    byDist.iterator.take(nProbe).map(_._1)
  }

  /** Distributed query routing on the codes tier — the float tier's
    * [[HnswRouted.searchDistributed]] contract at 8 bytes/row: queries
    * stay a DataFrame, fan to their probe cells against the broadcast
    * anchors, and shuffle by the pinned partitioner while the shard
    * side rides narrow. [[search]] auto-selects this path above
    * [[HnswRouted.DriverRouteMax]] queries. */
  def searchDistributed(index: RoutedCodeIndex, queries: DataFrame, k: Int,
                        nProbe: Int, ef0: Int = 0): DataFrame =
    ranked(request(index, k, nProbe, ef0).distributed(queries, None), k)

  private def ranked(perShard: DataFrame, k: Int): DataFrame =
    RoutedServe.top(perShard, "hamming", k)

  /** One serve over the shared transport ([[RoutedServe]]) with the
    * shared predicated kernel ([[PredicatedCensus.serve]]) on the code
    * representation: the cell's codes, a beam on the cell's
    * [[OrdinalGraph]] view and the Hamming distance by ordinal (INTEGER
    * distances — ties are the common case, and the kernel's total (dist,
    * id) queue order carries the oracle's tie-breaking). The probe set
    * covering every cell is the exhaustive regime (forced exact scan). */
  private def request(index: RoutedCodeIndex, k: Int, nProbe: Int, ef0: Int) = {
    val params = index.params
    val exhaustive = nProbe >= index.anchors.length
    new RoutedServe.Request(CodeTier, index, nProbe, "hamming",
      (m: CodeCellShard, probes: Iterator[(Long, Long)], hasAllow: Boolean,
       allow: Array[Long], dead: Array[Long]) => {
        val view = m.view(params)
        PredicatedCensus.serve(m.form.store, probes, k,
          HnswRouted.cellEf(params, ef0, m.form.size), exhaustive, hasAllow, allow, dead)(
          (qc, kk, ef) => view.search(CodeQuery.hamming(qc), kk, ef),
          qc => view.distances(CodeQuery.hamming(qc)))
          .map { case (qid, id, d) => (qid, id, d.toInt) }
      })
  }

  /** Nest-safe process-wide memo of the catalog's lifecycle handles. */
  private val memo = new HandleMemo[RoutedCodeIndex](_.unpersist())

  private[hnsw] def releaseCaches(): Unit = memo.releaseAll()

  /** Memo key tail shared by every codes-tier handle. */
  private def paramKey(nCells: Int, seed: Long, params: HnswParams): Seq[Any] =
    Seq(nCells, seed, params.m.toList, params.mMax.toList,
      params.efConstrSearch.toList, params.efConstrInsert.toList,
      params.efSearch.toList, params.layerProbability)

  def buildCached(codes: DataFrame, params: HnswParams, nCells: Int,
                  seed: Long, key: String): RoutedCodeIndex =
    memo(HandleMemo.appId(codes), key +: paramKey(nCells, seed, params): _*)(
      graft.BuildLedger.timed("hnsw_routed_codes_build")(
        build(codes, params, nCells, seed)))

  /** Memoized save+attach round-trip — the catalog's durable-tier
    * serving handle for the code representation (built once, persisted
    * once, served from the ATTACHED copy so the oracle rides the
    * restore path). */
  def attachCached(codes: DataFrame, params: HnswParams, nCells: Int,
                   seed: Long, key: String): RoutedCodeIndex =
    memo(HandleMemo.appId(codes),
      Seq("attach", key) ++ paramKey(nCells, seed, params): _*)(
      graft.BuildLedger.timed("hnsw_routed_codes_save_attach") {
        val built = buildCached(codes, params, nCells, seed, key)
        val dir = graft.TempDirs.create("graft_routed_codes_")
        save(built, dir)
        attach(codes.sparkSession, dir)
      })

  /** Memoized build-then-ingest — the incremental-growth handle: the
    * base corpus builds, the tail INGESTS per cell, the grown index is
    * held to the same exhaustive-regime oracle as a from-scratch
    * build. */
  def growCached(baseCodes: DataFrame, newRows: DataFrame,
                 params: HnswParams, nCells: Int, seed: Long,
                 key: String): RoutedCodeIndex =
    memo(HandleMemo.appId(baseCodes),
      Seq("grow", key) ++ paramKey(nCells, seed, params): _*)(
      graft.BuildLedger.timed("hnsw_routed_codes_grow") {
        ingest(build(baseCodes, params, nCells, seed), newRows)
      })

  /** Memoized tombstone-serving handle over the SHARED cached build
    * ([[HnswRouted.deleteCached]]'s contract): delete is O(set) handle
    * metadata, the shards are the plain row's. */
  def deleteCached(codes: DataFrame, deleted: DataFrame,
                   params: HnswParams, nCells: Int, seed: Long,
                   key: String, delKey: String): RoutedCodeIndex =
    memo(HandleMemo.appId(codes),
      Seq("tomb", key, delKey) ++ paramKey(nCells, seed, params): _*)(
      delete(buildCached(codes, params, nCells, seed, key), deleted))

  /** Memoized compaction of the cached tombstoned index
    * ([[HnswRouted.compactCached]]'s contract — affected cells rebuild,
    * untouched cells pass through; the prior shards stay cached for the
    * sibling rows). */
  def compactCached(codes: DataFrame, deleted: DataFrame,
                    params: HnswParams, nCells: Int, seed: Long,
                    key: String, delKey: String): RoutedCodeIndex =
    memo(HandleMemo.appId(codes),
      Seq("compact", key, delKey) ++ paramKey(nCells, seed, params): _*)(
      graft.BuildLedger.timed("hnsw_routed_codes_compact") {
        compact(deleteCached(codes, deleted, params, nCells, seed, key, delKey),
          unpersistPrior = false)
      })
}
