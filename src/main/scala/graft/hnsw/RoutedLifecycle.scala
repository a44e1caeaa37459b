package graft.hnsw

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.store.{EntryPoint, GraphSnapshot, LayerCsr, OrdinalStore}

/** One routed cell: its id and its graph in the form it was grown in. */
trait RoutedCell {
  def cell: Int
  def form: OrdinalForm[_, _ <: OrdinalStore[_]]
  def snapshot: GraphSnapshot = form.snapshot
}

/** A routed index handle: the cell-keyed shards on their pinned
  * partitioner, the sorted deletion set, the patch overlays the handle
  * owns beyond `shards` (released with it), and the residency its images
  * persist at. `storage` is set once, by build or attach: every
  * lifecycle step that writes a new full image (ingest, compactions,
  * foldOverlay, retrain, the streaming rebase) persists at it, so a
  * DISK_ONLY index stays DISK_ONLY. Patch overlays persist at
  * MEMORY_AND_DISK: they hold only the rebuilt cells. */
trait RoutedHandle[S, I <: RoutedHandle[S, I]] {
  def shards: RDD[(Int, S)]
  def tombstones: Array[Long]
  def overlay: Seq[RDD[_]]
  def storage: StorageLevel
  /** This handle's identity (router, params, codebook, residency) over
    * new serving state. */
  private[graft] def withState(shards: RDD[(Int, S)], tombstones: Array[Long],
                               overlay: Seq[RDD[_]]): I
  def unpersist(): Unit = {
    overlay.foreach(_.unpersist())
    shards.unpersist()
  }
}

/** The routed serving tier, written once over its representation: the
  * float ([[HnswRouted]]), u64-code ([[HnswRoutedCodes]]) and PQ
  * ([[HnswRoutedPq]]) objects extend it and bind only what differs —
  * routing state and probe order, partitioner, query payload, the
  * per-shard serve kernel, member rows, the merged-cell audit kernel and
  * the image tables. Delete, the compactions, foldOverlay, the guards,
  * the merged-cell audit shell, presentIds/cellStats/warm, the
  * save/attach skeleton and the handle memo live here, once (hawk-pack's
  * one engine over a pluggable store, at the tier level).
  *
  * Tier objects are serializable modules: executor closures capture them
  * by module reference, so no member may hold executor-unsafe state. */
trait RoutedTier extends Serializable {
  import RoutedTier.Rebuild

  /** Cell shard, index handle, query/row payload, routing state. */
  type S <: RoutedCell
  type I <: RoutedHandle[S, I]
  type Q
  type P

  implicit protected def cellTag: ClassTag[S]
  implicit protected def routingTag: ClassTag[P]

  // ---- what each representation binds ----
  /** Error-message prefix and cache/ledger name ("routed", "routed-codes",
    * "routed-pq"). */
  private[graft] def tierName: String
  /** Row payload column ("vec" / "code"); queries carry it as "q" + it. */
  private[graft] def payloadCol: String
  /** (id, payload) encoder of rows and queries alike. */
  private[hnsw] def queryEnc: Encoder[(Long, Q)]
  /** The distance column of served rows ("dist" / "hamming" / "adc"). */
  private[hnsw] def distCol: String
  /** Routing state (router / anchors): used in place on the driver,
    * broadcast by the distributed paths. */
  private[hnsw] def routing(i: I): P
  /** The probe cells of one query — the SAME function on both routing
    * paths, so routing is path-independent. */
  private[graft] def probeCells(p: P, q: Q, nProbe: Int): Iterator[Int]
  /** The cell partitioner `i`'s routing state implies — what build and
    * attach pin, and what ingest routes by if the shards lost theirs. */
  protected def partitioner(i: I): Partitioner
  /** Per-shard serve kernel of `k` rows per (query, probed cell). */
  private[hnsw] def kernel(i: I, k: Int, nProbe: Int, ef0: Int): RoutedServe.Kernel[S, Q]
  /** A shard's members as (id, payload) rows — lazy. */
  protected def memberRows(i: I): S => Iterator[(Long, Q)]
  /** The merged-cell separability kernel over a cell's id-sorted member
    * rows → (hi_dead_bp, lo_dead_bp, dead_mass_hi_bp, merged). */
  protected def auditKernel(i: I, sampleMax: Int, iters: Int, kSplit: Int)
      : (Array[(Long, Q)], Long => Boolean, Int) => (Long, Long, Long, Boolean)
  /** The one real serve a covering-probe warm-up runs. */
  protected def warmServe(i: I, ef: Int): DataFrame => DataFrame
  /** The ingest a CDC stream applies (the prior image released). */
  private[graft] def streamIngest(i: I, rows: DataFrame): I
  /** The per-member payload table of the saved image. */
  private[hnsw] def payload: RoutedImage.Payload[S, _]
  /** The image's [[HnswParams]] and the tier's own meta fields. */
  protected def imageMeta(i: I): (HnswParams, Seq[(String, Any)])
  /** The tier's own image tables (router, anchors, codebook, ...). */
  protected def writeTables(i: I, spark: SparkSession, dir: String): Unit
  /** Rebuild a handle from image `dir` (its shards via [[RoutedImage.shards]]). */
  private[hnsw] def restore(spark: SparkSession, dir: String, meta: Row,
                        persist: Boolean, storage: StorageLevel): I
  /** Whether superseding unpersists block until reclaimed — true on the
    * DISK_ONLY-decade tier, where the superseded image is ~the index's
    * full footprint and racing the async cleaner risks 2x disk. */
  protected def unpersistBlocking: Boolean = false
  /** Remedy hint appended to the ingest resurrect fail-fast. */
  protected def resurrectHint: String = "Run compact() first (frees the ids), or route " +
    "through the CDC stream, which filters tombstoned inserts"

  private[hnsw] def cacheName: String = s"graft-hnsw-$tierName"
  private[hnsw] def queryCol: String = "q" + payloadCol

  // ---- serving ----

  /** One serve over the shared transport with this tier's kernel. */
  private[hnsw] def request(index: I, k: Int, nProbe: Int, ef0: Int): RoutedServe.Request[S, I, Q, P] =
    new RoutedServe.Request[S, I, Q, P](this, index, nProbe, kernel(index, k, nProbe, ef0))

  /** Which of `ids` (sorted ascending) are present in the index (any
    * cell) — one narrow broadcast scan of the shards' stored ids, no
    * shuffle: the CDC stream uses it to DROP redelivered ids where batch
    * ingest fail-fasts. Returns a sorted subset. */
  def presentIds(index: I, ids: Array[Long]): Array[Long] =
    if (ids.isEmpty) ids
    else {
      val idsB = index.shards.sparkContext.broadcast(ids)
      val hits = index.shards.flatMap { case (_, s) =>
        val a = idsB.value
        s.form.store.idIterator.filter(java.util.Arrays.binarySearch(a, _) >= 0)
      }.collect()
      java.util.Arrays.sort(hits); hits
    }

  /** Per-cell occupancy (cell, rows) — the drift audit and threshold
    * compaction stat (nCells rows collected). */
  def cellStats(index: I): Array[(Int, Long)] = RoutedOps.cellStats(index.shards)(_.form.size)

  /** Opt-in serving WARM-UP: one deserializing sweep of every shard
    * partition (base + overlay blocks of a patched composite), moving the
    * first serve's cold block reads (10-40x the steady band at the
    * DISK_ONLY decades, BASELINE rounds 14-15) off the serving path.
    * Serving results are untouched; returns the shard count. */
  def warm(index: I): Long =
    index.shards.mapPartitions({ it =>
      var n = 0L; it.foreach(_ => n += 1); Iterator.single(n)
    }, preservesPartitioning = true).fold(0L)(_ + _)

  /** Covering-probe warm-up: ONE real serve whose query batch holds one
    * member per cell — each query routes back to its own cell (the
    * router is frozen), so every cell runs its kernel and the whole
    * serving path (routing, codegen, broadcast, the kernel's JIT) runs
    * once off the serving path, which [[warm]]'s block sweep does not
    * pay. Returns the number of cells probed. */
  def warmProbe(index: I, ef: Int = 16): Long = {
    val rows = memberRows(index)
    val reps = index.shards.flatMap { case (cell, s) =>
      rows(s).take(1).map { case (_, q) => (cell.toLong, q) }
    }.collect()
    if (reps.nonEmpty) {
      val spark = SparkSession.active
      warmServe(index, ef)(spark.createDataset(reps.toSeq)(queryEnc).toDF("qid", queryCol))
        .count()
    }
    reps.length.toLong
  }

  // ---- lifecycle ----

  /** Tombstone delete — O(set) driver metadata: adds `ids` to the
    * deletion set and returns a handle SHARING the shards (no job beyond
    * collecting the id column). Serving excludes the set transparently;
    * tombstoned vertices still conduct the in-cell traversal. Deleting an
    * absent id is accepted and re-delete is idempotent, but the id joins
    * the set: a later ingest of it fail-fasts until a compaction clears
    * it (delete-wins). */
  def delete(index: I, ids: DataFrame): I = {
    val del = HnswRouted.sortedIdArray(ids)
    if (del.isEmpty) index
    else {
      val merged = (index.tombstones ++ del).distinct
      java.util.Arrays.sort(merged)
      index.withState(index.shards, merged, index.overlay)
    }
  }

  /** Materialize a patched index back into ONE persisted full image at
    * the handle's residency and release the overlay stack — the fold that
    * bounds patch depth. A handle with no overlay returns unchanged. */
  def foldOverlay(index: I): I =
    if (index.overlay.isEmpty) index
    else {
      val full = RoutedTier.materialize(index.shards.mapPartitions(it => it,
        preservesPartitioning = true), cacheName, index.storage)
      index.overlay.foreach(_.unpersist())
      index.withState(full, index.tombstones, Nil)
    }

  /** Merged-cell audit — detection for the regime the per-cell density
    * census cannot see: the router merged a DEAD cluster and a live one
    * into one cell, so it reads ~50% eligible cell-wide while a query on
    * the dead side has ~zero eligible among its nearest (the exact scan
    * every probe). One narrow pass, no shuffle: cells of at least
    * `minCellRows` members whose dead fraction lies in the band run the
    * tier's separability kernel
    * ([[MergedCellAudit]]: a deterministic `kSplit`-means seeded by the
    * dead and live means, then farthest points — k > 2 catches cells that
    * merged SEVERAL clusters). A cell is `merged` when ≥80%-pure-dead
    * components hold ≥80% of its dead mass beside a clearly-live one.
    * One row per audited cell: (cell, n, n_dead, dead_bp, hi_dead_bp,
    * lo_dead_bp, dead_mass_hi_bp, merged). The dead band is [10%, 90%];
    * the kernel samples at most 4096 members and runs 8 iterations of
    * 8-means. */
  def mergedCellAudit(index: I, minCellRows: Int = 1024): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    val (minDeadBp, maxDeadBp) = (1000, 9000)
    val tombB = index.shards.sparkContext.broadcast(index.tombstones)
    val (rows, audit) = (memberRows(index), auditKernel(index, sampleMax = 4096, iters = 8,
      kSplit = 8))
    index.shards.flatMap { case (cell, s) =>
      val dead = tombB.value
      val cellN = s.form.size
      if (dead.length == 0 || cellN < minCellRows) Iterator.empty
      else {
        val isDead: Long => Boolean = java.util.Arrays.binarySearch(dead, _) >= 0
        val nDead = s.form.store.idIterator.count(isDead)
        val deadBp = nDead * 10000L / cellN
        if (deadBp < minDeadBp || deadBp > maxDeadBp) Iterator.empty
        else {
          val (hiBp, loBp, massHiBp, merged) =
            audit(rows(s).toArray.sortBy(_._1), isDead, nDead)
          Iterator.single((cell, cellN.toLong, nDead.toLong, deadBp,
            hiBp, loBp, massHiBp, merged))
        }
      }
    }.collect().toSeq.toDF("cell", "n", "n_dead", "dead_bp",
      "hi_dead_bp", "lo_dead_bp", "dead_mass_hi_bp", "merged")
  }

  /** Detect-and-remediate: [[mergedCellAudit]] → targeted compaction of
    * the flagged cells with `rebuild`, PATCHED or full-copy. Returns the
    * remediated index (the input handle when nothing is flagged) and the
    * flagged cell ids. */
  protected def remediateBy(index: I, minCellRows: Int, persist: Boolean,
                            unpersistPrior: Boolean, patched: Boolean)(
      rebuild: => Rebuild[S]): (I, Array[Int]) = {
    val flagged = mergedCellAudit(index, minCellRows).filter(col("merged"))
      .select(col("cell")).collect().map(_.getInt(0))
    if (flagged.isEmpty) (index, flagged)
    else (compactCellsBy(index, flagged, rebuild, persist, unpersistPrior, patched), flagged)
  }

  /** Build's per-partition pass: ONE shuffle of the keyed rows onto the
    * pinned partitioner, then one fresh shard per cell (the partitioner
    * may co-locate cells) grown by the tier's kernel over the cell's
    * id-sorted rows — no driver round-trips, no cross-cell traffic.
    * Sorted, a duplicate id is adjacent: the fail-fast for callers that
    * skipped the id dedup (PQ `dedupIds = false`) — without it the second
    * insert would silently self-edge the graph. */
  protected def buildShards(keyed: RDD[(Int, (Long, Q))], part: Partitioner,
                            persist: Boolean, storage: StorageLevel)(
      grow: (Int, Option[S], Array[(Long, Q)]) => S): RDD[(Int, S)] = {
    val shards = keyed.partitionBy(part).mapPartitions({ it =>
      val byCell = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Q)]]
      it.foreach { case (cell, row) =>
        byCell.getOrElseUpdate(cell, mutable.ArrayBuffer.empty) += row }
      byCell.iterator.map { case (cell, buf) =>
        val rows = buf.toArray.sortBy(_._1)
        var i = 1
        while (i < rows.length) {
          require(rows(i)._1 != rows(i - 1)._1,
            s"$tierName build: duplicate id ${rows(i)._1} in cell $cell " +
              "(dedupe the source, or pass dedupIds = true)")
          i += 1
        }
        cell -> grow(cell, None, rows)
      }
    }, preservesPartitioning = true)
    if (persist) RoutedTier.materialize(shards, cacheName, storage) else shards
  }

  /** Incremental ingest: route the batch by cell and merge PER CELL —
    * each touched cell's graph absorbs its id-sorted slice with the
    * tier's grow kernel (copy-on-merge over the prior shard; a cell the
    * router knows but the index holds no shard for starts fresh). The
    * index side has a NARROW dependency on its pinned partitioner — only
    * the batch shuffles; untouched cells pass by reference. The batch is
    * id-deduped first (max(payload): a deterministic survivor) and must
    * be new to the INDEX: the guards below fail fast before any merge.
    * The deletion set survives ingest; the routing state is FROZEN
    * (drift recovery is retrain + rebuild). */
  protected def ingestWith(index: I, newRows: DataFrame, persist: Boolean,
                           unpersistPrior: Boolean)(
      route: DataFrame => RDD[(Int, (Long, Q))])(
      grow: (Int, Option[S], Array[(Long, Q)]) => S): I = {
    val deduped = newRows.select(col("id"), col(payloadCol))
      .groupBy(col("id")).agg(max(col(payloadCol)).as(payloadCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val batchIds = deduped.select(col("id")).as(Encoders.scalaLong).collect()
      java.util.Arrays.sort(batchIds)
      guardResurrect(index, batchIds)
      guardClashes(index, batchIds)
      val keyed = route(deduped)
        .partitionBy(index.shards.partitioner.getOrElse(partitioner(index)))
      val merged = index.shards.cogroup(keyed).mapPartitions({ it =>
        it.flatMap { case (cell, (ss, rows)) =>
          if (rows.isEmpty) ss.iterator.map(cell -> _)
          else Iterator.single(
            cell -> grow(cell, ss.headOption, rows.toArray.sortBy(_._1)))
        }
      }, preservesPartitioning = true)
      finishFull(index, merged, index.tombstones, persist, unpersistPrior)
    } finally { deduped.unpersist(blocking = false); () }
  }

  /** Whole-index compaction: rebuild ONLY the cells holding a tombstoned
    * id (untouched cells pass by reference — narrow pass on the pinned
    * partitioner). Returns the index with an empty deletion set
    * (folded-out ids can re-ingest) and the rebuilt/carried cell counts —
    * accumulators, so with `persist = false` only `forceCount` populates
    * them. `patched`: only the rebuilt cells persist — an overlay whose
    * untouched partitions are empty blocks; the served composite reads
    * the base's cached blocks everywhere else, so the base handle must
    * STAY cached; patches stack; [[foldOverlay]] bounds the stack. ONE
    * pass either way: each shard decides touched-ness itself and
    * rebuilds inline (a separate discovery pass read a DISK_ONLY index
    * twice — 74.7 s at 1e7, ~half in the scan). */
  protected def compactBy(index: I, rebuild: Rebuild[S], persist: Boolean,
                          unpersistPrior: Boolean, forceCount: Boolean = false,
                          patched: Boolean = false): (I, Long, Long) =
    if (index.tombstones.isEmpty) (index, 0L, 0L)
    else {
      require(!patched || index.shards.partitioner.isDefined,
        "patched compaction needs the index's pinned cell partitioner")
      // touched by the deletion set? probe the SMALLER side: a small
      // delete set against a big cell is |dead| O(1) lookups, not |cell|
      // binary searches
      val (fresh, rebuilt, carried) = rebuildPass(index, rebuild, index.shards,
        keep = !patched) { (_, s, dead) =>
        if (dead.length < s.form.size) dead.exists(s.form.store.ordinalOf(_) >= 0)
        else s.form.store.idIterator.exists(java.util.Arrays.binarySearch(dead, _) >= 0)
      }
      (if (patched) finishPatched(index, fresh, Array.empty[Long], persist)
       else finishFull(index, fresh, Array.empty[Long], persist, unpersistPrior, forceCount),
        rebuilt.value, carried.value)
    }

  /** Targeted compaction: fold the deletion set out of ONLY the listed
    * cells (the merged-cell remedy), shrinking the tombstone set by
    * exactly the ids that lived there. `patched`: O(touched) persisted
    * bytes — only the listed cells' partitions hold overlay blocks. */
  protected def compactCellsBy(index: I, cells: Array[Int], rebuild: Rebuild[S],
                               persist: Boolean, unpersistPrior: Boolean,
                               patched: Boolean = false): I =
    if (cells.isEmpty || index.tombstones.isEmpty) index
    else {
      val parts: Int => Boolean =
        if (!patched) _ => true
        else {
          val part = index.shards.partitioner.getOrElse(throw new IllegalStateException(
            "patched compaction needs the index's pinned cell partitioner"))
          cells.map(part.getPartition(_: Any)).toSet
        }
      // which tombstoned ids live in the listed cells — a pruned pass
      // bounded by the deletion set (each id lives in exactly one cell)
      val cellSet = cells.toSet
      val tombB = index.shards.sparkContext.broadcast(index.tombstones)
      val removed = HnswRouted.prunedShards(index.shards, cells).flatMap { case (cell, s) =>
        if (!cellSet(cell)) Iterator.empty
        else tombB.value.iterator.filter(s.form.store.ordinalOf(_) >= 0)
      }.collect()
      java.util.Arrays.sort(removed)
      val (fresh, _, _) = rebuildPass(index, rebuild,
        HnswRouted.prunedShards(index.shards, cells), keep = true, parts)(
        (cell, _, _) => cellSet(cell))
      val left = index.tombstones.filter(java.util.Arrays.binarySearch(removed, _) < 0)
      if (patched) finishPatched(index, fresh, left, persist)
      else finishFull(index, fresh, left, persist, unpersistPrior)
    }

  /** The compactions' one rebuild pass over the shards of the partitions
    * `parts` admits: a shard `pick` selects is rebuilt, the rest pass by
    * reference (`keep`) or drop out (a whole-index overlay). A fetching
    * rebuild first joins the picked cells' live ids — read from `scan`,
    * the shards the pick can select — against its table and rides the
    * rows to their cells' partitions (the only shuffle); the shard side
    * stays a narrow zip. Returns the pass and its rebuilt/carried cell
    * counters. */
  private def rebuildPass(index: I, rebuild: Rebuild[S], scan: RDD[(Int, S)],
                          keep: Boolean, parts: Int => Boolean = _ => true)(
      pick: (Int, S, Array[Long]) => Boolean)
      : (RDD[(Int, S)], LongAccumulator, LongAccumulator) = {
    val shards = index.shards
    val sc = shards.sparkContext
    val tombB = sc.broadcast(index.tombstones)
    val rebuilt = sc.longAccumulator(s"$tierName-compact-rebuilt")
    val carried = sc.longAccumulator(s"$tierName-compact-carried")
    val (grow, fetched) = (rebuild.cell, rebuild.fetch.isDefined)
    def pass(pi: Int, it: Iterator[(Int, S)],
             rows: Map[Int, Array[(Long, Array[Float])]]): Iterator[(Int, S)] =
      if (!parts(pi)) Iterator.empty
      else it.flatMap { case (cell, s) =>
        val dead = tombB.value
        if (pick(cell, s, dead)) {
          val live = rows.getOrElse(cell, Array.empty[(Long, Array[Float])])
          if (fetched) {
            val want = s.form.size - dead.count(s.form.store.ordinalOf(_) >= 0)
            require(live.length == want,
              s"$tierName compaction: cell $cell fetched ${live.length} " +
                s"survivor rows but the shard holds $want — the source " +
                "table is missing rows the index serves")
          }
          rebuilt.add(1)
          Iterator.single(cell -> grow(cell, s, dead, live))
        } else if (keep) { carried.add(1); Iterator.single(cell -> s) }
        else Iterator.empty
      }
    val out = rebuild.fetch match {
      case None =>
        shards.mapPartitionsWithIndex((pi, it) => pass(pi, it, Map.empty),
          preservesPartitioning = true)
      case Some(table) =>
        val part = shards.partitioner.getOrElse(throw new IllegalStateException(
          "a fetching compaction needs the index's pinned cell partitioner"))
        val live = scan.flatMap { case (cell, s) =>
          val dead = tombB.value
          if (!pick(cell, s, dead)) Iterator.empty
          else s.form.store.idIterator
            .filter(java.util.Arrays.binarySearch(dead, _) < 0).map(id => (id, cell))
        }
        val spark = table.sparkSession
        import spark.implicits._
        val rows = HnswRouted.keyedByCell(live.toDF("id", "cell")
          .join(table.select(col("id"), col("vec")), Seq("id"))).partitionBy(part)
        shards.zipPartitions(rows, preservesPartitioning = true) { (it, rs) =>
          val byCell = rs.toArray.groupBy(_._1).map { case (c, xs) =>
            c -> xs.map(_._2).sortBy(_._1) }
          pass(TaskContext.getPartitionId(), it, byCell)
        }
    }
    (out, rebuilt, carried)
  }

  /** Full-image epilogue of ingest and the full compactions: persist +
    * count the fresh shards at the handle's residency (or only count when
    * `forceCount` must populate counters), supersede the prior image when
    * asked, and carry the prior handle's overlay stack unless it was just
    * released — a caller that drops the prior reference must still be
    * able to release the cached patch blocks through the new handle. */
  private def finishFull(prior: I, fresh: RDD[(Int, S)], tombstones: Array[Long],
                         persist: Boolean, unpersistPrior: Boolean,
                         forceCount: Boolean = false): I = {
    val release = persist && unpersistPrior
    if (persist) RoutedTier.materialize(fresh, cacheName, prior.storage)
    else if (forceCount) fresh.count()
    if (release) {
      prior.shards.unpersist(blocking = unpersistBlocking)
      prior.overlay.foreach(_.unpersist())
    }
    prior.withState(fresh, tombstones, if (release) Nil else prior.overlay)
  }

  /** Patched epilogue: persist + count the overlay (only the touched
    * partitions hold bytes), compose — overlay wins per partition, NOT
    * persisted, one cheap branch per action — and TRACK the overlay in the
    * new handle even with persist = false (foldOverlay must still know a
    * patch layer exists; an unpersisted patch recomputes per action). */
  private def finishPatched(prior: I, overlay: RDD[(Int, S)], tombstones: Array[Long],
                            persist: Boolean): I = {
    if (persist)
      RoutedTier.materialize(overlay, cacheName + "-patch", StorageLevel.MEMORY_AND_DISK)
    val patched = prior.shards.zipPartitions(overlay, preservesPartitioning = true) { (b, o) =>
      val patch = o.toArray
      if (patch.isEmpty) b
      else {
        val replaced = patch.map(_._1).toSet
        patch.iterator ++ b.filter { case (c, _) => !replaced(c) }
      }
    }
    prior.withState(patched, tombstones, prior.overlay :+ overlay)
  }

  /** Tombstoned-id guard (driver-side, O(min set) — no job): a tombstoned
    * id's vertex was folded out of (or is dead in) its cell, so the clash
    * scan cannot see it — without this a deleted-then-absent id would
    * ingest, stay invisible to search, and be erased by the next
    * compaction. */
  private def guardResurrect(index: I, batchIds: Array[Long]): Unit = {
    val dead = index.tombstones
    val resurrect =
      if (dead.length < batchIds.length)
        dead.filter(id => java.util.Arrays.binarySearch(batchIds, id) >= 0)
      else batchIds.filter(id => java.util.Arrays.binarySearch(dead, id) >= 0)
    require(resurrect.isEmpty,
      s"$tierName ingest: ${resurrect.length} batch id(s) are tombstoned " +
        s"(e.g. id ${resurrect.headOption.getOrElse(-1L)}) — inserting " +
        "them now would land rows that search excludes and the next " +
        s"compaction erases. $resurrectHint")
  }

  /** GLOBAL duplicate-id guard (cross-cell): the per-cell merge only sees
    * an id's TARGET cell — an id already built into cell A, redelivered
    * with a drifted payload routing to cell B, would double-register. One
    * narrow broadcast scan of the shard key sets (no shuffle; per-shard
    * early exit at 3 hits). */
  private def guardClashes(index: I, batchIds: Array[Long]): Unit = {
    val idsB = index.shards.sparkContext.broadcast(batchIds)
    val clashes = index.shards.flatMap { case (cell, s) =>
      val ids = idsB.value
      s.form.store.idIterator
        .filter(id => java.util.Arrays.binarySearch(ids, id) >= 0)
        .take(3).map(id => (id, cell))
    }.take(5)
    require(clashes.isEmpty,
      s"$tierName ingest: ${clashes.length}+ batch id(s) already present " +
        s"in the index (e.g. id ${clashes.headOption.map(_._1).getOrElse(-1L)} " +
        s"lives in cell ${clashes.headOption.map(_._2).getOrElse(-1)}) — " +
        "re-inserting an id would corrupt its graph, and a drifted vector " +
        "routing to a different cell would double-register the id across " +
        "cells. Remove existing ids from the batch (left-anti on the " +
        "index) or rebuild to replace vectors")
  }

  // ---- durability ----

  /** Persist `index` under `path` as a new complete version (`idx_v{N}`,
    * `_DONE`-marked last; older versions reclaimed after — a crash
    * mid-save leaves junk that never resolves): the meta row (shared
    * [[HnswParams]] columns plus the tier's fields), the tier's own
    * tables, the payload rows, the per-cell graphs (links + entries) and
    * the live deletion set (restarts keep serving accepted deletes). */
  def save(index: I, path: String, keepVersions: Int = 1): Unit = {
    val (params, meta) = imageMeta(index)
    RoutedImage.save(index.shards, index.tombstones, path, keepVersions, params,
      meta, payload)(writeTables(index, _, _))
  }

  /** Restore the newest complete image under `path` WITHOUT rebuilding:
    * one co-partitioned cogroup of the payload, links and entries tables
    * (a parquet scan and CSR assembly — no training, no graph
    * construction), persisted at `storage` when `persist`; the handle
    * keeps that residency. */
  def attach(spark: SparkSession, path: String, persist: Boolean = true,
             storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): I = {
    val dir = VersionedIndexDirs.newestDone(spark, path)
    restore(spark, dir, spark.read.parquet(s"$dir/meta").collect().head, persist, storage)
  }

  // ---- the catalog's memoized handles ----

  private val memo = new HandleMemo[I](_.unpersist())

  private[hnsw] def releaseCaches(): Unit = memo.releaseAll()

  /** The handle memoized under (app, key parts), built by `mk` on a miss
    * and timed in the build ledger as `hnsw_<tier>_<op>` when `op` is
    * given. */
  protected def memoized(appId: String, op: String, parts: Any*)(mk: => I): I =
    memo(appId, parts: _*)(
      if (op.isEmpty) mk
      else graft.BuildLedger.timed(s"hnsw_${tierName.replace('-', '_')}_$op")(mk))

  /** A save → attach round trip of `built` — the catalog's durable-path
    * handle, served from the ATTACHED copy so the oracle rides the
    * restore path. */
  protected def roundTrip(built: I): I = {
    val dir = graft.TempDirs.create(s"graft_${tierName.replace('-', '_')}_")
    save(built, dir)
    attach(SparkSession.active, dir, storage = built.storage)
  }
}

object RoutedTier {
  /** A tier with its representation types fixed. */
  type Aux[S0 <: RoutedCell, I0 <: RoutedHandle[S0, I0], Q0, P0] =
    RoutedTier { type S = S0; type I = I0; type Q = Q0; type P = P0 }

  /** One compaction's cell rebuild: (cell, shard, sorted deletion set,
    * the cell's id-sorted fetched survivor rows) → the rebuilt shard. A
    * tier whose shards keep full-precision payloads rebuilds from the
    * shard itself ([[Rebuild.local]]; no rows are fetched). One whose
    * shards do not — PQ codes cannot rebuild a servable graph — names the
    * (id, vec) table to `fetch` its survivors from: the picked cells' live
    * ids join against it (one shuffle, restricted to those cells) and the
    * rows are count-checked against the shard. */
  final case class Rebuild[S](
      cell: (Int, S, Array[Long], Array[(Long, Array[Float])]) => S,
      fetch: Option[DataFrame] = None)

  object Rebuild {
    /** Local survivor rebuild: the cell grown fresh from its live rows by
      * the tier's build kernel — graph-identical to a fresh build of the
      * survivors, the "compaction preserves the served result" contract. */
    def local[S, R](rows: S => Iterator[(Long, R)])(
        grow: (Int, Option[S], Array[(Long, R)]) => S): Rebuild[S] =
      Rebuild((cell, s, dead, _) => grow(cell, None, rows(s)
        .filter { case (id, _) => java.util.Arrays.binarySearch(dead, id) < 0 }
        .toArray.sortBy(_._1)))
  }

  /** Persist + count a fresh image — the eager materialization every
    * persisted build, attach, ingest and compaction pays. */
  def materialize[S](rdd: RDD[(Int, S)], name: String,
                     storage: StorageLevel): RDD[(Int, S)] = {
    rdd.persist(storage).setName(name)
    rdd.count()
    rdd
  }
}

/** A tier whose cells hold the rows they serve and rebuild from (float
  * vectors, u64 codes): it grows, compacts and retrains from its own
  * shards, and serves top-k directly. The PQ tier, whose codes cannot
  * rebuild a servable graph, fetches survivor floats instead
  * ([[HnswRoutedPq]]'s `compactSolo*`) and re-ranks exactly. */
trait LocalRoutedTier extends RoutedTier {
  import RoutedTier.Rebuild

  /** The tier's one cell kernel for `index` — build, ingest and every
    * compaction rebuild grow a cell here. */
  protected def grow(index: I): (Int, Option[S], Array[(Long, Q)]) => S
  /** An (id, payload) batch keyed by its router cell. */
  protected def route(index: I): DataFrame => RDD[(Int, (Long, Q))]
  /** A fresh build over `rows` with `index`'s parameters and residency:
    * new routing state trained on `rows` (`nCells = 0` keeps the count). */
  protected def rebuildFrom(index: I, rows: DataFrame, nCells: Int,
                            persist: Boolean, maxCellRows: Long): I

  private def localRebuild(index: I): Rebuild[S] = Rebuild.local(memberRows(index))(grow(index))

  private[graft] def streamIngest(i: I, rows: DataFrame): I = ingest(i, rows)

  protected def warmServe(i: I, ef: Int): DataFrame => DataFrame =
    search(i, _, k = 1, nProbe = 1, ef0 = ef)

  /** Incremental ingest at the handle's residency (see [[ingestWith]]):
    * ids must be new to the INDEX, the prior image is released. */
  def ingest(index: I, newRows: DataFrame, persist: Boolean = true): I =
    ingestWith(index, newRows, persist, unpersistPrior = true)(route(index))(grow(index))

  /** Fold the deletion set out of the graphs: rebuild ONLY the cells that
    * hold a tombstoned id, fresh from their survivors (graph-identical to
    * a fresh build of the remaining rows); untouched cells pass by
    * reference. The result has an EMPTY deletion set, so compacted-away
    * ids can re-ingest. `unpersistPrior = false` keeps the input's shards
    * cached for callers serving both handles. */
  def compact(index: I, persist: Boolean = true, unpersistPrior: Boolean = true): I =
    compactBy(index, localRebuild(index), persist, unpersistPrior)._1

  /** Targeted compaction: fold the deletion set out of ONLY the listed
    * cells — the [[mergedCellAudit]] remedy — shrinking the tombstone set
    * by exactly the ids that lived there. A remediated cell is all live
    * again, so predicated serving takes the plain kernel on it. */
  def compactCells(index: I, cells: Array[Int], persist: Boolean = true,
                   unpersistPrior: Boolean = true): I =
    compactCellsBy(index, cells, localRebuild(index), persist, unpersistPrior)

  /** [[compactCells]] with O(touched) PERSISTED BYTES: only the rebuilt
    * cells persist, in an overlay; the served `shards` is an unpersisted
    * composite reading the base's cached blocks everywhere else (the
    * plain variant's full new image read 839.7 s to fold 3 of 1024 cells
    * at 1e8 — all block churn). The base index must STAY cached; patches
    * stack; fold them with [[foldOverlay]]. Serves row-identically to
    * [[compactCells]]. */
  def compactCellsPatched(index: I, cells: Array[Int], persist: Boolean = true): I =
    compactCellsBy(index, cells, localRebuild(index), persist, unpersistPrior = false,
      patched = true)

  /** Whole-index PATCHED compaction, touched cells derived from the
    * deletion set. It pays with a MEMORY-resident base (0.99-1.01x plain
    * serving at 4e5-1e7); at the 1e8 DISK_ONLY decade the fold cost the
    * full copy's ~840 s and the composite served 128 s vs 2.6 s
    * (BASELINE round-15) — prefer [[compact]] there. */
  def compactPatched(index: I, persist: Boolean = true): I =
    compactBy(index, localRebuild(index), persist, unpersistPrior = false, patched = true)._1

  /** Detect-and-remediate: [[mergedCellAudit]] → targeted compaction of
    * the flagged cells, PATCHED by default (the base stays cached and
    * keeps serving its own handle), the full-copy [[compactCells]] when
    * `patched = false` (`unpersistPrior` applies only there). */
  def remediateMergedCells(index: I, minCellRows: Int = 1024, persist: Boolean = true,
                           unpersistPrior: Boolean = true,
                           patched: Boolean = true): (I, Array[Int]) =
    remediateBy(index, minCellRows, persist, unpersistPrior, patched)(localRebuild(index))

  /** Drift RECOVERY — the global fold the drift alarm points at (ingest
    * never moves routing state): re-train the router on the index's
    * CURRENT corpus and rebuild from its own shards, at its residency.
    * Tombstones fold out; skewed cells rebalance; `nCells = 0` keeps the
    * current cell count. Exhaustive-regime results are unchanged by
    * construction. */
  def retrain(index: I, nCells: Int = 0, persist: Boolean = true,
              maxCellRows: Long = HnswRouted.DefaultMaxCellRows): I = {
    val (tombB, rows) = (index.shards.sparkContext.broadcast(index.tombstones), memberRows(index))
    val live = index.shards.flatMap { case (_, s) =>
      rows(s).filter { case (id, _) => java.util.Arrays.binarySearch(tombB.value, id) < 0 }
    }
    rebuildFrom(index, SparkSession.active.createDataset(live)(queryEnc).toDF("id", payloadCol),
      nCells, persist, maxCellRows)
  }

  /** The catalog's memoized handle family over one corpus `df`: `key`
    * the caller's key, `rest` the build parameters, `build` a fresh
    * build. Derived handles nest (compacted → deleted → built) and keep
    * serving the shared build. */
  protected final class Catalog(df: DataFrame, key: String, rest: Seq[Any], build: => I) {
    private val app = HandleMemo.appId(df)
    def built: I = memoized(app, "build", key +: rest: _*)(build)
    def grown(newRows: DataFrame): I =
      memoized(app, "grow", "grow" +: key +: rest: _*)(ingest(build, newRows))
    def attached: I = memoized(app, "save_attach", "attach" +: key +: rest: _*)(roundTrip(built))
    def deleted(rows: DataFrame, delKey: String): I =
      memoized(app, "", "tomb" +: key +: delKey +: rest: _*)(delete(built, rows))
    def compacted(rows: DataFrame, delKey: String): I =
      memoized(app, "compact", "compact" +: key +: delKey +: rest: _*)(
        compact(deleted(rows, delKey), unpersistPrior = false))
    def retrained(newRows: DataFrame): I =
      memoized(app, "retrain", "retrain" +: key +: rest: _*)(retrain(grown(newRows)))
  }

  /** The global top-k merge of the per-shard rows ([[RoutedServe.top]]). */
  protected def ranked(perShard: DataFrame, k: Int): DataFrame =
    RoutedServe.top(perShard, distCol, k)

  /** Routed k-NN: only the nProbe cells a query routes to see it;
    * per-cell HNSW answers top-k; one global (dist, id) merge. Returns
    * (qid, id, dist, rank). `ef0` widens ONLY the in-cell layer-0 beam;
    * 0 applies the density-adaptive [[HnswRouted.autoEf]] per cell. A
    * query batch above [[HnswRouted.DriverRouteMax]] reroutes through
    * [[searchDistributed]]. */
  def search(index: I, queries: DataFrame, k: Int, nProbe: Int, ef0: Int = 0): DataFrame =
    ranked(request(index, k, nProbe, ef0).routed(queries, None), k)

  /** Attribute-filtered routed k-NN: top-k among only the ids in
    * `allowed` (one id column), tombstones composing. Each probed cell
    * serves one overfetched beam with an exact in-cell fallback
    * ([[PredicatedCensus.serve]]); the exhaustive regime forces the exact
    * path. The allow-set is collected once per call while it fits
    * [[HnswRouted.AllowCollectMax]], else the call reroutes through
    * [[searchFilteredDistributed]]. */
  def searchFiltered(index: I, queries: DataFrame, allowed: DataFrame, k: Int,
                     nProbe: Int, ef0: Int = 0): DataFrame =
    ranked(request(index, k, nProbe, ef0).filtered(queries, allowed), k)

  /** [[searchFiltered]] with a pre-collected allow-set (sorted ascending,
    * duplicate-free) — the repeat-caller path. */
  def searchFilteredIds(index: I, queries: DataFrame, allowedIds: Array[Long], k: Int,
                        nProbe: Int, ef0: Int = 0): DataFrame =
    ranked(request(index, k, nProbe, ef0).routed(queries, Some(allowedIds)), k)

  /** Fully distributed filtered serving — no driver copy of the query
    * batch or the allow-set: the allow-set joins the index's own
    * (id → cell) pairs and rides a 3-way zipPartitions with the shards
    * and the routed queries. Row-identical to [[searchFiltered]]. */
  def searchFilteredDistributed(index: I, queries: DataFrame, allowed: DataFrame,
                                k: Int, nProbe: Int, ef0: Int = 0): DataFrame =
    ranked(request(index, k, nProbe, ef0).filteredDistributed(queries, allowed), k)

  /** Distributed query routing — the BATCH-side path: queries stay a
    * DataFrame, fan out to their probe cells against the broadcast
    * routing state, and the ONLY shuffle is the query side, keyed by the
    * pinned partitioner. Row-identical to [[search]]. */
  def searchDistributed(index: I, queries: DataFrame, k: Int, nProbe: Int,
                        ef0: Int = 0): DataFrame =
    searchImplDistributed(index, queries, k, nProbe, ef0, allowed = None)

  private[hnsw] def searchImplDistributed(index: I, queries: DataFrame, k: Int,
      nProbe: Int, ef0: Int, allowed: Option[Array[Long]]): DataFrame =
    ranked(request(index, k, nProbe, ef0).distributed(queries, allowed), k)
}

/** Process-wide, nest-safe memo of one tier's catalog handles (the
  * shardCache pattern), keyed by app id so a handle of a stopped
  * SparkContext is never served. NOT computeIfAbsent: the lifecycle
  * handles nest (compactCached → deleteCached → buildCached), and
  * nested computeIfAbsent on one ConcurrentHashMap throws "Recursive
  * update" — get/putIfAbsent trades atomic insertion (never contended
  * here: the catalog serves queries sequentially) for safe nesting. */
private[graft] final class HandleMemo[I <: AnyRef](release: I => Unit) {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, I]()

  /** The handle memoized under `appId|parts...`, built by `mk` on a miss. */
  def apply(appId: String, parts: Any*)(mk: => I): I = {
    val key = (appId +: parts).mkString("|")
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val v = mk
      val prev = cache.putIfAbsent(key, v)
      // losing the (theoretical) race leaves v's shards persisted and
      // materialized but unreachable — release them, don't leak the
      // executor storage pool
      if (prev != null) { release(v); prev } else v
    }
  }

  /** Release every memoized handle (see [[IndexCaches]]). Lifecycle
    * handles SHARE shard RDDs (deleteCached wraps buildCached's), so
    * double-unpersist is possible and harmless (idempotent). */
  def releaseAll(): Unit = {
    cache.values.forEach(v => release(v))
    cache.clear()
  }
}

private[graft] object HandleMemo {
  def appId(df: DataFrame): String = df.sparkSession.sparkContext.applicationId
}

/** The tiers' versioned parquet images ([[VersionedIndexDirs]]
  * discipline): ONE save/attach skeleton — the meta row, the tier's
  * payload table, the graph tables (links + entries) and their CSR
  * reassembly, the tombstone set and the commit — plus the shared router
  * table. Each tier keeps only its own tables (router/anchors, codebook,
  * fingerprints) and its shard constructor. */
private[hnsw] object RoutedImage {

  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

  private val linkRowEnc: Encoder[(Int, Int, Long, Array[Long], Array[Double])] =
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaLong,
      ExpressionEncoder[Array[Long]](), ExpressionEncoder[Array[Double]]())
  private val entryRowEnc: Encoder[(Int, Long, Int)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaInt)
  val codeRowEnc: Encoder[(Int, Long, Long)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaLong)

  /** A tier's per-member payload table: one (cell, id, payload) row per
    * member ("vectors"/"vec" or "codes"/"code"); `rows` walks a shard's
    * members. */
  final case class Payload[S, R](table: String, column: String,
                                 enc: Encoder[(Int, Long, R)],
                                 rows: S => Iterator[(Long, R)])

  /** See [[RoutedTier.save]]: meta, the tier's `tables(spark, dir)`, the
    * payload rows, the graphs and the tombstones, then the commit. */
  def save[S <: RoutedCell, R](shards: RDD[(Int, S)], tombstones: Array[Long],
      path: String, keepVersions: Int, params: HnswParams, meta: Seq[(String, Any)],
      payload: Payload[S, R])(tables: (SparkSession, String) => Unit): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    val dir = VersionedIndexDirs.nextDir(spark, path)
    val p = params
    meta.foldLeft(Seq((p.m.toSeq, p.mMax.toSeq, p.efConstrSearch.toSeq,
        p.efConstrInsert.toSeq, p.efSearch.toSeq, p.layerProbability))
      .toDF("m", "m_max", "ef_constr_search", "ef_constr_insert", "ef_search",
        "layer_probability")) { case (df, (k, v)) => df.withColumn(k, lit(v)) }
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    tables(spark, dir)
    val rows = payload.rows
    spark.createDataset(shards.flatMap { case (cell, s) =>
      rows(s).map { case (id, v) => (cell, id, v) }
    })(payload.enc).toDF("cell", "id", payload.column)
      .write.mode("overwrite").parquet(s"$dir/${payload.table}")
    writeGraph(spark, dir, shards)
    tombstones.toSeq.toDF("id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/tombstones")
    VersionedIndexDirs.commit(spark, path, dir, keepVersions)
  }

  /** Restore image `dir`'s shards WITHOUT rebuilding: one co-partitioned
    * cogroup of the payload, links and entries tables under `part`, one
    * shard per cell from `mk` (cell, payload rows, snapshot); persisted +
    * counted at `storage` when `persist`. preservesPartitioning: the
    * restored shards must keep the pinned partitioner, or the first
    * post-attach ingest would shuffle the whole INDEX side. Presence: a
    * save writes one entries row per shard, so a zero-member cell (every
    * member deleted and compacted) comes back too; `present` names the
    * cells an older image records elsewhere (the PQ fingerprints table),
    * restored empty when no table row names them. */
  def shards[S: ClassTag, R](cacheName: String, spark: SparkSession, dir: String,
      payload: Payload[S, R], part: Partitioner, persist: Boolean,
      storage: StorageLevel, present: Set[Int] = Set.empty)(
      mk: (Int, Iterable[(Long, R)], GraphSnapshot) => S): RDD[(Int, S)] = {
    val rows = spark.read.parquet(s"$dir/${payload.table}")
      .select(col("cell"), col("id"), col(payload.column)).as(payload.enc).rdd
      .map { case (c, id, v) => (c, (id, v)) }
    val out = rows.cogroup(readLinks(spark, dir), readEntries(spark, dir), part)
      .mapPartitionsWithIndex({ (pi, it) =>
        val seen = mutable.Set.empty[Int]
        it.map { case (cell, (vs, ls, es)) =>
          seen += cell
          cell -> mk(cell, vs, assembleSnapshot(ls, es))
        } ++ present.iterator
          .filter(c => !seen(c) && part.getPartition(c) == pi)
          .map(c => c -> mk(c, Nil, assembleSnapshot(Nil, Nil)))
      }, preservesPartitioning = true)
    if (persist) RoutedTier.materialize(out, cacheName, storage) else out
  }

  /** Write the per-cell graphs as the links + entries tables. Entries
    * hold ONE row per shard: an empty cell (no entry point) writes
    * layer -1, which records its presence for attach. */
  private def writeGraph[S <: RoutedCell](spark: SparkSession, dir: String,
                                          shards: RDD[(Int, S)]): Unit = {
    spark.createDataset(shards.flatMap { case (cell, s) =>
      s.form.snapshot.layers.iterator.zipWithIndex.flatMap { case (csr, lc) =>
        csr.entriesIterator.map { case (src, dsts, dists) =>
          (cell, lc, src, dsts, dists)
        }
      }
    })(linkRowEnc).toDF("cell", "layer", "src", "dsts", "dists")
      .write.mode("overwrite").parquet(s"$dir/links")

    spark.createDataset(shards.map { case (cell, s) =>
      s.form.entryPoint.fold((cell, -1L, -1))(ep => (cell, ep.point, ep.layer))
    })(entryRowEnc).toDF("cell", "point", "layer")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/entries")
  }

  private def readLinks(spark: SparkSession, dir: String)
      : RDD[(Int, (Int, Long, Array[Long], Array[Double]))] =
    spark.read.parquet(s"$dir/links")
      .select(col("cell"), col("layer"), col("src"), col("dsts"), col("dists"))
      .as(linkRowEnc).rdd
      .map { case (c, lc, src, dsts, dists) => (c, (lc, src, dsts, dists)) }

  private def readEntries(spark: SparkSession, dir: String): RDD[(Int, (Long, Int))] =
    spark.read.parquet(s"$dir/entries")
      .select(col("cell"), col("point"), col("layer")).as(entryRowEnc).rdd
      .map { case (c, pt, l) => (c, (pt, l)) }

  /** One cell's CSR reassembly from its cogrouped link/entry rows (a
    * presence row's layer -1 is no entry point). */
  private def assembleSnapshot(ls: Iterable[(Int, Long, Array[Long], Array[Double])],
                               es: Iterable[(Long, Int)]): GraphSnapshot = {
    val entry = es.find(_._2 >= 0).map { case (pt, l) => EntryPoint(pt, l) }
    val nLayers = math.max(
      ls.iterator.map(_._1 + 1).maxOption.getOrElse(0),
      entry.map(_.layer + 1).getOrElse(0))
    val layers = Array.fill(nLayers)(
      mutable.Map.empty[Long, (Array[Long], Array[Double])])
    ls.foreach { case (lc, src, dsts, dists) => layers(lc)(src) = (dsts, dists) }
    GraphSnapshot(entry, layers.map(m => LayerCsr.fromMap(m.toMap)))
  }

  /** The [[HnswParams]] fields of a meta row (shared column names). */
  def paramsFromMeta(meta: Row): HnswParams =
    HnswParams(
      meta.getAs[Seq[Int]]("m").toArray,
      meta.getAs[Seq[Int]]("m_max").toArray,
      meta.getAs[Seq[Int]]("ef_constr_search").toArray,
      meta.getAs[Seq[Int]]("ef_constr_insert").toArray,
      meta.getAs[Seq[Int]]("ef_search").toArray,
      meta.getAs[Double]("layer_probability"))

  /** Two-level centroid table of a [[HnswRouted.Router]] (primary rows
    * carry parent = -1; sub-quantizer rows their parent cell). */
  def writeRouter(spark: SparkSession, dir: String,
                  router: HnswRouted.Router): Unit = {
    import spark.implicits._
    val cRows =
      router.primary.centroids.zipWithIndex.map { case (c, i) =>
        (-1, i, c.toSeq) } ++
      router.sub.toSeq.flatMap { case (parent, m) =>
        m.centroids.zipWithIndex.map { case (c, i) => (parent, i, c.toSeq) } }
    cRows.toSeq.toDF("parent", "idx", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  def readRouter(spark: SparkSession, dir: String,
                 metric: String): HnswRouted.Router = {
    val cent = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getAs[Seq[Float]](2).toArray))
    val primary = graft.operators.Ivf.IvfModel(
      cent.filter(_._1 == -1).sortBy(_._2).map(_._3), metric)
    val sub = cent.filter(_._1 >= 0).groupBy(_._1).map { case (p, rows) =>
      p -> graft.operators.Ivf.IvfModel(rows.sortBy(_._2).map(_._3), metric)
    }
    HnswRouted.Router(primary, sub)
  }

  /** Absent tombstones table = pre-lifecycle image = empty set. */
  def readTombstones(spark: SparkSession, dir: String): Array[Long] = {
    val tombPath = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    if (VersionedIndexDirs.fsOf(spark, dir).exists(tombPath)) {
      val t = spark.read.parquet(s"$dir/tombstones").collect()
        .map(_.getLong(0))
      java.util.Arrays.sort(t); t
    } else Array.empty[Long]
  }
}
