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

/** One tier's binding into the SHARED routed lifecycle
  * ([[RoutedLifecycle]]): the float ([[HnswRouted]]), u64-code
  * ([[HnswRoutedCodes]]) and PQ ([[HnswRoutedPq]]) serving tiers supply
  * only their representation — routing, one per-cell grow kernel
  * (build, ingest and compaction rebuilds all run it) and a payload
  * table. Ingest, the four compactions, foldOverlay, the guards, the
  * persist/overlay bookkeeping and the save/attach skeleton
  * ([[RoutedImage]]) are ONE implementation parameterized by this
  * trait — the [[PredicatedCensus]] / [[MergedCellAudit]] /
  * [[RoutedOps]] extraction discipline applied to the whole lifecycle.
  * These existed as three hand-synced textual families; the round-15
  * failure mode — one fix applied N times by hand misses a copy —
  * burned this repo twice before the unification.
  *
  * Instances are serializable SINGLETON objects (executor closures
  * capture them by module reference); every member method must stay
  * free of driver-only state. */
private[graft] trait RoutedTier[S, I] extends Serializable {
  // ---- handle surface (driver-side) ----
  def shards(i: I): RDD[(Int, S)]
  def tombstones(i: I): Array[Long]
  def overlays(i: I): Seq[RDD[_]]
  /** New handle: `i`'s identity fields (router/params/codebook/...),
    * fresh serving state. */
  def make(i: I, shards: RDD[(Int, S)], tombstones: Array[Long],
           overlays: Seq[RDD[_]]): I
  /** The cell partitioner `i`'s routing state implies — what build and
    * attach pin, and what ingest routes by if the shards lost theirs. */
  def partitioner(i: I): Partitioner
  /** Persisted-RDD display name ("graft-hnsw-routed" etc). */
  def cacheName: String
  /** Error-message prefix ("routed" / "routed-codes" / "routed-pq"). */
  def tierName: String
  /** Whether superseding unpersists block until reclaimed — true on
    * the DISK_ONLY-decade tier, where the superseded image is ~the
    * index's full footprint and racing the async cleaner risks 2x
    * disk. */
  def unpersistBlocking: Boolean
  /** Remedy hint appended to the ingest resurrect fail-fast. */
  def resurrectHint: String
  // ---- shard surface (executor-side) ----
  /** The shard's graph in its serving form. */
  def form(s: S): OrdinalForm[_, _ <: OrdinalStore[_]]
  final def memberCount(s: S): Int = form(s).size
  final def containsId(s: S, id: Long): Boolean = form(s).store.ordinalOf(id) >= 0
  /** LAZY member-id walk — callers `exists`/`take` without paying a
    * full-table foreach. */
  final def idIterator(s: S): Iterator[Long] = form(s).store.idIterator
}

/** The shared lifecycle over [[RoutedTier]] — every function here is
  * the former per-tier body, verbatim modulo the trait indirection
  * (hash-parity pinned by the tiers' existing specs + the 172-row
  * oracle catalog). */
private[graft] object RoutedLifecycle {

  /** One compaction's cell rebuild: (cell, shard, sorted deletion set,
    * the cell's id-sorted fetched survivor rows) → the rebuilt shard.
    * A tier whose shards keep full-precision payloads rebuilds from the
    * shard itself ([[Rebuild.local]]; no rows are fetched). One whose
    * shards do not — PQ codes cannot rebuild a servable graph — names
    * the (id, vec) table to `fetch` its survivors from: the picked
    * cells' live ids join against it (one shuffle, restricted to those
    * cells) and the rows are count-checked against the shard. */
  final case class Rebuild[S](
      cell: (Int, S, Array[Long], Array[(Long, Array[Float])]) => S,
      fetch: Option[DataFrame] = None)

  object Rebuild {
    /** Local survivor rebuild: the cell grown fresh from its live rows
      * (`rows` walks a shard's members) by the tier's build kernel —
      * graph-identical to a fresh build of the survivors, the
      * "compaction preserves the served result" contract. */
    def local[S, R](rows: S => Iterator[(Long, R)])(
        grow: (Int, Option[S], Array[(Long, R)]) => S): Rebuild[S] =
      Rebuild((cell, s, dead, _) => grow(cell, None, rows(s)
        .filter { case (id, _) => java.util.Arrays.binarySearch(dead, id) < 0 }
        .toArray.sortBy(_._1)))
  }

  /** Is this shard touched by the deletion set? Probes the SMALLER
    * side: a small delete set against a big cell is |dead| O(1) map
    * lookups, not |cell| binary searches (at 1e8 rows / 1e4 deletes
    * that is the difference between scanning the corpus and scanning
    * the batch). */
  @inline private def touchedBy[S](t: RoutedTier[S, _], s: S, dead: Array[Long]): Boolean =
    if (dead.length < t.memberCount(s)) dead.exists(id => t.containsId(s, id))
    else t.idIterator(s).exists(id =>
      java.util.Arrays.binarySearch(dead, id) >= 0)

  /** Persist + count a fresh image — the eager materialization every
    * persisted build, attach, ingest and compaction pays. */
  def materialize[S](rdd: RDD[(Int, S)], name: String,
                     storage: StorageLevel): RDD[(Int, S)] = {
    rdd.persist(storage).setName(name)
    rdd.count()
    rdd
  }

  /** Build's per-partition pass: ONE shuffle of the keyed rows onto the
    * pinned partitioner, then one fresh shard per cell (the partitioner
    * may co-locate cells) grown by the tier's kernel over the cell's
    * id-sorted rows — no driver round-trips, no cross-cell traffic.
    * Sorted, a duplicate id is adjacent: the fail-fast for callers that
    * skipped the id dedup (PQ `dedupIds = false`) — without it the
    * second insert would silently self-edge the graph. */
  def build[S, R](t: RoutedTier[S, _], keyed: RDD[(Int, (Long, R))],
                  part: Partitioner, persist: Boolean, storage: StorageLevel)(
      grow: (Int, Option[S], Array[(Long, R)]) => S): RDD[(Int, S)] = {
    val tier = t.tierName
    val shards = keyed.partitionBy(part).mapPartitions({ it =>
      val byCell = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, R)]]
      it.foreach { case (cell, row) =>
        byCell.getOrElseUpdate(cell, mutable.ArrayBuffer.empty) += row }
      byCell.iterator.map { case (cell, buf) =>
        val rows = buf.toArray.sortBy(_._1)
        var i = 1
        while (i < rows.length) {
          require(rows(i)._1 != rows(i - 1)._1,
            s"$tier build: duplicate id ${rows(i)._1} in cell $cell " +
              "(dedupe the source, or pass dedupIds = true)")
          i += 1
        }
        cell -> grow(cell, None, rows)
      }
    }, preservesPartitioning = true)
    if (persist) materialize(shards, t.cacheName, storage) else shards
  }

  /** Incremental ingest: route the batch by cell and merge PER CELL —
    * each touched cell's graph absorbs its id-sorted slice with the
    * tier's grow kernel (the build kernel, copy-on-merge over the prior
    * shard; a cell the router knows but the index holds no shard for
    * starts fresh). The index side has a NARROW dependency on its
    * pinned partitioner — only the batch shuffles, never the corpus;
    * untouched cells pass by reference. The batch is id-deduped first
    * (max(payload): a deterministic survivor) and must be new to the
    * INDEX: the fail-fast guards below run before any merge. The
    * deletion set survives ingest (dropping it would silently resurrect
    * deleted ids after the next insert batch — caught by the CDC spec);
    * the epilogue is [[finishFull]]'s. */
  def ingest[S: ClassTag, I, R](t: RoutedTier[S, I])(
      index: I, newRows: DataFrame, payload: String, persist: Boolean,
      unpersistPrior: Boolean, storage: StorageLevel)(
      route: DataFrame => RDD[(Int, (Long, R))])(
      grow: (Int, Option[S], Array[(Long, R)]) => S): I = {
    val deduped = newRows.select(col("id"), col(payload))
      .groupBy(col("id")).agg(max(col(payload)).as(payload))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val batchIds = deduped.select(col("id")).as(Encoders.scalaLong).collect()
      java.util.Arrays.sort(batchIds)
      guardResurrect(t)(index, batchIds)
      guardClashes(t)(index, batchIds)
      val shards = t.shards(index)
      val keyed = route(deduped)
        .partitionBy(shards.partitioner.getOrElse(t.partitioner(index)))
      val merged = shards.cogroup(keyed).mapPartitions({ it =>
        it.flatMap { case (cell, (ss, rows)) =>
          if (rows.isEmpty) ss.iterator.map(cell -> _)
          else Iterator.single(
            cell -> grow(cell, ss.headOption, rows.toArray.sortBy(_._1)))
        }
      }, preservesPartitioning = true)
      finishFull(t)(index, merged, t.tombstones(index), persist,
        unpersistPrior, storage)
    } finally { deduped.unpersist(blocking = false); () }
  }

  /** Tombstone delete — O(set) driver metadata, shards shared with the
    * prior handle (no RDD job beyond collecting the id column).
    * Deleting an absent id is accepted (delete-wins); re-delete is
    * idempotent. */
  def delete[S, I](t: RoutedTier[S, I])(index: I, ids: DataFrame): I = {
    val del = HnswRouted.sortedIdArray(ids)
    if (del.isEmpty) index
    else t.make(index, t.shards(index),
      RoutedOps.mergeTombstones(t.tombstones(index), del), t.overlays(index))
  }

  /** Whole-index compaction: rebuild ONLY the cells holding a
    * tombstoned id (untouched cells pass by reference — narrow pass on
    * the pinned partitioner, cost proportional to affected cells).
    * Returns the index with an empty deletion set (folded-out ids can
    * re-ingest) and the rebuilt/carried cell counts — accumulators, so
    * with `persist = false` only `forceCount` populates them. */
  def compact[S: ClassTag, I](t: RoutedTier[S, I])(
      index: I, rebuild: Rebuild[S], persist: Boolean, unpersistPrior: Boolean,
      storage: StorageLevel, forceCount: Boolean = false): (I, Long, Long) =
    if (t.tombstones(index).isEmpty) (index, 0L, 0L)
    else {
      val tt = t
      val (fresh, rebuilt, carried) = rebuildPass(t)(index, rebuild,
        t.shards(index), keep = true)((_, s, dead) => touchedBy(tt, s, dead))
      (finishFull(t)(index, fresh, Array.empty[Long], persist, unpersistPrior,
        storage, forceCount), rebuilt.value, carried.value)
    }

  /** Targeted compaction: fold the deletion set out of ONLY the listed
    * cells (the merged-cell remedy), shrinking the tombstone set by
    * exactly the ids that lived there. */
  def compactCells[S: ClassTag, I](t: RoutedTier[S, I])(
      index: I, cells: Array[Int], rebuild: Rebuild[S], persist: Boolean,
      unpersistPrior: Boolean, storage: StorageLevel): I =
    if (cells.isEmpty || t.tombstones(index).isEmpty) index
    else {
      val removed = collectRemoved(t)(index, cells)
      val cellSet = cells.toSet
      val (fresh, _, _) = rebuildPass(t)(index, rebuild,
        HnswRouted.prunedShards(t.shards(index), cells), keep = true)(
        (cell, _, _) => cellSet(cell))
      finishFull(t)(index, fresh, remaining(t.tombstones(index), removed),
        persist, unpersistPrior, storage)
    }

  /** Whole-index PATCHED compaction (touched cells self-detected):
    * only the rebuilt cells persist — an overlay RDD whose untouched
    * partitions are empty blocks; the served composite reads the
    * base's cached blocks everywhere else. The base handle must STAY
    * cached and keeps serving its own answer; patches stack;
    * [[foldOverlay]] bounds the stack. ONE pass: each shard decides
    * touched-ness itself and rebuilds inline — a separate discovery
    * pass would read the (possibly DISK_ONLY) index a second time for
    * nothing (measured: the two-pass form cost 74.7 s at 1e7, ~half in
    * the membership scan). */
  def compactPatched[S: ClassTag, I](t: RoutedTier[S, I])(
      index: I, rebuild: Rebuild[S], persist: Boolean): I =
    if (t.tombstones(index).isEmpty) index
    else {
      require(t.shards(index).partitioner.isDefined,
        "patched compaction needs the index's pinned cell partitioner")
      val tt = t
      val (overlay, _, _) = rebuildPass(t)(index, rebuild, t.shards(index),
        keep = false)((_, s, dead) => touchedBy(tt, s, dead))
      finishPatched(t)(index, overlay, Array.empty[Long], persist)
    }

  /** Targeted PATCHED compaction — [[compactCells]] with O(touched)
    * persisted bytes: only the listed cells' partitions hold overlay
    * blocks. */
  def compactCellsPatched[S: ClassTag, I](t: RoutedTier[S, I])(
      index: I, cells: Array[Int], rebuild: Rebuild[S], persist: Boolean): I =
    if (cells.isEmpty || t.tombstones(index).isEmpty) index
    else {
      val part = t.shards(index).partitioner.getOrElse(throw new IllegalStateException(
        "patched compaction needs the index's pinned cell partitioner"))
      val touchedParts = cells.map(part.getPartition(_: Any)).toSet
      val removed = collectRemoved(t)(index, cells)
      val cellSet = cells.toSet
      val (overlay, _, _) = rebuildPass(t)(index, rebuild,
        HnswRouted.prunedShards(t.shards(index), cells), keep = true,
        touchedParts)((cell, _, _) => cellSet(cell))
      finishPatched(t)(index, overlay, remaining(t.tombstones(index), removed),
        persist)
    }

  /** The compactions' one rebuild pass over the shards of the
    * partitions `parts` admits: a shard `pick` selects is rebuilt, the
    * rest pass by reference (`keep`) or drop out (a whole-index
    * overlay). A fetching rebuild first joins the picked cells' live
    * ids — read from `scan`, the shards the pick can select — against
    * its table and rides the rows to their cells' partitions (the only
    * shuffle); the shard side stays a narrow zip. Returns the pass and
    * its rebuilt/carried cell counters. */
  private def rebuildPass[S: ClassTag, I](t: RoutedTier[S, I])(
      index: I, rebuild: Rebuild[S], scan: RDD[(Int, S)], keep: Boolean,
      parts: Int => Boolean = _ => true)(
      pick: (Int, S, Array[Long]) => Boolean)
      : (RDD[(Int, S)], LongAccumulator, LongAccumulator) = {
    val shards = t.shards(index)
    val sc = shards.sparkContext
    val tombB = sc.broadcast(t.tombstones(index))
    val rebuilt = sc.longAccumulator(s"${t.tierName}-compact-rebuilt")
    val carried = sc.longAccumulator(s"${t.tierName}-compact-carried")
    val (tt, grow, fetched) = (t, rebuild.cell, rebuild.fetch.isDefined)
    def pass(pi: Int, it: Iterator[(Int, S)],
             rows: Map[Int, Array[(Long, Array[Float])]]): Iterator[(Int, S)] =
      if (!parts(pi)) Iterator.empty
      else it.flatMap { case (cell, s) =>
        val dead = tombB.value
        if (pick(cell, s, dead)) {
          val live = rows.getOrElse(cell, Array.empty[(Long, Array[Float])])
          if (fetched) {
            val want = tt.memberCount(s) - dead.count(tt.containsId(s, _))
            require(live.length == want,
              s"${tt.tierName} compaction: cell $cell fetched ${live.length} " +
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
          else tt.idIterator(s)
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

  private def remaining(tombstones: Array[Long], removed: Array[Long]): Array[Long] =
    tombstones.filter(id => java.util.Arrays.binarySearch(removed, id) < 0)

  /** Materialize a patched index back into ONE persisted full image and
    * release the overlay stack — the fold that bounds patch depth. */
  def foldOverlay[S, I](t: RoutedTier[S, I])(
      index: I, storage: StorageLevel): I =
    if (t.overlays(index).isEmpty) index
    else {
      val full = materialize(t.shards(index).mapPartitions(it => it,
        preservesPartitioning = true), t.cacheName, storage)
      t.overlays(index).foreach(_.unpersist())
      t.make(index, full, t.tombstones(index), Nil)
    }

  /** The index's live (id, payload) rows — the corpus a retrain
    * rebuilds from (tombstones fold out here). */
  def liveRows[S, I, R](t: RoutedTier[S, I])(
      index: I, rows: S => Iterator[(Long, R)]): RDD[(Long, R)] = {
    val tombB = t.shards(index).sparkContext.broadcast(t.tombstones(index))
    t.shards(index).flatMap { case (_, s) =>
      rows(s).filter { case (id, _) =>
        java.util.Arrays.binarySearch(tombB.value, id) < 0 }
    }
  }

  /** Which tombstoned ids live in the listed cells — a pruned pass
    * (only the listed cells' partitions schedule), bounded by the
    * deletion set (each id lives in exactly one cell). Sorted. */
  private def collectRemoved[S, I](t: RoutedTier[S, I])(
      index: I, cells: Array[Int]): Array[Long] = {
    val cellSet = cells.toSet
    val shards = t.shards(index)
    val tombB = shards.sparkContext.broadcast(t.tombstones(index))
    val tt = t
    val removed = HnswRouted.prunedShards(shards, cells)
      .flatMap { case (cell, s) =>
        if (!cellSet(cell)) Iterator.empty
        else tombB.value.iterator.filter(id => tt.containsId(s, id))
      }.collect()
    java.util.Arrays.sort(removed)
    removed
  }

  /** Overlay-wins-per-partition served composite: NOT persisted — each
    * action pays one cheap per-partition branch, never a copy. */
  private def patchComposite[S](base: RDD[(Int, S)], overlay: RDD[(Int, S)])
      (implicit ct: ClassTag[S]): RDD[(Int, S)] =
    base.zipPartitions(overlay, preservesPartitioning = true) { (b, o) =>
      val patch = o.toArray
      if (patch.isEmpty) b
      else {
        val replaced = patch.map(_._1).toSet
        patch.iterator ++ b.filter { case (c, _) => !replaced(c) }
      }
    }

  /** Full-image epilogue of ingest and the full compactions: persist +
    * count the fresh shards (or only count when `forceCount` must
    * populate counters), supersede the prior image when asked, and
    * carry the prior handle's overlay stack unless it was just released
    * — a caller that drops the prior reference must still be able to
    * release the cached patch blocks through the new handle's
    * unpersist()/foldOverlay. */
  private def finishFull[S, I](t: RoutedTier[S, I])(
      prior: I, fresh: RDD[(Int, S)], tombstones: Array[Long],
      persist: Boolean, unpersistPrior: Boolean,
      storage: StorageLevel, forceCount: Boolean = false): I = {
    val release = persist && unpersistPrior
    if (persist) materialize(fresh, t.cacheName, storage)
    else if (forceCount) fresh.count()
    if (release) {
      t.shards(prior).unpersist(blocking = t.unpersistBlocking)
      t.overlays(prior).foreach(_.unpersist())
    }
    t.make(prior, fresh, tombstones, if (release) Nil else t.overlays(prior))
  }

  /** Patched epilogue: persist + count the overlay (only the touched
    * partitions hold bytes), compose, and TRACK the overlay in the new
    * handle even with persist = false (unpersist of a never-persisted
    * RDD is a no-op, and foldOverlay must still know a patch layer
    * exists; an unpersisted patch recomputes per action — one-shot
    * callers only). */
  private def finishPatched[S, I](t: RoutedTier[S, I])(
      prior: I, overlay: RDD[(Int, S)], tombstones: Array[Long],
      persist: Boolean)(implicit ct: ClassTag[S]): I = {
    if (persist)
      materialize(overlay, t.cacheName + "-patch", StorageLevel.MEMORY_AND_DISK)
    val patched = patchComposite(t.shards(prior), overlay)
    t.make(prior, patched, tombstones, t.overlays(prior) :+ overlay)
  }

  /** The merged-cell audit's per-cell shell (one narrow pass, no
    * shuffle): cells of at least `minCellRows` members whose dead
    * fraction lies in [minDeadBp, maxDeadBp] run the tier's
    * separability kernel `audit(shard, isDead, nDead)` → (hi_dead_bp,
    * lo_dead_bp, dead_mass_hi_bp, merged); one row per audited cell. */
  def mergedCellAudit[S, I](t: RoutedTier[S, I])(
      index: I, minCellRows: Int, minDeadBp: Int, maxDeadBp: Int)(
      audit: (S, Long => Boolean, Int) => (Long, Long, Long, Boolean)): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    val shards = t.shards(index)
    val tombB = shards.sparkContext.broadcast(t.tombstones(index))
    val tt = t
    shards.flatMap { case (cell, s) =>
      val dead = tombB.value
      val cellN = tt.memberCount(s)
      if (dead.length == 0 || cellN < minCellRows) Iterator.empty
      else {
        val isDead: Long => Boolean = java.util.Arrays.binarySearch(dead, _) >= 0
        val nDead = tt.idIterator(s).count(isDead)
        val deadBp = nDead * 10000L / cellN
        if (deadBp < minDeadBp || deadBp > maxDeadBp) Iterator.empty
        else {
          val (hiBp, loBp, massHiBp, merged) = audit(s, isDead, nDead)
          Iterator.single((cell, cellN.toLong, nDead.toLong, deadBp,
            hiBp, loBp, massHiBp, merged))
        }
      }
    }.collect().toSeq.toDF("cell", "n", "n_dead", "dead_bp",
      "hi_dead_bp", "lo_dead_bp", "dead_mass_hi_bp", "merged")
  }

  /** The cells a merged-cell audit flagged. */
  def flaggedCells(audit: DataFrame): Array[Int] =
    audit.filter(col("merged")).select(col("cell")).collect().map(_.getInt(0))

  // ----------------------------------------------------------------
  // Ingest guards — the fail-fast batch posture shared by the tiers
  // (the CDC streams are the lenient path that filters instead).
  // ----------------------------------------------------------------

  /** Tombstoned-id guard (driver-side, O(min set) — no job): a
    * tombstoned id's vertex was folded out of (or is dead in) its
    * cell, so the clash scan below cannot see it — without this check
    * a deleted-then-absent id would ingest, stay invisible to search,
    * and be silently erased by the next compaction. */
  def guardResurrect[S, I](t: RoutedTier[S, I])(
      index: I, batchIds: Array[Long]): Unit = {
    val dead = t.tombstones(index)
    val resurrect =
      if (dead.length < batchIds.length)
        dead.filter(id => java.util.Arrays.binarySearch(batchIds, id) >= 0)
      else batchIds.filter(id => java.util.Arrays.binarySearch(dead, id) >= 0)
    require(resurrect.isEmpty,
      s"${t.tierName} ingest: ${resurrect.length} batch id(s) are tombstoned " +
        s"(e.g. id ${resurrect.headOption.getOrElse(-1L)}) — inserting " +
        "them now would land rows that search excludes and the next " +
        s"compaction erases. ${t.resurrectHint}")
  }

  /** GLOBAL duplicate-id guard (cross-cell): the per-cell merge only
    * sees an id's TARGET cell — an id already built into cell A,
    * redelivered with a drifted vector routing to cell B, would
    * double-register, so one top-k could return the same id twice.
    * One narrow broadcast scan of the shard key sets (no shuffle, the
    * corpus never moves; per-shard early exit at 3 hits). */
  def guardClashes[S, I](t: RoutedTier[S, I])(
      index: I, batchIds: Array[Long]): Unit = {
    val shards = t.shards(index)
    val idsB = shards.sparkContext.broadcast(batchIds)
    val tt = t
    val clashes = shards.flatMap { case (cell, s) =>
      val ids = idsB.value
      tt.idIterator(s)
        .filter(id => java.util.Arrays.binarySearch(ids, id) >= 0)
        .take(3).map(id => (id, cell))
    }.take(5)
    require(clashes.isEmpty,
      s"${t.tierName} ingest: ${clashes.length}+ batch id(s) already present " +
        s"in the index (e.g. id ${clashes.headOption.map(_._1).getOrElse(-1L)} " +
        s"lives in cell ${clashes.headOption.map(_._2).getOrElse(-1)}) — " +
        "re-inserting an id would corrupt its graph, and a drifted vector " +
        "routing to a different cell would double-register the id across " +
        "cells. Remove existing ids from the batch (left-anti on the " +
        "index) or rebuild to replace vectors")
  }
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
  * reassembly, the tombstone set and the commit — plus the shared
  * router table. Each tier keeps only its own tables (router/anchors,
  * codebook, fingerprints) and its shard constructor. */
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

  /** Persist `index` under `path` as a new complete version (`idx_v{N}`,
    * `_DONE`-marked last; older versions reclaimed after — a crash
    * mid-save leaves junk that can never resolve, readers only see
    * complete versions): the meta row (the shared [[HnswParams]]
    * columns plus the tier's `meta` fields), the tier's own tables
    * (`tables(spark, dir)`), the payload rows, the per-cell graphs and the
    * live deletion set (restarts keep serving accepted deletes). */
  def save[S, I, R](t: RoutedTier[S, I])(index: I, path: String,
      keepVersions: Int, params: HnswParams, meta: Seq[(String, Any)],
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
    val (shards, rows) = (t.shards(index), payload.rows)
    spark.createDataset(shards.flatMap { case (cell, s) =>
      rows(s).map { case (id, v) => (cell, id, v) }
    })(payload.enc).toDF("cell", "id", payload.column)
      .write.mode("overwrite").parquet(s"$dir/${payload.table}")
    writeGraph(t, spark, dir, shards)
    writeTombstones(spark, dir, t.tombstones(index))
    VersionedIndexDirs.commit(spark, path, dir, keepVersions)
  }

  /** The newest complete image under `path`: its directory and meta
    * row. */
  def open(spark: SparkSession, path: String): (String, Row) = {
    val dir = VersionedIndexDirs.newestDone(spark, path)
    (dir, spark.read.parquet(s"$dir/meta").collect().head)
  }

  /** Restore image `dir`'s shards WITHOUT rebuilding: one co-partitioned
    * cogroup of the payload, links and entries tables under `part` (the
    * attach cost is a parquet scan + CSR assembly — no training, no
    * HNSW construction), one shard per cell from `mk` (cell, payload
    * rows, snapshot); persisted + counted when `persist`.
    * preservesPartitioning: the restored shards must keep the pinned
    * partitioner, or the first post-attach ingest would shuffle the
    * whole INDEX side to co-locate with its batch. Presence: a save
    * writes one entries row per shard, so a zero-member cell (every
    * member deleted and compacted) comes back too; `present` names the
    * cells an older image records elsewhere (the PQ fingerprints
    * table), restored empty when no table row names them. */
  def shards[S: ClassTag, R](t: RoutedTier[S, _], spark: SparkSession, dir: String,
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
    if (persist) RoutedLifecycle.materialize(out, t.cacheName, storage) else out
  }

  /** Write the per-cell graphs as the links + entries tables. Entries
    * hold ONE row per shard: an empty cell (no entry point) writes
    * layer -1, which records its presence for attach. */
  private def writeGraph[S](t: RoutedTier[S, _], spark: SparkSession,
                            dir: String, shards: RDD[(Int, S)]): Unit = {
    val tt = t
    spark.createDataset(shards.flatMap { case (cell, s) =>
      tt.form(s).snapshot.layers.iterator.zipWithIndex.flatMap { case (csr, lc) =>
        csr.entriesIterator.map { case (src, dsts, dists) =>
          (cell, lc, src, dsts, dists)
        }
      }
    })(linkRowEnc).toDF("cell", "layer", "src", "dsts", "dists")
      .write.mode("overwrite").parquet(s"$dir/links")

    spark.createDataset(shards.map { case (cell, s) =>
      tt.form(s).entryPoint.fold((cell, -1L, -1))(ep => (cell, ep.point, ep.layer))
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

  /** The deletion set persists with the image (written even when
    * empty): a restart must keep serving the deletes a crashed session
    * had accepted. */
  def writeTombstones(spark: SparkSession, dir: String,
                      tombstones: Array[Long]): Unit = {
    import spark.implicits._
    tombstones.toSeq.toDF("id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/tombstones")
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
