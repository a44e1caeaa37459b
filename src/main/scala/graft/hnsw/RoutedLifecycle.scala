package graft.hnsw

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.store.{EntryPoint, GraphSnapshot, LayerCsr}

/** One tier's binding into the SHARED routed lifecycle
  * ([[RoutedLifecycle]]): the float ([[HnswRouted]]), u64-code
  * ([[HnswRoutedCodes]]) and PQ ([[HnswRoutedPq]]) serving tiers keep
  * their own representations and kernels, but
  * delete/compact/compactCells/compactPatched/foldOverlay, the ingest
  * guards and the persist/overlay bookkeeping are ONE implementation
  * parameterized by this trait — the [[PredicatedCensus]] /
  * [[MergedCellAudit]] / [[RoutedOps]] extraction discipline applied to
  * the whole lifecycle. These existed as three hand-synced textual
  * families (~4,700 lines with heavy parallelism); the round-15 failure
  * mode — one fix applied N times by hand misses a copy — burned this
  * repo twice before the unification.
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
  def memberCount(s: S): Int
  def containsId(s: S, id: Long): Boolean
  /** LAZY member-id walk — callers `exists`/`take` without paying a
    * full-table foreach. */
  def idIterator(s: S): Iterator[Long]
  /** Driver-built survivor-rebuild closure, capturing the handle's
    * build params: rebuild one cell fresh from its non-tombstoned
    * members (the "compaction preserves the served result" contract —
    * graph-identical to a fresh build of the survivors). Tiers whose
    * rebuild needs an external source (the PQ solo tier fetches
    * survivor floats from the raw-vector table) do not bind the
    * local-rebuild ops and may throw. */
  def survivorRebuild(i: I): (Int, S, Array[Long]) => S
}

/** The shared lifecycle over [[RoutedTier]] — every function here is
  * the former per-tier body, verbatim modulo the trait indirection
  * (hash-parity pinned by the tiers' existing specs + the 172-row
  * oracle catalog). */
private[graft] object RoutedLifecycle {

  /** Is this shard touched by the deletion set? Probes the SMALLER
    * side: a small delete set against a big cell is |dead| O(1) map
    * lookups, not |cell| binary searches (at 1e8 rows / 1e4 deletes
    * that is the difference between scanning the corpus and scanning
    * the batch). */
  @inline def touchedBy[S](t: RoutedTier[S, _], s: S, dead: Array[Long]): Boolean =
    if (dead.length < t.memberCount(s)) dead.exists(id => t.containsId(s, id))
    else t.idIterator(s).exists(id =>
      java.util.Arrays.binarySearch(dead, id) >= 0)

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
    * tombstoned id (untouched cells pass by reference — narrow map on
    * the pinned partitioner, cost proportional to affected cells).
    * Returns an empty deletion set; folded-out ids can re-ingest. */
  def compact[S, I](t: RoutedTier[S, I])(
      index: I, persist: Boolean, unpersistPrior: Boolean,
      storage: StorageLevel): I =
    if (t.tombstones(index).isEmpty) index
    else {
      val shards = t.shards(index)
      val tombB = shards.sparkContext.broadcast(t.tombstones(index))
      val rebuild = t.survivorRebuild(index)
      val tt = t
      val compacted = shards.mapPartitions({ it =>
        it.map { case (cell, s) =>
          val dead = tombB.value
          if (!touchedBy(tt, s, dead)) cell -> s
          else cell -> rebuild(cell, s, dead)
        }
      }, preservesPartitioning = true)
      finishFull(t)(index, compacted, Array.empty[Long], persist,
        unpersistPrior, storage)
    }

  /** Targeted compaction: fold the deletion set out of ONLY the listed
    * cells (the merged-cell remedy), shrinking the tombstone set by
    * exactly the ids that lived there. */
  def compactCells[S, I](t: RoutedTier[S, I])(
      index: I, cells: Array[Int], persist: Boolean,
      unpersistPrior: Boolean, storage: StorageLevel): I =
    if (cells.isEmpty || t.tombstones(index).isEmpty) index
    else {
      val removed = collectRemoved(t)(index, cells)
      val cellSet = cells.toSet
      val shards = t.shards(index)
      val tombB = shards.sparkContext.broadcast(t.tombstones(index))
      val rebuild = t.survivorRebuild(index)
      val compacted = shards.mapPartitions({ it =>
        it.map { case (cell, s) =>
          if (!cellSet(cell)) cell -> s
          else cell -> rebuild(cell, s, tombB.value)
        }
      }, preservesPartitioning = true)
      val remaining = t.tombstones(index).filter(id =>
        java.util.Arrays.binarySearch(removed, id) < 0)
      finishFull(t)(index, compacted, remaining, persist, unpersistPrior,
        storage)
    }

  /** Whole-index PATCHED compaction (touched cells self-detected):
    * only the rebuilt cells persist — an overlay RDD whose untouched
    * partitions are empty blocks; the served composite reads the
    * base's cached blocks everywhere else. The base handle must STAY
    * cached and keeps serving its own answer; patches stack;
    * [[foldOverlay]] bounds the stack. */
  def compactPatched[S, I](t: RoutedTier[S, I])(
      index: I, persist: Boolean)
      (implicit ct: scala.reflect.ClassTag[S]): I =
    if (t.tombstones(index).isEmpty) index
    else {
      val shards = t.shards(index)
      require(shards.partitioner.isDefined,
        "patched compaction needs the index's pinned cell partitioner")
      val tombB = shards.sparkContext.broadcast(t.tombstones(index))
      val rebuild = t.survivorRebuild(index)
      val tt = t
      // ONE pass: each shard decides touched-ness itself and rebuilds
      // inline — a separate discovery pass would read the (possibly
      // DISK_ONLY) index a second time for nothing (measured: the
      // two-pass form cost 74.7 s at 1e7, ~half in the membership scan)
      val overlay = shards.mapPartitions({ it =>
        it.flatMap { case (cell, s) =>
          val dead = tombB.value
          if (!touchedBy(tt, s, dead)) Iterator.empty
          else Iterator.single(cell -> rebuild(cell, s, dead))
        }
      }, preservesPartitioning = true)
      finishPatched(t)(index, overlay, Array.empty[Long], persist)
    }

  /** Targeted PATCHED compaction — [[compactCells]] with O(touched)
    * persisted bytes. */
  def compactCellsPatched[S, I](t: RoutedTier[S, I])(
      index: I, cells: Array[Int], persist: Boolean)
      (implicit ct: scala.reflect.ClassTag[S]): I =
    if (cells.isEmpty || t.tombstones(index).isEmpty) index
    else {
      val shards = t.shards(index)
      val part = shards.partitioner.getOrElse(throw new IllegalStateException(
        "patched compaction needs the index's pinned cell partitioner"))
      val touchedParts = cells.map(part.getPartition(_: Any)).toSet
      val removed = collectRemoved(t)(index, cells)
      val cellSet = cells.toSet
      val tombB = shards.sparkContext.broadcast(t.tombstones(index))
      val rebuild = t.survivorRebuild(index)
      val overlay = shards.mapPartitionsWithIndex({ (pi, it) =>
        if (!touchedParts(pi)) Iterator.empty
        else it.map { case (cell, s) =>
          if (!cellSet(cell)) cell -> s
          else cell -> rebuild(cell, s, tombB.value)
        }
      }, preservesPartitioning = true)
      val remaining = t.tombstones(index).filter(id =>
        java.util.Arrays.binarySearch(removed, id) < 0)
      finishPatched(t)(index, overlay, remaining, persist)
    }

  /** Materialize a patched index back into ONE persisted full image and
    * release the overlay stack — the fold that bounds patch depth. */
  def foldOverlay[S, I](t: RoutedTier[S, I])(
      index: I, storage: StorageLevel): I =
    if (t.overlays(index).isEmpty) index
    else {
      val full = t.shards(index).mapPartitions(it => it,
        preservesPartitioning = true)
      full.persist(storage).setName(t.cacheName)
      full.count()
      t.overlays(index).foreach(_.unpersist())
      t.make(index, full, t.tombstones(index), Nil)
    }

  /** Which tombstoned ids live in the listed cells — a pruned pass
    * (only the listed cells' partitions schedule), bounded by the
    * deletion set (each id lives in exactly one cell). Sorted. */
  def collectRemoved[S, I](t: RoutedTier[S, I])(
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
  def patchComposite[S](base: RDD[(Int, S)], overlay: RDD[(Int, S)])
      (implicit ct: scala.reflect.ClassTag[S]): RDD[(Int, S)] =
    base.zipPartitions(overlay, preservesPartitioning = true) { (b, o) =>
      val patch = o.toArray
      if (patch.isEmpty) b
      else {
        val replaced = patch.map(_._1).toSet
        patch.iterator ++ b.filter { case (c, _) => !replaced(c) }
      }
    }

  /** Full-image epilogue: persist + count the fresh shards, supersede
    * the prior image when asked, and carry the prior handle's overlay
    * stack unless it was just released — a caller that drops the prior
    * reference must still be able to release the cached patch blocks
    * through the new handle's unpersist()/foldOverlay. */
  private def finishFull[S, I](t: RoutedTier[S, I])(
      prior: I, fresh: RDD[(Int, S)], tombstones: Array[Long],
      persist: Boolean, unpersistPrior: Boolean,
      storage: StorageLevel): I = {
    var released = false
    if (persist) {
      fresh.persist(storage).setName(t.cacheName)
      fresh.count()
      if (unpersistPrior) {
        t.shards(prior).unpersist(blocking = t.unpersistBlocking)
        t.overlays(prior).foreach(_.unpersist())
        released = true
      }
    }
    t.make(prior, fresh, tombstones,
      if (released) Nil else t.overlays(prior))
  }

  /** Patched epilogue: persist + count the overlay (only the touched
    * partitions hold bytes), compose, and TRACK the overlay in the new
    * handle even with persist = false (unpersist of a never-persisted
    * RDD is a no-op, and foldOverlay must still know a patch layer
    * exists; an unpersisted patch recomputes per action — one-shot
    * callers only). */
  private def finishPatched[S, I](t: RoutedTier[S, I])(
      prior: I, overlay: RDD[(Int, S)], tombstones: Array[Long],
      persist: Boolean)(implicit ct: scala.reflect.ClassTag[S]): I = {
    if (persist) {
      overlay.persist(StorageLevel.MEMORY_AND_DISK)
        .setName(t.cacheName + "-patch")
      overlay.count()
    }
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

/** Shared sub-blocks of the tiers' versioned parquet images
  * ([[VersionedIndexDirs]] discipline): the graph tables (links +
  * entries) and their CSR reassembly, the HnswParams meta row, the
  * centroid router table, and the tombstone set are IDENTICAL across
  * the three save/attach families — one implementation here; the
  * per-tier payload tables (vectors / codes / codebook+fingerprints)
  * stay with their tiers. */
private[hnsw] object RoutedImage {

  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

  val linkRowEnc: org.apache.spark.sql.Encoder[(Int, Int, Long, Array[Long], Array[Double])] =
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaLong,
      ExpressionEncoder[Array[Long]](), ExpressionEncoder[Array[Double]]())
  val entryRowEnc: org.apache.spark.sql.Encoder[(Int, Long, Int)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaInt)
  val codeRowEnc: org.apache.spark.sql.Encoder[(Int, Long, Long)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaLong)

  /** Write the per-cell graphs as the links + entries tables. */
  def writeGraph[S](spark: SparkSession, dir: String, shards: RDD[(Int, S)],
                    snapshotOf: S => GraphSnapshot): Unit = {
    spark.createDataset(shards.flatMap { case (cell, s) =>
      snapshotOf(s).layers.iterator.zipWithIndex.flatMap { case (csr, lc) =>
        csr.entriesIterator.map { case (src, dsts, dists) =>
          (cell, lc, src, dsts, dists)
        }
      }
    })(linkRowEnc).toDF("cell", "layer", "src", "dsts", "dists")
      .write.mode("overwrite").parquet(s"$dir/links")

    spark.createDataset(shards.flatMap { case (cell, s) =>
      snapshotOf(s).entryPoint.iterator.map(ep => (cell, ep.point, ep.layer))
    })(entryRowEnc).toDF("cell", "point", "layer")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/entries")
  }

  def readLinks(spark: SparkSession, dir: String)
      : RDD[(Int, (Int, Long, Array[Long], Array[Double]))] =
    spark.read.parquet(s"$dir/links")
      .select(col("cell"), col("layer"), col("src"), col("dsts"), col("dists"))
      .as(linkRowEnc).rdd
      .map { case (c, lc, src, dsts, dists) => (c, (lc, src, dsts, dists)) }

  def readEntries(spark: SparkSession, dir: String): RDD[(Int, (Long, Int))] =
    spark.read.parquet(s"$dir/entries")
      .select(col("cell"), col("point"), col("layer")).as(entryRowEnc).rdd
      .map { case (c, pt, l) => (c, (pt, l)) }

  /** One cell's CSR reassembly from its cogrouped link/entry rows —
    * the attach kernel all three tiers run executor-side. */
  def assembleSnapshot(ls: Iterable[(Int, Long, Array[Long], Array[Double])],
                       es: Iterable[(Long, Int)]): GraphSnapshot = {
    val entry = es.headOption.map { case (pt, l) => EntryPoint(pt, l) }
    val nLayers = math.max(
      ls.iterator.map(_._1 + 1).maxOption.getOrElse(0),
      entry.map(_.layer + 1).getOrElse(0))
    val layers = Array.fill(nLayers)(
      scala.collection.mutable.Map.empty[Long, (Array[Long], Array[Double])])
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
