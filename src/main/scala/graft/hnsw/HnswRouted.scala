package graft.hnsw

import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.Ivf
import graft.store.{ArenaVectorStore, GraphSnapshot, Metrics}

/** IVF-routed sharded HNSW — the two-level ANN serving architecture
  * (FAISS's IVF+graph composition, re-expressed Spark-first): a coarse
  * k-means quantizer partitions the vector space into cells, each cell
  * holds its OWN independent HNSW graph executor-side, and a query
  * searches only its `nProbe` nearest cells.
  *
  * Why this beats random sharding at scale: [[HnswDistributed.buildSharded]]
  * must fan every query out to EVERY shard (a random shard holds no
  * spatial claim, so none can be skipped) — per-query work is
  * shards × O(log(n/shards)). Here the router prunes the fan-out to
  * nProbe cells, so adding cells GROWS the cluster without growing the
  * per-query cost: at 1000 executors / 4096 cells / nProbe=32, each
  * query touches <1% of the fleet. The price is recall at cell
  * boundaries (a true neighbor can live in an unprobed cell) — measured
  * honestly by the `h_recall_routed` catalog row; `nProbe = nCells`
  * degrades to exactly the sharded exhaustive regime and is held to the
  * full hash oracle (`h_knn_routed`, the Ivf.search discipline).
  *
  * Build: one Ivf.train (driver sample), one assignment scan (codegen'd
  * ivf_cell — no UDF), a cell histogram (the skew guard — see
  * [[Router]]), ONE shuffle on the cell id, then per-cell sequential
  * HNSW construction inside mapPartitions — no driver round-trips, no
  * cross-cell traffic. Shards are KEYED by cell with a pinned
  * [[CellPartitioner]], so [[ingest]] routes a new batch to its cells
  * with a narrow dependency on the (possibly enormous) index side —
  * only the batch shuffles.
  *
  * Durability ([[save]]/[[attach]]): the index persists as six parquet
  * tables under ParquetGraphStore's versioned-directory discipline
  * (complete versions only, `_DONE`-marked, older versions reclaimed),
  * and `attach` restores it with one co-partitioned read — no k-means,
  * no graph construction. The designated 1e7+ serving tier no longer
  * costs its full build per session.
  */
object HnswRouted extends LocalRoutedTier {
  type S = CellShard
  type I = RoutedIndex
  type Q = Array[Float]
  type P = Router

  /** One cell's shard: its id, and its private graph in the form it was
    * grown in (the cell's vector arena and `Int` rows). Shards persist at
    * MEMORY_AND_DISK, and under eviction they Kryo-round-trip through
    * disk into exactly what they serve (pinned by KryoRoundTripSpec). */
  final case class CellShard(cell: Int, form: OrdinalForm.Floats) extends RoutedCell {
    /** A fresh view over the cell's arena and rows. */
    def view(cfg: BuildConfig): OrdinalGraph[Array[Float]] = form.view(cfg.params)
    /** Id -> vector, derived once. */
    @transient lazy val vectors: LongVecMap = form.store.toLongVecMap
  }

  /** Max secondary cells per split primary cell; also the stride of the
    * composite cell id (global = primary * SubCellCap + sub). */
  val SubCellCap = 4096

  /** Per-cell row budget before the skew guard splits (or refuses):
    * ~4M dim-64 float rows ≈ 1 GiB of vectors + a comparable graph per
    * cell — safely under the Kryo 2 GiB per-object wall and a
    * reasonable executor-memory slice. */
  val DefaultMaxCellRows = 4000000L

  /** The two-level quantizer: a primary k-means router plus a secondary
    * quantizer for each primary cell the skew guard split. k-means
    * cells on real corpora are SKEWED (the 1e7 rehearsal packed 156k
    * near-duplicates into one cell); an unsplit dense cell must fit one
    * executor's memory with no spill path, so cells above the row
    * budget are recursively refined instead of materialized whole. */
  final case class Router(primary: Ivf.IvfModel,
                          sub: Map[Int, Ivf.IvfModel]) extends Serializable {
    def nPrimary: Int = primary.nCells

    /** Global cell ids, enumerated (split parents contribute their
      * children, never themselves). */
    def allCells: Seq[Int] =
      (0 until nPrimary).flatMap { p =>
        sub.get(p) match {
          case Some(m) => (0 until m.nCells).map(s => p * SubCellCap + s)
          case None    => Seq(p * SubCellCap)
        }
      }

    /** Assignment column from a precomputed primary-cell column: the
      * common path recomputes nothing for unsplit parents; each split
      * parent adds one conditional secondary ivf_cell evaluation. */
    def cellColFrom(vecCol: Column, pcellCol: Column): Column =
      sub.foldLeft(pcellCol * lit(SubCellCap)) { case (acc, (p, m)) =>
        when(pcellCol === p,
          lit(p * SubCellCap) + graft.functions.IvfFunctions.ivfCell(
            vecCol, m.centroids, m.metricName)).otherwise(acc)
      }

    def primaryCol(vecCol: Column): Column =
      graft.functions.IvfFunctions.ivfCell(
        vecCol, primary.centroids, primary.metricName)

    def cellCol(vecCol: Column): Column =
      cellColFrom(vecCol, primaryCol(vecCol))

    /** Driver-side probe set: the `nProbe` nearest PRIMARY cells, each
      * split parent expanded to ALL its children (the split refines
      * materialization, never the routing claim — expansion preserves
      * the exhaustive-regime guarantee that nProbe = nPrimary probes
      * every vector, which the hash oracle rides on). */
    def probeCells(qv: Array[Float], nProbe: Int): Iterator[Int] = {
      val dist = Metrics.byName(primary.metricName)
      val cs = primary.centroids
      val p = math.min(nProbe, cs.length)
      val byDist = Array.tabulate(cs.length)(c => (c, dist(qv, cs(c))))
      java.util.Arrays.sort(byDist,
        Ordering.by[(Int, Double), (Double, Int)](x => (x._2, x._1)))
      byDist.iterator.take(p).flatMap { case (c, _) =>
        sub.get(c) match {
          case Some(m) => (0 until m.nCells).iterator.map(s => c * SubCellCap + s)
          case None    => Iterator.single(c * SubCellCap)
        }
      }
    }
  }

  /** `tombstones` is the index's deletion set (sorted ids): [[delete]]
    * adds to it without touching any shard and serving excludes it;
    * the compactions fold it out by rebuilding ONLY the cells that hold
    * a tombstoned id, freeing the ids for re-[[ingest]]. `overlay`:
    * persisted patch RDDs this handle OWNS beyond `shards` (the
    * [[compactCellsPatched]] rebuilt-cells overlay); `shards` itself may
    * then be an UNPERSISTED composite over the base index's cached
    * blocks. `storage`: the residency every new full image persists at
    * ([[RoutedHandle]]). */
  final case class RoutedIndex(
      cfg: BuildConfig,
      router: Router,
      shards: RDD[(Int, CellShard)],
      tombstones: Array[Long] = Array.empty,
      overlay: Seq[RDD[_]] = Nil,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      extends RoutedHandle[CellShard, RoutedIndex] {
    private[graft] def withState(shards: RDD[(Int, CellShard)], tombstones: Array[Long],
                                 overlay: Seq[RDD[_]]): RoutedIndex =
      copy(shards = shards, tombstones = tombstones, overlay = overlay)
  }

  /** One-partition-per-cell partitioner keyed by the cell's RANK in the
    * router's enumeration — never by the raw composite id. The composite
    * ids are multiples of [[SubCellCap]] for every unsplit cell, so
    * `HashPartitioner` (Int keys hash to themselves, partition =
    * id % n) collapses ALL of them into partition 0 whenever nCells
    * divides 4096 — the entire corpus in one task, the executor-OOM
    * wall the skew guard exists to prevent. Rank-keying guarantees a
    * bijection cell → partition regardless of the id arithmetic.
    * Value-equal across instances (cogroup plans a narrow dependency
    * only when the two sides' partitioners are `equals`). */
  final class CellPartitioner(val cellIds: Array[Int]) extends Partitioner {
    private val rank: java.util.HashMap[Integer, Integer] = {
      val m = new java.util.HashMap[Integer, Integer](cellIds.length * 2)
      var i = 0
      while (i < cellIds.length) { m.put(cellIds(i), i); i += 1 }
      m
    }
    override def numPartitions: Int = math.max(1, cellIds.length)
    override def getPartition(key: Any): Int = {
      val r = rank.get(key.asInstanceOf[Int])
      if (r ne null) r.intValue()
      // unknown cell (never produced by the owning router): any stable
      // slot works — keys are ints, keep them non-negative
      else ((key.asInstanceOf[Int] % numPartitions) + numPartitions) % numPartitions
    }
    override def equals(other: Any): Boolean = other match {
      case o: CellPartitioner => java.util.Arrays.equals(cellIds, o.cellIds)
      case _                  => false
    }
    override def hashCode: Int = java.util.Arrays.hashCode(cellIds)
  }

  private[hnsw] def partitionerFor(router: Router): CellPartitioner =
    new CellPartitioner(router.allCells.toArray)

  private val tripleEnc = Encoders.tuple(
    Encoders.scalaLong, ExprEnc.floatArray, Encoders.scalaInt)

  /** (cell, (id, vec)) pairs of an (id, vec, cell) projection — what
    * build, ingest and the PQ tier's survivor fetch route by. */
  private[hnsw] def keyedByCell(df: DataFrame): RDD[(Int, (Long, Array[Float]))] =
    df.select(col("id"), col("vec"), col("cell")).as(tripleEnc).rdd
      .map { case (id, vec, cell) => (cell, (id, vec)) }

  /** An (id, vec) batch keyed by its router cell. */
  private[hnsw] def routeBy(router: Router)(df: DataFrame): RDD[(Int, (Long, Array[Float]))] =
    keyedByCell(df.withColumn("cell", router.cellCol(col("vec"))))

  // ---- the float representation's binding ([[RoutedTier]]) ----
  implicit protected def cellTag: ClassTag[CellShard] = ClassTag(classOf[CellShard])
  implicit protected def routingTag: ClassTag[Router] = ClassTag(classOf[Router])
  private[graft] val tierName = "routed"
  private[graft] val payloadCol = "vec"
  private[hnsw] val distCol = "dist"
  private[hnsw] def queryEnc: Encoder[(Long, Array[Float])] =
    Encoders.tuple(Encoders.scalaLong, ExprEnc.floatArray)
  private[hnsw] def routing(i: RoutedIndex): Router = i.router
  private[graft] def probeCells(r: Router, q: Array[Float], nProbe: Int): Iterator[Int] =
    r.probeCells(q, nProbe)
  protected def partitioner(i: RoutedIndex): Partitioner = partitionerFor(i.router)
  protected def memberRows(i: RoutedIndex): CellShard => Iterator[(Long, Array[Float])] =
    _.form.store.rows
  protected def grow(i: RoutedIndex) = growCell(i.cfg) _
  protected def route(i: RoutedIndex) = routeBy(i.router) _
  protected def rebuildFrom(index: RoutedIndex, rows: DataFrame, nCells: Int,
                            persist: Boolean, maxCellRows: Long): RoutedIndex =
    buildAt(rows, index.cfg, if (nCells > 0) nCells else index.router.nPrimary,
      persist, maxCellRows, modalitySplit = false, index.storage)

  /** The separability test is the SHARED float kernel
    * ([[MergedCellAudit.auditCell]] — also run by the PQ tier over code
    * reconstructions); sampling/seeding rationale lives on the kernel. */
  protected def auditKernel(i: RoutedIndex, sampleMax: Int, iters: Int, kSplit: Int) = {
    val metricName = i.cfg.metric
    (rows: Array[(Long, Array[Float])], isDead: Long => Boolean, nDead: Int) =>
      MergedCellAudit.auditCell(rows, Metrics.byName(metricName), isDead, nDead,
        sampleMax, iters, kSplit)
  }

  private val tripleEncPcellFirst = Encoders.tuple(
    Encoders.scalaInt, Encoders.scalaLong, ExprEnc.floatArray)

  /** Modality-guard dials (the build-time separability census; see
    * [[build]]'s Scaladoc). Row floor, per-cell sample cap, the share a
    * component needs to count as STRONG (bp of the sample), the
    * single-linkage merge threshold as a multiple of the mean strong
    * RMS radius, and the census k-means shape (k > 2 is load-bearing —
    * the merged-cell audit's finding: 2-means finds the dominant
    * structure, not the modal boundary). */
  private val ModalityMinCellRows = 256L
  private val ModalitySampleMax = 1024
  private val ModalityShareBp = 1500L
  private val ModalitySepFactor = 3.0
  private val ModalityKSplit = 8
  private val ModalityIters = 8

  /** Modal census of a cell sample: deterministic k-means
    * (sample-mean + farthest-point seeds), components single-linkage-
    * merged at [[ModalitySepFactor]] × mean component RMS radius —
    * k-means over-splits a blob into adjacent fragments, and the
    * linkage pass re-merges fragments of one TRUE mode while keeping
    * genuinely separated modes apart. The strong-share test
    * ([[ModalityShareBp]]) applies to the MERGED groups, never the raw
    * components: a mode fragmented into five 10% components is still a
    * 50% mode (testing components first hid exactly half the planted
    * rung cells). Returns the strong groups as (member-weighted
    * centroid, sample count) — the centroids double as the secondary
    * quantizer for the split, so flagging costs no extra corpus scan.
    * Empty/one group = unimodal (no split). Distances linearize
    * through sqrt for l2 (Metrics.l2Sq is squared) so the factor is a
    * geometric ratio; calibration is on the l2 rehearsal geometry. */
  private[hnsw] def modalCensus(rows: Array[Array[Float]],
      metric: (Array[Float], Array[Float]) => Double,
      metricName: String): Array[(Array[Float], Int)] = {
    val dim = rows.headOption.fold(0)(_.length)
    modalCensusOf(rows, metric,
      if (metricName == "l2") d => math.sqrt(math.max(0.0, d)) else identity,
      MergedCellAudit.meanOf(dim)) { (comps, cents, ns, _) =>
      val total = comps.map(ns(_)).sum
      Array.tabulate(dim) { d =>
        (comps.map(c => cents(c)(d).toDouble * ns(c)).sum / total).toFloat
      }
    }
  }

  /** The modal census over any representation (float vectors here, u64
    * codes in [[HnswRoutedCodes.modalCensusCodes]]): `dist` between
    * members, `lin` linearizing it into a geometric radius, `center` of
    * a component's members, and `group(components, centers, counts,
    * assignment)` the center of a merged group. Returns the strong groups
    * as (group center, sample count), descending by count. */
  private[hnsw] def modalCensusOf[V: scala.reflect.ClassTag](rows: Array[V],
      dist: (V, V) => Double, lin: Double => Double, center: Iterator[V] => V)(
      group: (Array[Int], Array[V], Array[Int], Array[Int]) => V): Array[(V, Int)] = {
    if (rows.length < 32) return Array.empty
    val k = math.max(2, math.min(ModalityKSplit, rows.length / 4))
    val cents = new Array[V](k)
    cents(0) = center(rows.iterator)
    var j = 1
    while (j < k) {
      var best = rows.head; var bestD = -1.0
      rows.foreach { v =>
        var minD = Double.MaxValue; var c = 0
        while (c < j) { val d = dist(v, cents(c)); if (d < minD) minD = d; c += 1 }
        if (minD > bestD) { bestD = minD; best = v }
      }
      cents(j) = best; j += 1
    }
    def nearest(v: V): Int = {
      var bi = 0; var bd = Double.MaxValue; var c = 0
      while (c < k) {
        val d = dist(v, cents(c)); if (d < bd) { bd = d; bi = c }; c += 1 }
      bi
    }
    var it = 0
    while (it < ModalityIters) {
      val assign = rows.map(nearest)
      var c = 0
      while (c < k) {
        val cc = c
        if (assign.contains(cc))
          cents(c) = center(rows.indices.iterator.filter(assign(_) == cc).map(rows(_)))
        c += 1 // an empty component keeps its center
      }
      it += 1
    }
    val assign = rows.map(nearest)
    val ns = new Array[Int](k); val sumD = new Array[Double](k)
    rows.indices.foreach { i =>
      val c = assign(i); ns(c) += 1; sumD(c) += dist(rows(i), cents(c)) }
    // participants: every non-noise component (the strong test comes
    // AFTER the merge — see the Scaladoc)
    val parts = (0 until k).filter(c => ns(c) >= 8).toArray
    if (parts.length == 0) return Array.empty
    // ROBUST mass-weighted mean radius: tiny outlier fragments must not
    // drag the merge threshold down (unweighted, they shrank it enough
    // to keep a unimodal blob's main fragments apart — a false split),
    // and a mode-STRADDLING component (unlucky farthest-point seeding)
    // must not inflate it (its radius reads ~ the inter-mode distance/2;
    // mass-weighted in, the linkage threshold can exceed the inter-mode
    // distance itself and the modes merge into one "unimodal" group —
    // the codes census measured exactly one of 16 planted bimodal cells
    // escaping the guard this way at the 1e6 rung). Straddlers are rare
    // among k=8 components, so the MEDIAN resists them: components
    // beyond 2x the median radius are excluded from the THRESHOLD
    // computation only (they still join the linkage by their center).
    val radii = parts.map(c => lin(sumD(c) / ns(c)))
    val medianRad = radii.sorted.apply(radii.length / 2)
    val keptIdx = parts.indices.filter(i =>
      medianRad == 0.0 || radii(i) <= 2.0 * medianRad)
    val meanRad = keptIdx.map(i => ns(parts(i)) * radii(i)).sum /
      math.max(1L, keptIdx.map(i => ns(parts(i)).toLong).sum)
    // single-linkage union-find over participating components; a zero
    // mean radius (distinct point masses) keeps every component apart
    val parent = Array.tabulate(parts.length)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    if (meanRad > 0.0)
      for (i <- parts.indices; jj <- (i + 1) until parts.length) {
        val d = lin(dist(cents(parts(i)), cents(parts(jj))))
        if (d < ModalitySepFactor * meanRad) {
          val (a, b) = (find(i), find(jj)); if (a != b) parent(a) = b
        }
      }
    val minShare = math.max(8L, rows.length * ModalityShareBp / 10000L)
    parts.indices.groupBy(find).values.toArray
      .map { idxs =>
        val comps = idxs.map(parts(_)).toArray
        (group(comps, cents, ns, assign), comps.map(ns(_)).sum)
      }
      .filter(_._2 >= minShare)
      .sortBy(-_._2)
  }

  /** The float tier's one cell kernel — build, ingest and compaction
    * all grow a cell here: `prior`'s graph (copy-on-merge: a cached
    * shard is never mutated) absorbs the id-sorted `rows` in order,
    * layers from the id hash ([[OrdinalGraph.grow]]); with no prior the
    * cell builds fresh, so a compacted cell is graph-identical to a fresh
    * build of its surviving rows (same insert order, same layer draws). */
  private[hnsw] def growCell(cfg: BuildConfig)(cell: Int, prior: Option[CellShard],
                                               rows: Array[(Long, Array[Float])]): CellShard = {
    val arena = prior.fold(new ArenaVectorStore(cfg.metric))(_.form.store.copy())
    rows.foreach { case (id, _) =>
      require(arena.ordinalOf(id) < 0,
        s"routed ingest: id $id already present in cell $cell — " +
          "re-inserting a vertex would corrupt its graph")
    }
    CellShard(cell, OrdinalGraph.grow(cfg.params, cfg.seed, arena, prior.map(_.form), rows.iterator))
  }

  /** `modalitySplit`: opt-in BUILD-TIME modality guard (round-15; the
    * at-build form of [[mergedCellAudit]]'s separability test). k-means
    * routinely packs several well-separated clusters into one cell —
    * the skew guard bounds SIZE, not modality, and the merged-remedy
    * rung measured an 11.6× predicated-serving floor when a later
    * delete wipes one of the co-resident clusters. With the flag on,
    * every unsplit cell above a row floor runs a sampled k-component
    * separability census (farthest-point-seeded deterministic k-means;
    * a cell is multi-modal when ≥2 components each hold ≥15% of the
    * sample and the closest pair of those strong components is ≥3×
    * their mean RMS radius apart — calibrated on the l2 rehearsal
    * geometry); flagged cells get a secondary quantizer sized to the
    * strong-component count, exactly the skew guard's split machinery.
    * Exhaustive-regime results are unchanged by construction (probe
    * expansion covers every child); what changes is that a future
    * delete aligned with one mode leaves whole CELLS dead — which
    * predicated serving skips outright — instead of half-dead cells it
    * must exact-scan. Off by default: the split adds one sampled
    * collect + one Ivf.train per flagged cell at build time. */
  def build(vectors: DataFrame, cfg: BuildConfig = BuildConfig(),
            nCells: Int = 16, persist: Boolean = true,
            maxCellRows: Long = DefaultMaxCellRows,
            modalitySplit: Boolean = false): RoutedIndex =
    buildAt(vectors, cfg, nCells, persist, maxCellRows, modalitySplit,
      StorageLevel.MEMORY_AND_DISK)

  private def buildAt(vectors: DataFrame, cfg: BuildConfig, nCells: Int,
                      persist: Boolean, maxCellRows: Long, modalitySplit: Boolean,
                      storage: StorageLevel): RoutedIndex = {
    // GLOBAL id dedup before cell assignment (the HnswDistributed.build
    // duplicate-id guard, but cross-cell: duplicate rows with different
    // vectors would route to DIFFERENT cells and surface the same id
    // twice in one top-k). max(vec) — arrays order lexicographically —
    // makes the surviving row deterministic, not partition-dependent.
    // pin the deduped projection: train (count + sample), the skew
    // histogram(s), any split training, and the final keyed scan each
    // run a job over it — uncached, every one would re-execute the
    // id-dedup SHUFFLE (4-6 full-corpus shuffles instead of one)
    val deduped = vectors.select(col("id"), col("vec"))
      .groupBy(col("id")).agg(max(col("vec")).as("vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (router, cells) = planRouter(deduped, cfg, nCells, maxCellRows,
        modalitySplit)
      // persist=false shards stay lazy and recompute per action (the
      // test-only contract); after the unpersist below that recompute
      // re-runs the dedup shuffle — the caller opted out of pinning
      RoutedIndex(cfg, router, buildShards(keyedByCell(cells), partitionerFor(router),
        persist, storage)(growCell(cfg)), storage = storage)
    } finally deduped.unpersist(blocking = false)
  }

  /** Router planning — everything between the id-dedup'd input and
    * shard construction, shared by [[build]] and the PQ tier's
    * float-free [[HnswRoutedPq.buildSolo]]: primary k-means training,
    * the skew guard's secondary splits, the opt-in modality guard, and
    * the final per-row cell assignment. `deduped` must be (id, vec),
    * id-unique, and PERSISTED by the caller (this runs several jobs
    * over it). Returns the router and the assignment projection
    * (id, vec, cell). */
  private[hnsw] def planRouter(deduped: DataFrame, cfg: BuildConfig,
                               nCells: Int, maxCellRows: Long,
                               modalitySplit: Boolean): (Router, DataFrame) = {
    require(nCells >= 1 && nCells <= (Int.MaxValue / SubCellCap),
      s"nCells in [1, ${Int.MaxValue / SubCellCap}], got $nCells")
    val spark = deduped.sparkSession
    val primary = Ivf.train(deduped, nCells, cfg.metric, seed = cfg.seed)
    val assigned = deduped.withColumn("pcell",
      graft.functions.IvfFunctions.ivfCell(
        col("vec"), primary.centroids, primary.metricName))

    // ---- Skew guard: the per-cell build below materializes each cell
    // in executor memory (no spill path — the graph kernel is an
    // in-memory structure by design), so a histogram gates entry. One
    // cheap agg (nCells output rows) against the scan the shuffle pays
    // anyway; cells above the budget get a SECONDARY quantizer
    // (recursive refinement), and a cell that cannot be split — near-
    // duplicate mass the metric cannot separate — fails fast at entry
    // with the dials, not at the executor OOM/Kryo wall mid-build.
    val hist = assigned.groupBy(col("pcell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val oversized = hist.filter(_._2 > maxCellRows)
    val sub = oversized.map { case (p, n) =>
      // target half-budget children so typical splits land comfortably
      // under the budget; capped by the id-stride envelope
      val k2 = math.min(SubCellCap.toLong,
        math.max(2L, (2L * n + maxCellRows - 1) / maxCellRows)).toInt
      p -> Ivf.train(assigned.filter(col("pcell") === p), k2, cfg.metric,
        seed = cfg.seed + 1000003L * (p + 1))
    }
    // ---- Build-time modality guard (opt-in; see the Scaladoc): run
    // the sampled separability census on every unsplit cell above the
    // row floor, split the multi-modal ones by their strong-component
    // count. One decimated collect serves ALL audited cells; per-cell
    // sample bounded by ModalitySampleMax.
    val subM: Map[Int, Ivf.IvfModel] =
      if (!modalitySplit) sub
      else {
        val metric = Metrics.byName(cfg.metric)
        val audit = hist.filter { case (p, cn) =>
          !sub.contains(p) && cn >= ModalityMinCellRows }
        if (audit.isEmpty) sub
        else {
          val strides = audit.toSeq.map { case (p, cn) =>
            (p, math.max(1L, (cn + ModalitySampleMax - 1) / ModalitySampleMax))
          }
          val strideDf = spark.createDataFrame(strides)
            .toDF("pcell", "__stride")
          val sampled = assigned
            .join(broadcast(strideDf), Seq("pcell"))
            .filter(pmod(xxhash64(col("id"), lit(cfg.seed)), col("__stride")) === 0L)
            .select(col("pcell"), col("id"), col("vec"))
            .as(tripleEncPcellFirst).collect()
          val byCell = sampled.groupBy(_._1)
          val flagged = audit.keys.toSeq.sorted.flatMap { p =>
            byCell.get(p).flatMap { rs =>
              val rows = rs.sortBy(_._2).take(ModalitySampleMax).map(_._3)
              val groups = modalCensus(rows, metric, cfg.metric)
              if (groups.length >= 2) Some(p -> groups) else None
            }
          }
          // the census's group centroids ARE the secondary quantizer:
          // children align with the detected modes by construction, and
          // the split costs no additional corpus scan (the skew guard's
          // per-cell Ivf.train re-scan would be one full pass per
          // flagged cell — at many flagged cells that dominates the
          // build)
          sub ++ flagged.map { case (p, groups) =>
            p -> Ivf.IvfModel(
              groups.take(SubCellCap).map(_._1), cfg.metric)
          }
        }
      }
    val router = Router(primary, subM)
    val cells = assigned
      .withColumn("cell", router.cellColFrom(col("vec"), col("pcell")))
    if (subM.nonEmpty) {
      val subHist = cells.filter(col("pcell").isin(subM.keys.toSeq: _*))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      val still = subHist.filter(_._2 > maxCellRows)
      require(still.isEmpty,
        s"HnswRouted.build: ${still.length} cell(s) still exceed " +
          s"maxCellRows=$maxCellRows after a secondary split (largest: " +
          s"${still.map(_._2).max} rows) — the mass is closer than the " +
          "quantizer can separate. Dials: raise nCells, raise " +
          "maxCellRows (more executor memory per cell), or use the " +
          "durable frontier tier (HnswDurable), which never " +
          "materializes a cell in memory")
    }
    (router, cells)
  }

  /** Drift audit as a DataFrame — the routed tier's silent-recall-killer
    * alarm: frozen centroids under distribution shift send new mass to
    * cells whose graphs were built for a different density, so recall
    * erodes with NO error anywhere. The audit routes `incoming` (a
    * recent batch / sample of the current stream) through the frozen
    * router and compares its per-cell share in basis points against the
    * index's current occupancy share: one row per router cell,
    * `drift_bp = |index_share_bp - batch_share_bp|`. Operating
    * discipline: a sustained max(drift_bp) above ~2x the uniform share
    * (20000/nCells bp) says the router's spatial claim no longer
    * matches the data — retrain + rebuild is the recovery ([[ingest]]
    * never moves centroids by design). Costs one codegen'd assignment
    * scan over the batch + the nCells-row occupancy collect. */
  def driftAudit(index: RoutedIndex, incoming: DataFrame): DataFrame = {
    val spark = incoming.sparkSession
    import spark.implicits._
    val occ = cellStats(index).toMap
    val occTotal = math.max(1L, occ.values.sum)
    val inc = incoming
      .select(index.router.cellCol(col("vec")).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val incTotal = math.max(1L, inc.values.sum)
    index.router.allCells.map { c =>
      val idxRows = occ.getOrElse(c, 0L)
      val batchRows = inc.getOrElse(c, 0L)
      val idxBp = idxRows * 10000L / occTotal
      val batchBp = batchRows * 10000L / incTotal
      (c, idxRows, idxBp, batchRows, batchBp, math.abs(idxBp - batchBp))
    }.toDF("cell", "index_rows", "index_share_bp",
      "batch_rows", "batch_share_bp", "drift_bp")
  }

  /** Density-adaptive default for the in-cell layer-0 beam: the 1e7
    * rehearsal's finding is that DENSE cells (156k near-duplicates in
    * one cell) miss at the configured ef_search regardless of fan-out —
    * probe4 and probe64 run the same in-cell search. Cells small
    * relative to ef are near-exhaustive already and keep the configured
    * beam (so catalog-scale plans are unchanged); above 8×ef the beam
    * widens with log2(cellSize)/4 — calibrated on the rehearsal rung
    * (ef 32 → 144 at 156k rows, vs the manually-found 128 at 95.9%
    * self-match). */
  def autoEf(efSearch: Int, cellSize: Int): Int =
    if (cellSize <= 8L * efSearch) efSearch
    else {
      val log2ceil = 32 - Integer.numberOfLeadingZeros(math.max(1, cellSize - 1))
      math.max(efSearch, efSearch * log2ceil / 4)
    }

  /** Restrict `shards` to the partitions that can hold `probedCells` —
    * a narrow [[org.apache.spark.rdd.PartitionPruningRDD]] over the
    * pinned partitioner, so a search job schedules ONLY the probed
    * cells' tasks. The 1e8 rehearsal surfaced why this matters: at
    * 1024 cells a full flatMap pass costs 1024 task launches even when
    * 8 cells do work — the serving floor became the partition pass,
    * not the probes. With rank-keyed cells the probe set IS the
    * partition set. Falls back to the unpruned RDD when no partitioner
    * is pinned (never the case for build/attach/ingest outputs). */
  private[hnsw] def prunedShards[S](
      shards: RDD[(Int, S)],
      probedCells: Iterable[Int]): RDD[(Int, S)] =
    shards.partitioner match {
      case Some(p) =>
        val keep = probedCells.map(p.getPartition(_: Any)).toSet
        org.apache.spark.rdd.PartitionPruningRDD.create(shards, keep.contains)
      case None => shards
    }

  /** Allow-sets above this count route DISTRIBUTEDLY
    * ([[searchFilteredDistributed]]) instead of through the driver
    * collect: the driver copy is 8 B/id plus boxing, and it repeats
    * per call — at the 1e8-id decade (a large label partition) the
    * collect is an OOM wall. 16M ids ≈ 128 MB driver-side keeps the
    * common online filter on the cheap path. */
  val AllowCollectMax: Int = 16 * 1024 * 1024

  private[hnsw] def sortedIdArray(ids: DataFrame): Array[Long] = {
    val arr = ids.select(col(ids.columns.head).cast("long")).distinct()
      .as(Encoders.scalaLong).collect()
    java.util.Arrays.sort(arr)
    arr
  }

  /** Queries above this count route DISTRIBUTEDLY ([[searchDistributed]])
    * instead of through the driver collect: the driver path holds
    * nProbe copies of every (qid, qvec) on the driver AND in one
    * broadcast — fine for online serving (a query batch ≪ corpus),
    * an OOM wall when the routed tier is the batch side of a large
    * similarity join. At 256k queries × nProbe 4 × dim 64 the driver
    * copy is ~300 MB; the cutover keeps it there. */
  val DriverRouteMax: Int = 262144

  /** The in-cell layer-0 beam of the three tiers' kernels: an explicit
    * `ef0` pins it (never below the configured ef_search); 0 applies
    * the density-adaptive [[autoEf]]. */
  private[hnsw] def cellEf(params: HnswParams, ef0: Int, cellSize: Int): Int = {
    val base = params.getEfSearch(0)
    if (ef0 > 0) math.max(ef0, base) else autoEf(base, cellSize)
  }

  /** The float kernel ([[RoutedServe]]): the cell's vectors, and a beam
    * and the metric's exact distance from one [[OrdinalGraph]] view per
    * shard serve. Exhaustive regime: the probe set covers every primary
    * cell, so predicated serving GUARANTEES exactness by taking the exact
    * scan in every probed cell (every eligible id lives in exactly one
    * cell) — the configuration the hash-oracle rows ride. In the nProbe
    * regime the beam-accept path serves: approximate like the plain
    * kernel, never less accurate than it. */
  private[hnsw] def kernel(index: RoutedIndex, k: Int, nProbe: Int,
                           ef0: Int): RoutedServe.Kernel[CellShard, Array[Float]] = {
    val cfg = index.cfg
    val exhaustive = nProbe >= index.router.nPrimary
    (m, probes, hasAllow, allow, dead) => {
      val view = m.view(cfg)
      PredicatedCensus.serve(m.form.store, probes, k, cellEf(cfg.params, ef0, m.form.size),
        exhaustive, hasAllow, allow, dead)(view.search, view.distances)
    }
  }

  // --------------------------------------------------------------------
  // Durability: the image is meta (config), centroids (both router
  // levels), vectors, links, entries and tombstones ([[RoutedTier.save]]).
  // --------------------------------------------------------------------

  private[hnsw] val payload = RoutedImage.Payload[CellShard, Array[Float]]("vectors", "vec",
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, ExprEnc.floatArray),
    _.form.store.rows)

  protected def imageMeta(i: RoutedIndex): (HnswParams, Seq[(String, Any)]) =
    (i.cfg.params, Seq("metric" -> i.cfg.metric, "seed" -> i.cfg.seed,
      "n_primary" -> i.router.nPrimary))

  protected def writeTables(i: RoutedIndex, spark: SparkSession, dir: String): Unit =
    RoutedImage.writeRouter(spark, dir, i.router)

  private[hnsw] def restore(spark: SparkSession, dir: String, meta: Row,
                            persist: Boolean, storage: StorageLevel): RoutedIndex = {
    val cfg = BuildConfig(RoutedImage.paramsFromMeta(meta),
      meta.getAs[String]("metric"), meta.getAs[Long]("seed"))
    val router = RoutedImage.readRouter(spark, dir, cfg.metric)
    RoutedIndex(cfg, router, RoutedImage.shards(cacheName, spark, dir, payload,
      partitionerFor(router), persist, storage) { (cell, vs, snap) =>
      val (ids, vecs) = vs.toArray.unzip
      CellShard(cell, OrdinalForm.of(ArenaVectorStore.of(cfg.metric, ids, vecs), snap))
    }, RoutedImage.readTombstones(spark, dir), storage = storage)
  }

  // --------------------------------------------------------------------
  // The catalog's memoized handles.
  // --------------------------------------------------------------------

  private def catalog(vectors: DataFrame, cfg: BuildConfig, nCells: Int, key: String) =
    new Catalog(vectors, key, Seq(nCells, HnswDistributed.cacheKey(cfg)),
      build(vectors, cfg, nCells))

  def buildCached(vectors: DataFrame, cfg: BuildConfig, nCells: Int,
                  key: String): RoutedIndex = catalog(vectors, cfg, nCells, key).built

  /** Memoized build-then-ingest — the catalog's incremental-growth
    * handle: the base corpus builds, the tail INGESTS (per-cell merge
    * into live graphs), and the serving result is held to the same
    * exhaustive-regime oracle as a from-scratch build. */
  def growCached(baseVectors: DataFrame, newRows: DataFrame, cfg: BuildConfig,
                 nCells: Int, key: String): RoutedIndex =
    catalog(baseVectors, cfg, nCells, key).grown(newRows)

  /** Memoized save+attach round-trip of a built index — the catalog's
    * durable-tier serving handle. */
  def attachCached(vectors: DataFrame, cfg: BuildConfig, nCells: Int,
                   key: String): RoutedIndex = catalog(vectors, cfg, nCells, key).attached

  /** Memoized tombstone-serving handle: [[delete]] over the SHARED
    * cached build — the catalog's tombstone row serves from the same
    * shards as its plain-search twin, paying only the deletion-set
    * collect once. */
  def deleteCached(vectors: DataFrame, deleted: DataFrame, cfg: BuildConfig, nCells: Int,
                   key: String, delKey: String): RoutedIndex =
    catalog(vectors, cfg, nCells, key).deleted(deleted, delKey)

  /** Memoized retrain of the cached grown index — the drift-recovery
    * handle (the grown handle keeps serving its rows). */
  def retrainCached(baseVectors: DataFrame, newRows: DataFrame, cfg: BuildConfig,
                    nCells: Int, key: String): RoutedIndex =
    catalog(baseVectors, cfg, nCells, key).retrained(newRows)

  /** Memoized compaction of the cached tombstoned index; the prior shards
    * are the shared cached build, still serving the plain/tombstone
    * rows. */
  def compactCached(vectors: DataFrame, deleted: DataFrame, cfg: BuildConfig, nCells: Int,
                    key: String, delKey: String): RoutedIndex =
    catalog(vectors, cfg, nCells, key).compacted(deleted, delKey)
}
