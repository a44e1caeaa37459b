package graft.hnsw

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.store.{ArenaVectorStore, GraphSnapshot}
import graft.trace.Span

/** Frontier-join HNSW search — the pure-DataFrame variant of
  * search_layer for graphs too large to broadcast (SURVEY §2 S5 strategy
  * (b)): layer 0's adjacency stays a distributed links table; each
  * iteration expands the whole frontier with one join, re-ranks the beam
  * with a window, and keeps only newly-visited nodes that improved it.
  *
  * Versus the reference's one-pop-per-step loop this expands breadth-
  * first per round (the Pregel/aggregateMessages shape): it evaluates at
  * least the nodes the sequential beam search would, so the resulting
  * beam is the same or better; rounds ~ graph diameter instead of
  * O(ef x M) sequential pops.
  *
  * Upper layers are ~n/M^l rows — broadcastable by construction at any
  * scale — so the greedy descent (ef=1) above layer 0 runs in the
  * executor-local kernel against a snapshot of just those layers; only
  * layer 0, the big one, uses the iterative joins.
  */
object HnswFrontier {

  /** @param links   layer-0 adjacency (src, layer, links) — only layer 0
    *                rows are used; pass the full table freely
    * @param upper   snapshot holding layers >= 1 + the entry point (from
    *                [[upperSnapshot]])
    * @param vectors (id, vec) — joined per round for distance evals
    * @param queries (qid, qvec)
    * @return (qid, id, dist, rank) top-k per query
    */
  def search(links: DataFrame, upper: GraphSnapshot, vectors: DataFrame,
             queries: DataFrame, k: Int, ef: Int,
             metricName: String = "cosine", maxRounds: Int = 30): DataFrame = {
    val spark = queries.sparkSession
    require(upper.entryPoint.isDefined, "empty index")

    // Descent through the (small) upper layers -> per-query seed set.
    // Greedy (ef=1) down to layer 2, then a WIDE (ef) beam at layer 1:
    // the upper layers are broadcast, so the wide pass is executor-local
    // CPU — and seeding layer 0 with up to ef candidates instead of one
    // cuts the number of frontier ROUNDS (each a full BSP barrier: the
    // dominant cost locally and the synchronization cost at cluster
    // scale) roughly in half. Beam quality only improves: searchLayer0
    // starts from a superset of the greedy entry.
    val entrySeeds = Span.run("frontier.descent")(
      descendUpper(spark, upper, vectors, queries, metricName, seedEf = ef))
    searchLayer0(links, vectors, queries, entrySeeds, k, ef, metricName, maxRounds)
  }

  /** Layer-0 frontier search from caller-supplied seeds (qid, id) — the
    * shared tail of [[search]] and the durable build's phase 1, whose
    * seeds are the construction beam exiting layer 1 rather than a greedy
    * descent. Layer 0 is only ever touched through distributed joins. */
  def searchLayer0(links: DataFrame, vectors: DataFrame, queries: DataFrame,
                   seeds: DataFrame, k: Int, ef: Int,
                   metricName: String, maxRounds: Int = 30): DataFrame = {
    // the beam must be at least k wide: a node dropped from the beam is
    // gone for good, so returning ranks beyond the beam width would
    // surface arbitrary last-round rejects instead of true neighbors
    // (the kernel's searchWithEf widens the same way)
    val beamEf = math.max(ef, k)
    // every round joins against the adjacency and the vector table — pin
    // both for the loop (unpersisted after: the returned frame derives
    // only from the final localCheckpoint'd frame, never re-reading
    // either). Both caches are flat (unpartitioned), one layout for
    // every caller.
    val layer0 = links.filter(col("layer") === 0)
      .select(col("src"), col("links"))
      .cache()
    // skip the cache when the caller already persisted the vector table
    // (HnswDurable pins it for the whole ingest; re-caching here would
    // materialize a second full copy per micro-batch)
    val vecsCachedHere =
      vectors.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val vecs = {
      val projected = vectors.select(col("id"), col("vec"))
      if (vecsCachedHere) projected.cache() else projected
    }

    val qvecs = queries.select(col("qid"), col("qvec"))
    def withDist(cand: DataFrame): DataFrame =
      cand.join(vecs, "id")
        .join(broadcast(qvecs), "qid")
        .select(col("qid"), col("id"),
          distCol(metricName)(col("qvec"), col("vec")).as("dist"))

    val rankW = Window.partitionBy(col("qid")).orderBy(col("dist"), col("id"))

    // ONE eager localCheckpoint per round (round-5; the round-4 loop had
    // two): each round materializes a single ranked frame
    // (qid, id, dist, is_new, r) = previous beam UNION newly-scored
    // candidates, ranked together. Beam, frontier and the visited append
    // all derive from it as lazy filters over the checkpointed leaf —
    // plan depth stays linear, and every derived probe reads
    // materialized partitions. localCheckpoint also truncates lineage:
    // iterative self-referential DataFrames otherwise grow an
    // exponential plan.
    var ranked = Span.run("frontier.seed")(
      withDist(seeds.select(col("qid"), col("id")).distinct())
        .withColumn("is_new", lit(false))
        .withColumn("r", row_number().over(rankW))
        .localCheckpoint())
    // the initial frontier is EVERY seed (callers may pass more than ef
    // per query — the durable build's construction beam does); from
    // round 1 on, expansion is restricted to new beam members
    var frontier = ranked.select("qid", "id")
    var visited = ranked.select("qid", "id")
    var rounds = 0

    var done = false
    // the pins must not outlive the call on ANY path (a mid-loop job
    // failure would otherwise leak the cached layer-0 table into every
    // caller's retry — the durable ingest's stated invariant); the
    // returned frame derives only from the checkpointed leaf, so the
    // release is safe before the caller materializes it
    try {
      while (rounds < maxRounds && !done) Span.run("frontier.round") {
        // expand every frontier node's neighborhood in one join
        val discovered = frontier
          .join(layer0, frontier("id") === layer0("src"))
          .select(col("qid"), explode(col("links")).as("e"))
          .select(col("qid"), col("e.dst").as("id"))
          .distinct()
          .join(visited, Seq("qid", "id"), "left_anti")
        val prevBeam = ranked.filter(col("r") <= beamEf)
          .select(col("qid"), col("id"), col("dist"))
          .withColumn("is_new", lit(false))
        // LAZY checkpoint + count in ONE job (round-19): the eager
        // localCheckpoint ran a materialization job and the termination
        // probe ran a second job over the materialized blocks — two
        // scheduler round-trips per BSP round. The count below is the
        // materializing action (the RDD is marked for local
        // checkpointing, so the same job persists it), and its value IS
        // the termination test; every later derived frame still reads
        // the checkpointed blocks.
        ranked = prevBeam
          .unionByName(withDist(discovered).withColumn("is_new", lit(true)))
          .withColumn("r", row_number().over(rankW))
          .localCheckpoint(eager = false)

        // Termination: no newly-discovered node made the beam. (A node
        // that missed the beam can never seed an expansion, so an empty
        // next-frontier here IS the round-4 loop's empty-expansion round —
        // tested one round earlier, for free.)
        val nNew = ranked.filter(col("is_new") && col("r") <= beamEf).count()
        if (nNew == 0L) done = true
        else {
          val fNext = ranked.filter(col("is_new") && col("r") <= beamEf).select("qid", "id")
          // every scored candidate is visited, beam or not — never
          // re-score a miss
          visited = visited.union(ranked.filter(col("is_new")).select("qid", "id"))
          frontier = fNext
        }
        rounds += 1
      }
    } finally {
      layer0.unpersist(blocking = false)
      if (vecsCachedHere) vecs.unpersist(blocking = false)
    }

    // the final ranked frame's r IS the beam rank: when the loop ended
    // via termination no is_new row sits at r <= ef, and when it ended
    // via maxRounds the union's top-k is the beam's top-k by definition
    ranked
      .filter(col("r") <= k)
      .select(col("qid"), col("id"), col("dist"), col("r").as("rank"))
  }

  /** Snapshot carrying only layers >= 1 (empty layer-0 map) + entry. */
  def upperSnapshot(full: GraphSnapshot): GraphSnapshot =
    GraphSnapshot(full.entryPoint,
      full.layers.zipWithIndex.map { case (m, lc) =>
        if (lc == 0) graft.store.LayerCsr.empty else m
      })

  /** The upper layers of `upper` (layers >= 1 and the entry point) as a
    * broadcast serving form: the vectors of the ids they touch, collected
    * in id order into an arena, under [[OrdinalForm.of]]. The frontier
    * descent and the durable build's phase 1a both walk it. */
  private[hnsw] def upperForm(spark: SparkSession, upper: GraphSnapshot, vectors: DataFrame,
                              metricName: String): Broadcast[OrdinalForm.Floats] = {
    // upper layers hold few distinct ids; ship only the vectors they touch
    val upperIds: Set[Long] = (upper.entryPoint.map(_.point).toSet ++
      upper.layers.iterator.flatMap(l =>
        l.srcs.iterator ++ l.dsts.iterator)).toSet
    val idsB = spark.sparkContext.broadcast(upperIds)
    val (ids, vecs) = vectors.select(col("id"), col("vec")).as(vecEnc)
      .filter(r => idsB.value.contains(r._1)).collect().sortBy(_._1).unzip
    spark.sparkContext.broadcast(OrdinalForm.of(ArenaVectorStore.of(metricName, ids, vecs), upper))
  }

  private val vecEnc = Encoders.tuple(Encoders.scalaLong, ExprEnc.floatArray)

  /** Kernel descent through layers top..1: greedy (ef=1) down to layer 2,
    * beam width `seedEf` at layer 1. Returns each query's layer-0 seed
    * candidates (qid, id) — up to seedEf rows per query (exactly the
    * layer-1 beam; with seedEf=1 this is the classic greedy entry). The
    * walk is an [[OrdinalGraph]] view over [[upperForm]], so a query is
    * never staged under an id a stored vertex may hold. */
  private[hnsw] def descendUpper(spark: SparkSession, upper: GraphSnapshot,
                                 vectors: DataFrame, queries: DataFrame,
                                 metricName: String, seedEf: Int = 1): DataFrame = {
    val formB = upperForm(spark, upper, vectors, metricName)
    // the layer-0 ef bounds nothing here: the form has no layer-0 rows
    val params = HnswParams.standard(1, 1, 16).copy(efSearch = Array(seedEf, seedEf, 1, 1, 1))

    val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    queries.select(col("qid"), col("qvec")).as(vecEnc)
      .mapPartitions { it =>
        val view = formB.value.view(params)
        it.flatMap { case (qid, qvec) => view.search(qvec, seedEf, 0).iterator.map(n => (qid, n.dst)) }
      }(outEnc)
      .toDF("qid", "id")
  }

  /** Relational twin of [[graft.store.Metrics.byName]]: the codegen'd
    * distance Column for a metric name (shared with the compaction pass). */
  private[hnsw] def distCol(metricName: String): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
    metricName match {
      case "cosine" => (q, v) => lit(1.0) - VectorFunctions.cosineSim(q, v)
      case "l2"     => (q, v) => VectorFunctions.l2Sq(q, v)
      case "dot"    => (q, v) => -VectorFunctions.dotF32(q, v)
      case other    => throw new IllegalArgumentException(s"unknown metric: $other")
    }
}
