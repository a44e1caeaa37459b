package perfbench

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame

import graft.hnsw.{HnswDistributed, HnswModel, HnswParams}
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn
import graft.streaming.{StreamingIngest, StreamingSearch}

import scala.collection.mutable

/** Per-layer numbers a workload reports from its traced run. */
final class Layers {
  val values = mutable.LinkedHashMap.empty[String, Double]
  def update(name: String, v: Double): Unit = values(name) = v
}

/** One closed-loop workload: a single client thread that waits for every
  * call. `setup` builds the served state from the generated inputs (the
  * runner repeats it and times each repetition), `step` is one loop
  * iteration, `finish` runs the aggregate output checks, and `layers`
  * the traced run's in-process replays. */
abstract class Workload(val ctx: Ctx, val seed: Long, val tiny: Boolean) {
  val K = 10
  /** Fixed tail percentile of op latency; the loop yields more than ten
    * samples beyond it at the benchmark's run length. */
  def tailPct: Double
  /** Steps whose Spark work the traced run charges (a fixed count, so
    * two traced runs at one seed count identical jobs, stages and tasks). */
  def traceSteps: Int
  /** Recall floor of the output check (well below what the index gives). */
  val recallFloor = 0.85

  protected val cfg = BuildConfig(params = HnswParams.standard(64, 32, 32))
  protected def spark = ctx.spark
  protected val mix = new Inputs.Mixture(seed)
  protected val buildS = mutable.ArrayBuffer.empty[Double]

  def setup(): Unit
  /** Loop iteration `i` (its inputs come from streams keyed by `i`). */
  protected def run(i: Int): Unit

  private var stepNo = 0
  def steps: Int = stepNo
  def step(): Unit = { run(stepNo); stepNo += 1 }
  /** Untimed steps before the loop: the serving path's latency keeps
    * falling for 10-15 s of a fresh JVM (JIT of the Spark job, collect and
    * kernel paths), so the loop starts after a fixed count of steps. */
  def warmSteps: Int
  def release(): Unit
  def layers(out: Layers): Unit
  /** Called once the traced run's counted steps are done. `layers` runs
    * after the runner has filled in the `spark.*` charges. */
  def counted(): Unit = ()

  def finish(): Unit = {
    ctx.attempted += 1
    val recall = recall10
    if (ctx.recallTotal == 0 || recall < recallFloor)
      ctx.fail(f"recall@10 $recall%.4f below floor $recallFloor")
  }

  def recall10: Double =
    if (ctx.recallTotal == 0) 0.0 else ctx.recallHits.toDouble / ctx.recallTotal

  protected def timed[A](into: mutable.ArrayBuffer[Double])(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally into += (System.nanoTime() - t0) / 1e9
  }

  /** Every query got exactly k rows; recall of `truthOf` queries. */
  protected def checkKnn(rows: Array[org.apache.spark.sql.Row], nQueries: Int,
                         truthOf: Long => Option[Set[Long]]): Boolean = {
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      truthOf(q).foreach { t =>
        ctx.recallHits += rs.count(r => t.contains(r.getLong(1)))
        ctx.recallTotal += K
      }
    }
    byQ.size == nQueries && byQ.valuesIterator.forall(_.length == K)
  }

  protected def replayLayers(out: Layers, model: HnswModel, newIdBase: Long): Unit = {
    val n = if (tiny) 20 else 200
    val s = Replay.search(model, mix.draw(900, n, 0L), K)
    out("store.dist_evals_per_query") = s.evalsPerOp
    out("hnsw.hops_per_query") = s.expansionsPerOp
    out("hnsw.search_us_per_query") = s.usPerOp
    val i = Replay.insert(model, mix.draw(901, n, newIdBase), cfg.seed)
    out("store.dist_evals_per_insert") = i.evalsPerOp
    out("hnsw.insert_us_per_row") = i.usPerOp
    out("store.cosine_ns_per_pair") = Replay.cosineNsPerPair(model, if (tiny) 20000 else 2000000)
    out("hnsw.build_s") = Stats.median(buildS)
    // vectors plus CSR adjacency (id + distance per edge, id + offset per vertex)
    out("hnsw.index_bytes") = model.size.toDouble * Inputs.Dim * 4 +
      model.snapshot.layers.map(l => l.edgeCount * 16.0 + l.size * 12.0).sum
  }
}

object Workload {
  val names = Seq("ann_search", "ann_ingest")

  def apply(name: String, ctx: Ctx, seed: Long, tiny: Boolean): Workload = name match {
    case "ann_search" => new AnnSearch(ctx, seed, tiny)
    case "ann_ingest" => new AnnIngest(ctx, seed, tiny)
    case other        => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Read-only serving: one broadcast model, 2,500-query batches through
  * `searchBroadcast`, each batch one Spark job. */
class AnnSearch(ctx0: Ctx, seed0: Long, tiny0: Boolean) extends Workload(ctx0, seed0, tiny0) {
  val n = if (tiny) 2000 else 10000
  val poolN = if (tiny) 800 else 10000
  val batchN = if (tiny) 200 else 2500
  val truthEvery = 20
  val tailPct = 80.0
  val traceSteps = 8
  val warmSteps = if (tiny) 2 else 40

  private val base = mix.draw(0, n, 0L)
  private val pool = mix.draw(1, poolN, 0L)
  private val vecDf = Inputs.frame(spark, base)
  private val truthQueries = Inputs.frame(spark,
    pool.filter(_._1 % truthEvery == 0), "qid", "qvec")
  private val batches: Array[DataFrame] =
    pool.grouped(batchN).map(b => Inputs.frame(spark, b, "qid", "qvec")).toArray

  private var model: HnswModel = _
  private var modelB: Broadcast[HnswModel] = _
  private var truth: Map[Long, Set[Long]] = Map.empty
  private val truthS = mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = {
    model = ctx.span("hnsw.build") {
      timed(buildS)(HnswDistributed.buildFromArray(spark, base, cfg))
    }
    modelB = HnswDistributed.broadcastModel(spark, model)
    truth = ctx.span("functions.exact_knn") {
      timed(truthS)(ExactKnn.search(truthQueries, vecDf, K).select("qid", "id").collect())
    }.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
  }

  protected def run(i: Int): Unit = {
    val b = batches(i % batches.length)
    ctx.op("search", batchN) {
      HnswDistributed.searchBroadcast(b, modelB, K).select("qid", "id").collect()
    }(rows => checkKnn(rows, batchN, truth.get))
  }

  def release(): Unit = if (modelB != null) { modelB.destroy(); modelB = null; model = null }

  /** Self-check hook: replace the truth so the recall check must fail. */
  def corruptTruth(): Unit = truth = truth.map { case (q, _) => q -> Set(-1L) }

  def layers(out: Layers): Unit = {
    replayLayers(out, model, n.toLong)
    out("functions.cosine_expr_ns_per_pair") =
      Stats.median(truthS) * 1e9 / (truth.size.toLong * n)
  }
}

/** Streaming ingest beside serving: `insertIfNoMatch` batches with planted
  * exact copies, then a `searchBatch` that must re-snapshot and
  * re-broadcast the mutated model. */
final class AnnIngest(ctx0: Ctx, seed0: Long, tiny0: Boolean) extends Workload(ctx0, seed0, tiny0) {
  val seedN = if (tiny) 500 else 5000
  val insertN = if (tiny) 100 else 200
  val plantedN = insertN / 5
  val queryN = if (tiny) 100 else 200
  val truthPerStep = 10
  val tailPct = 75.0
  val traceSteps = 8
  val warmSteps = if (tiny) 2 else 20

  private val seedRows = mix.draw(0, seedN, 0L)
  private var index: StreamingIngest.IncrementalIndex = _
  private val stored = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  private var nextId = 0L
  private var planted = 0L
  private var fresh = 0L
  private var dedupErrors = 0L
  private val snapMs = mutable.ArrayBuffer.empty[Double]
  private val bcastMs = mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = {
    index = new StreamingIngest.IncrementalIndex(cfg)
    ctx.span("hnsw.build")(timed(buildS)(index.insertRows(seedRows)))
    stored.clear(); stored ++= seedRows
    nextId = seedN
  }

  /** `insertN` rows with new ids; a seeded fifth of them are exact copies of
    * vectors stored before this batch. */
  private def batch(i: Int): (Inputs.Rows, Set[Long]) = {
    val r = new java.util.Random(Inputs.streamSeed(seed, 10000L + i))
    val rows = mix.draw(20000L + i, insertN, nextId)
    val copies = r.ints(0, insertN).distinct().limit(plantedN).toArray
    copies.foreach(j => rows(j) = (rows(j)._1, stored(r.nextInt(stored.size))._2))
    nextId += insertN
    (rows, copies.map(j => rows(j)._1).toSet)
  }

  protected def run(i: Int): Unit = {
    val (rows, copyIds) = batch(i)
    ctx.op("insert", insertN)(index.insertIfNoMatch(rows)) { case (ins, skip) =>
      ins + skip == insertN
    }
    val queries = mix.draw(30000L + i, queryN, 0L)
    val qdf = Inputs.frame(spark, queries)
    val res = ctx.op("search", queryN) {
      if (ctx.tracing) {
        ctx.span("streaming.snapshot")(timedMs(snapMs)(index.model))
        ctx.span("streaming.broadcast")(timedMs(bcastMs)(index.modelBroadcast(spark)))
      }
      StreamingSearch.searchBatch(qdf, index, K).select("qid", "id").collect()
    }(_ => true)
    // the memoized snapshot the search just used holds the index content
    val live = index.model.vectors
    rows.foreach { case (id, v) =>
      val isCopy = copyIds(id)
      if (isCopy) planted += 1 else fresh += 1
      if (live.contains(id) == isCopy) dedupErrors += 1
      else if (!isCopy) stored += ((id, v))
    }
    res.foreach { rs =>
      val sample = queries.take(truthPerStep).map { case (q, v) =>
        q -> Inputs.exactTopK(v, live.iterator, K)
      }.toMap
      if (!checkKnn(rs, queryN, sample.get)) ctx.fail("search output")
    }
  }

  private def timedMs[A](into: mutable.ArrayBuffer[Double])(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally into += (System.nanoTime() - t0) / 1e6
  }

  override def finish(): Unit = {
    super.finish()
    ctx.attempted += 1
    // HNSW search is approximate, so a planted copy can be missed; more
    // than 1% wrong decisions is a broken match test
    if (dedupErrors * 100 > planted + fresh)
      ctx.fail(s"dedup: $dedupErrors wrong of ${planted + fresh} decisions")
  }

  def release(): Unit = index = null

  // the replays read the index as the counted steps left it, so two traced
  // runs at one seed replay the same graph whatever their loop lengths
  private var replayModel: HnswModel = _
  private var replayIdBase = 0L
  override def counted(): Unit = { replayModel = index.model; replayIdBase = nextId + 1000000L }

  def layers(out: Layers): Unit = {
    replayLayers(out, replayModel, replayIdBase)
    out("streaming.snapshot_ms") = if (snapMs.isEmpty) 0.0 else Stats.median(snapMs)
    out("streaming.broadcast_ms") = if (bcastMs.isEmpty) 0.0 else Stats.median(bcastMs)
    out("streaming.dedup_errors") = dedupErrors.toDouble
    out("streaming.planted_copies") = planted.toDouble
  }
}
