package graft.hnsw

import graft.HashData
import graft.HashData.vecFromHash
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Job-count ceilings on routed serving and lifecycle: on a fixed seeded
  * input, each serve path (driver-routed, distributed, filtered on the
  * collect path, filtered-distributed), the PQ coarse + re-rank serve,
  * one ingest and one targeted compaction run exactly the pinned number
  * of Spark jobs on every tier. Job counts are deterministic where wall
  * time is not, so a change that adds a count(), a second collect or an
  * extra materialization shows up here as a number. */
class RoutedJobCountSpec extends SparkSpec {
  import spark.implicits._

  private val MarkerKey = "graft.spec.jobMarker"

  /** Jobs started by `action`, between two marker jobs: the bus delivers
    * events in order, so the second marker's start sees every job the
    * action started. */
  private def jobsOf(action: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marks = new LinkedBlockingQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(MarkerKey) != null)
          marks.put(jobs.get)
        else jobs.incrementAndGet()
    }
    def mark(): Int = {
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      marks.poll(60, TimeUnit.SECONDS)
    }
    sc.addSparkListener(listener)
    try {
      val before = mark()
      action
      mark() - before
    } finally sc.removeSparkListener(listener)
  }

  private def served(df: => DataFrame): Int = jobsOf { df.collect(); () }

  private def codeOf(i: Long): Long = HashData.codeOf(i, 23L)

  private val nCells = 4
  private val cfg = BuildConfig(HnswParams.standard(64, 32, 16), metric = "l2", seed = 42L)
  private def vectors(dim: Int) =
    (0 until 1200).map(i => (i.toLong, vecFromHash(i.toLong, 7L, dim))).toDF("id", "vec")
  private def batch(dim: Int) =
    (5000 until 5040).map(i => (i.toLong, vecFromHash(i.toLong, 7L, dim))).toDF("id", "vec")
  private def queries(dim: Int) =
    (0 until 6).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, dim))).toDF("qid", "qvec")
  private lazy val allowed = (0L until 1200L by 3).toDF("id")
  private lazy val deleted = (0L until 1200L by 7).toDF("id")
  private val cells = Array(0)

  /** The pins, measured on the commit before the routed tiers shared one
    * surface. */
  private val expected = Map(
    "float.search" -> 2, "float.searchDistributed" -> 2,
    "float.searchFiltered" -> 4, "float.searchFilteredDistributed" -> 3,
    "float.compactCells" -> 2, "float.ingest" -> 6,
    "codes.search" -> 2, "codes.searchDistributed" -> 2,
    "codes.searchFiltered" -> 4, "codes.searchFilteredDistributed" -> 3,
    "codes.compactCells" -> 2, "codes.ingest" -> 6,
    "pq.search" -> 6, "pq.searchCoarseDistributed" -> 1,
    "pq.searchFiltered" -> 8, "pq.searchFilteredDistributed" -> 7,
    "pq.compactSoloCells" -> 3, "pq.ingest" -> 6)

  private def check(measured: Seq[(String, Int)]): Unit = {
    println(measured.map { case (k, v) => s"JOBS $k $v" }.mkString("\n"))
    val drift = measured.filter { case (k, v) => expected(k) != v }
    assert(drift.isEmpty, s"job counts drifted from the pins: $drift")
  }

  test("float tier: serve paths, compactCells and ingest run the pinned job counts") {
    val (vs, qs) = (vectors(8), queries(8))
    val index = HnswRouted.build(vs, cfg, nCells)
    val dead = HnswRouted.delete(index, deleted)
    var compacted: HnswRouted.RoutedIndex = null
    var grown: HnswRouted.RoutedIndex = null
    try {
      check(Seq(
        "float.search" -> served(HnswRouted.search(index, qs, 5, nProbe = 2)),
        "float.searchDistributed" -> served(HnswRouted.searchDistributed(index, qs, 5, nProbe = 2)),
        "float.searchFiltered" -> served(HnswRouted.searchFiltered(index, qs, allowed, 5, nProbe = 2)),
        "float.searchFilteredDistributed" ->
          served(HnswRouted.searchFilteredDistributed(index, qs, allowed, 5, nProbe = 2)),
        "float.compactCells" -> jobsOf {
          compacted = HnswRouted.compactCells(dead, cells, unpersistPrior = false) },
        "float.ingest" -> jobsOf { grown = HnswRouted.ingest(index, batch(8)) }))
    } finally Seq(compacted, grown, index).filter(_ != null).foreach(_.unpersist())
  }

  test("codes tier: serve paths, compactCells and ingest run the pinned job counts") {
    val codes = (0 until 1600).map(i => (i.toLong, codeOf(i))).toDF("id", "code")
    val qs = (0 until 6).map(q => (q.toLong, codeOf(q + 900000L))).toDF("qid", "qcode")
    val index = HnswRoutedCodes.build(codes, HnswParams.standard(64, 32, 16),
      nCells = nCells, seed = 42L)
    val dead = HnswRoutedCodes.delete(index, deleted)
    var compacted: HnswRoutedCodes.RoutedCodeIndex = null
    var grown: HnswRoutedCodes.RoutedCodeIndex = null
    try {
      check(Seq(
        "codes.search" -> served(HnswRoutedCodes.search(index, qs, 5, nProbe = 2)),
        "codes.searchDistributed" ->
          served(HnswRoutedCodes.searchDistributed(index, qs, 5, nProbe = 2)),
        "codes.searchFiltered" ->
          served(HnswRoutedCodes.searchFiltered(index, qs, allowed, 5, nProbe = 2)),
        "codes.searchFilteredDistributed" ->
          served(HnswRoutedCodes.searchFilteredDistributed(index, qs, allowed, 5, nProbe = 2)),
        "codes.compactCells" -> jobsOf {
          compacted = HnswRoutedCodes.compactCells(dead, cells, unpersistPrior = false) },
        "codes.ingest" -> jobsOf {
          grown = HnswRoutedCodes.ingest(index,
            (7000 until 7040).map(i => (i.toLong, codeOf(i))).toDF("id", "code")) }))
    } finally Seq(compacted, grown, index).filter(_ != null).foreach(_.unpersist())
  }

  test("PQ tier: coarse + re-rank serves, compactSoloCells and ingest run the pinned job counts") {
    val (vs, qs) = (vectors(16), queries(16))
    val index = HnswRoutedPq.buildSolo(vs, cfg, nCells = nCells)
    val dead = HnswRoutedPq.delete(index, deleted)
    var compacted: HnswRoutedPq.RoutedPqIndex = null
    var grown: HnswRoutedPq.RoutedPqIndex = null
    try {
      check(Seq(
        "pq.search" -> served(HnswRoutedPq.search(index, qs, vs, 5, nProbe = 2, candidates = 32)),
        "pq.searchCoarseDistributed" ->
          served(HnswRoutedPq.searchCoarseDistributed(index, qs, 32, nProbe = 2)),
        "pq.searchFiltered" -> served(HnswRoutedPq.searchFiltered(index, qs, vs, allowed,
          5, nProbe = 2, candidates = 32)),
        "pq.searchFilteredDistributed" -> served(HnswRoutedPq.searchFilteredDistributed(
          index, qs, vs, allowed, 5, nProbe = 2, candidates = 32)),
        "pq.compactSoloCells" -> jobsOf {
          compacted = HnswRoutedPq.compactSoloCells(dead, vs, cells) },
        "pq.ingest" -> jobsOf { grown = HnswRoutedPq.ingest(index, batch(16)) }))
    } finally Seq(compacted, grown, index).filter(_ != null).foreach(_.unpersist())
  }
}
