package graft.hnsw

import graft.HashData
import graft.HashData.vecFromHash
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.BeforeAndAfterAll

/** The driver-routed serving path schedules ONLY the probed cells'
  * partitions (HnswRouted.prunedShards): counted in tasks on all three
  * tiers, an nProbe = 2 serve over 16 cells runs fewer tasks than an
  * exhaustive one, and on the codes tier a patched composite
  * (compactPatched) keeps the base index's pruning — the same task
  * count as the base. */
class RoutedPruningSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val MarkerKey = "graft.spec.taskMarker"

  /** Tasks run by `action`: the listener records the task count at two
    * marker jobs, one before and one after — the bus delivers events in
    * order, so each marker's job start sees every earlier task end. */
  private def tasksOf(action: => Unit): Long = {
    val sc = spark.sparkContext
    val tasks = new AtomicLong
    val marks = new LinkedBlockingQueue[java.lang.Long]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(MarkerKey) != null)
          marks.put(tasks.get)
    }
    def mark(): Long = {
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      marks.poll(60, TimeUnit.SECONDS)
    }
    sc.addSparkListener(listener)
    try {
      val before = mark()
      action
      mark() - before - 1 // the first marker's own task
    } finally sc.removeSparkListener(listener)
  }

  private def codeOf(i: Long): Long = HashData.codeOf(i, 23L)

  private val nCells = 16
  private val cfg = BuildConfig(HnswParams.standard(64, 32, 16), metric = "l2", seed = 42L)
  private lazy val baseDf =
    (0 until 3200).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 8))).toDF("id", "vec")
  private lazy val qDf =
    (0 until 3).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 8))).toDF("qid", "qvec")
  private lazy val floatIndex = HnswRouted.build(baseDf, cfg, nCells)

  /** Tasks of one serve (the query's construction runs the driver-routed
    * collect, so it is counted too); a first, uncounted run builds any
    * lazy index and warms the plan. */
  private def served(df: => org.apache.spark.sql.DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    tasksOf(df.write.format("noop").mode("overwrite").save())
  }

  test("float tier: a 2-of-16 probe schedules fewer tasks than an exhaustive serve") {
    val pruned = served(HnswRouted.search(floatIndex, qDf, 5, nProbe = 2))
    val full = served(HnswRouted.search(floatIndex, qDf, 5, nProbe = nCells))
    assert(pruned < full, s"pruned=$pruned full=$full")
  }

  test("PQ tier: a 2-of-16 probe schedules fewer tasks than an exhaustive serve") {
    val pq = HnswRoutedPq.fromRouted(floatIndex)
    try {
      val pruned = served(HnswRoutedPq.search(pq, qDf, baseDf, 5, nProbe = 2,
        candidates = 32))
      val full = served(HnswRoutedPq.search(pq, qDf, baseDf, 5, nProbe = nCells,
        candidates = 32))
      assert(pruned < full, s"pruned=$pruned full=$full")
    } finally pq.unpersist()
  }

  test("codes tier: pruning holds, and survives the patched composite") {
    val codes = (0 until 6400).map(i => (i.toLong, codeOf(i))).toDF("id", "code")
    val cq = (0 until 3).map(q => (q.toLong, codeOf(q + 900000L))).toDF("qid", "qcode")
    val params = HnswParams.standard(64, 32, 16)
    val index = HnswRoutedCodes.build(codes, params, nCells = nCells, seed = 42L)
    val patched = HnswRoutedCodes.compactPatched(
      HnswRoutedCodes.delete(index, codes.limit(200).select("id")))
    try {
      val pruned = served(HnswRoutedCodes.search(index, cq, 5, nProbe = 2))
      val full = served(HnswRoutedCodes.search(index, cq, 5, nProbe = nCells))
      assert(pruned < full, s"pruned=$pruned full=$full")
      assert(served(HnswRoutedCodes.search(patched, cq, 5, nProbe = 2)) == pruned)
    } finally { patched.unpersist(); index.unpersist() }
  }

  override def afterAll(): Unit = {
    floatIndex.unpersist()
    super.afterAll()
  }
}
