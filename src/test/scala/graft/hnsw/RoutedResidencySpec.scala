package graft.hnsw

import graft.HashData.vecFromHash
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.streaming.StreamingRoutedCodes
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel

/** An index keeps the residency it was built or attached with: a
  * DISK_ONLY codes index and a DISK_ONLY solo-built PQ index stay
  * DISK_ONLY through ingest, the compactions, foldOverlay and the
  * full-copy merged-cell remedy — none of which names a level — and a
  * codes CDC stream's checkpoint rebase re-attaches at DISK_ONLY. The
  * inputs plant one merged cell (two far-apart super-modes, each holding
  * two sub-modes the nCells = 2 router cannot separate; ids [0, 800) are
  * one sub-mode), so the remedy really rebuilds a cell. */
class RoutedResidencySpec extends SparkSpec {
  import spark.implicits._

  private val Disk = StorageLevel.DISK_ONLY
  private def assertDisk(label: String, shards: org.apache.spark.rdd.RDD[_]): Unit =
    assert(shards.getStorageLevel == Disk, s"$label persisted at ${shards.getStorageLevel}")

  /** Runs `f` and asserts it left no new RDD persisted in executor memory. */
  private def assertNoMemoryPins(label: String)(f: => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    f
    val pinned = spark.sparkContext.getPersistentRDDs.collect {
      case (id, r) if !before(id) && r.getStorageLevel.useMemory => s"$id ${r.name} ${r.getStorageLevel}"
    }
    assert(pinned.isEmpty, s"$label pinned in memory: $pinned")
  }

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def clusterCode(i: Long): Long = {
    val c = (i / 800).toInt
    val mode = mix(0x5151L + (c / 2)) ^ (0xFFL << ((c % 2) * 8))
    mode ^ (1L << (mix(i * 31L + 7L) & 63L).toInt) ^ (1L << (mix(i * 57L + 11L) & 63L).toInt)
  }

  private def clusterVec(i: Long): Array[Float] = {
    val c = (i / 800).toInt
    val superCenter = vecFromHash((c / 2).toLong, 77L, 12).map(_ * 40f)
    val subOffset = vecFromHash(10L + c, 99L, 12).map(_ * 6f)
    val noise = vecFromHash(i, 3L, 12)
    Array.tabulate(12)(d => superCenter(d) + subOffset(d) + noise(d))
  }

  test("codes tier: DISK_ONLY survives ingest, compactions, foldOverlay, remediation and a CDC rebase") {
    val params = HnswParams.standard(48, 96, 16)
    val built = HnswRoutedCodes.build(
      (0L until 3200L).map(i => (i, clusterCode(i))).toDF("id", "code"), params,
      nCells = 2, storage = Disk)
    assertDisk("build", built.shards)
    val grown = HnswRoutedCodes.ingest(built,
      (5000L until 5020L).map(i => (i, clusterCode(i - 5000L))).toDF("id", "code"))
    assertDisk("ingest", grown.shards)
    val dead = HnswRoutedCodes.delete(grown, (0L until 800L).toDF("id"))
    val cells = dead.shards.keys.collect().sorted.take(1)
    assertDisk("compact", HnswRoutedCodes.compact(dead, unpersistPrior = false).shards)
    assertDisk("compactCells",
      HnswRoutedCodes.compactCells(dead, cells, unpersistPrior = false).shards)
    val patched = HnswRoutedCodes.compactCellsPatched(dead, cells)
    assertDisk("foldOverlay", HnswRoutedCodes.foldOverlay(patched).shards)
    val (remedied, flagged) = HnswRoutedCodes.remediateMergedCells(dead, minCellRows = 100,
      unpersistPrior = false, patched = false)
    assert(flagged.nonEmpty, "the planted merged cell must be flagged")
    assertDisk("remediateMergedCells", remedied.shards)

    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_residency_cdc_").toString
    val h = new StreamingRoutedCodes.Handle(remedied)
    val mem = MemoryStream[(Long, Long, String)]
    val q = StreamingRoutedCodes.attachCdc(mem.toDF().toDF("id", "code", "op"), h,
      checkpoint = Some((dir, 1)), compactThreshold = 0.0001)
    mem.addData((6000L until 6010L).map(i => (i, clusterCode(i - 6000L + 1600L), "insert")) ++
      Seq((1700L, 0L, "delete")): _*)
    q.processAllAvailable()
    q.stop()
    assertDisk("CDC step + checkpoint rebase", h.index.shards)
    h.index.unpersist()
  }

  test("PQ tier: a DISK_ONLY buildSolo index stays DISK_ONLY through its solo lifecycle") {
    val cfg = BuildConfig(HnswParams.standard(64, 128, 16), metric = "l2", seed = 42L)
    val all = (0L until 3200L).map(i => (i, clusterVec(i))) ++
      (5000L until 5020L).map(i => (i, clusterVec(i - 5000L + 1600L)))
    val allDf = all.toDF("id", "vec")
    val built = HnswRoutedPq.buildSolo(all.take(3200).toDF("id", "vec"), cfg, nCells = 2,
      storage = Disk)
    assertDisk("buildSolo", built.shards)
    val grown = HnswRoutedPq.ingest(built, all.drop(3200).toDF("id", "vec"))
    assertDisk("ingest", grown.shards)
    val dead = HnswRoutedPq.delete(grown, (0L until 800L).toDF("id"))
    val cells = dead.shards.keys.collect().sorted.take(1)
    assertDisk("compactSolo", HnswRoutedPq.compactSolo(dead, allDf).shards)
    assertDisk("compactSoloCells", HnswRoutedPq.compactSoloCells(dead, allDf, cells).shards)
    val patched = HnswRoutedPq.compactSoloCellsPatched(dead, allDf, cells)
    assertDisk("foldOverlay", HnswRoutedPq.foldOverlay(patched).shards)
    val (remedied, flagged) = HnswRoutedPq.remediateMergedCellsSolo(dead, allDf,
      minCellRows = 100, patched = false)
    assert(flagged.nonEmpty, "the planted merged cell must be flagged")
    assertDisk("remediateMergedCellsSolo", remedied.shards)
  }

  test("a DISK_ONLY codes index serves searchFilteredDistributed without a memory pin") {
    val index = HnswRoutedCodes.build(
      (0L until 3200L).map(i => (i, clusterCode(i))).toDF("id", "code"),
      HnswParams.standard(48, 96, 16), nCells = 2, storage = Disk)
    val queries = (0L until 4L).map(i => (i, clusterCode(i * 801L))).toDF("qid", "qcode")
    assertNoMemoryPins("searchFilteredDistributed") {
      HnswRoutedCodes.searchFilteredDistributed(index, queries, (0L until 3200L by 3).toDF("id"),
        5, nProbe = 2).collect()
    }
    index.unpersist()
  }

  test("fromRouted of a DISK_ONLY float index derives a DISK_ONLY PQ tier") {
    val cfg = BuildConfig(HnswParams.standard(64, 128, 16), metric = "l2", seed = 42L)
    val built = HnswRouted.build((0L until 3200L).map(i => (i, clusterVec(i))).toDF("id", "vec"),
      cfg, nCells = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_residency_pq_").toString
    HnswRouted.save(built, dir)
    built.unpersist()
    val float = HnswRouted.attach(spark, dir, storage = Disk)
    assertDisk("attach", float.shards)
    var pq: HnswRoutedPq.RoutedPqIndex = null
    assertNoMemoryPins("fromRouted") { pq = HnswRoutedPq.fromRouted(float) }
    assertDisk("fromRouted", pq.shards)
    pq.unpersist()
    float.unpersist()
  }
}
