package graft.hnsw

import graft.HashData.{codeOf, vecFromHash}
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The co-located-cells branch of the shared distributed transport
  * (RoutedServe.zipServe / zipServeFiltered with more than one cell per
  * partition). Every builder pins a cell → partition bijection, so no
  * other spec reaches it: here a built index's shards are re-keyed with
  * HashPartitioner(2) over 8 cells, and the distributed paths must stay
  * row-identical to the driver-routed path. On the float tier every
  * composite cell id is a multiple of SubCellCap, so all 8 cells land in
  * partition 0 and partition 1 is empty; the codes tier's rank ids
  * split 4 / 4. */
class RoutedColocatedSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame, distCol: String): Seq[(Long, Long, Double, Int)] =
    df.select(col("qid"), col("id"), col(distCol).cast("double"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sorted.toSeq

  private val n = 2400
  private val deleted = (0 until n).filter(_ % 5 == 0).map(_.toLong)
  private val allowIds = (0 until n).filter(_ % 3 == 0).map(_.toLong)

  test("float tier: co-located cells serve row-identically on every path") {
    val cfg = BuildConfig(HnswParams.standard(64, 128, 16), metric = "cosine", seed = 42L)
    val baseDf = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val qDf = (0 until 40).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val built = HnswRouted.delete(
      HnswRouted.build(baseDf, cfg, nCells = 8, persist = false), deleted.toDF("id"))
    val index = built.copy(shards = built.shards.partitionBy(new HashPartitioner(2)))
    assert(index.shards.getNumPartitions == 2)
    assert(index.shards.mapPartitions(it => Iterator.single(it.size)).collect().max > 1,
      "the re-keyed index must co-locate cells")
    for (nProbe <- Seq(2, 8)) {
      val driver = rows(HnswRouted.search(index, qDf, 10, nProbe), "dist")
      assert(driver.nonEmpty)
      assert(driver == rows(HnswRouted.search(built, qDf, 10, nProbe), "dist"))
      assert(rows(HnswRouted.searchDistributed(index, qDf, 10, nProbe), "dist") == driver,
        s"nProbe=$nProbe")
      val filteredDriver = rows(HnswRouted.searchFilteredIds(
        index, qDf, allowIds.toArray, 10, nProbe), "dist")
      assert(filteredDriver.nonEmpty)
      assert(rows(HnswRouted.searchFilteredDistributed(
        index, qDf, allowIds.toDF("id"), 10, nProbe), "dist") == filteredDriver,
        s"filtered nProbe=$nProbe")
    }
  }

  test("codes tier: co-located cells serve row-identically on every path") {
    val params = HnswParams.standard(64, 128, 16)
    val baseDf = (0 until n).map(i => (i.toLong, codeOf(i.toLong, 23L))).toDF("id", "code")
    val qDf = (0 until 50).map(q => (q.toLong, codeOf(q + 100000L, 9L))).toDF("qid", "qcode")
    val built = HnswRoutedCodes.delete(
      HnswRoutedCodes.build(baseDf, params, nCells = 8, seed = 42L, persist = false),
      deleted.toDF("id"))
    val index = built.copy(shards = built.shards.partitionBy(new HashPartitioner(2)))
    assert(index.shards.mapPartitions(it => Iterator.single(it.size)).collect().max > 1)
    for (nProbe <- Seq(2, 8)) {
      val driver = rows(HnswRoutedCodes.search(index, qDf, 10, nProbe), "hamming")
      assert(driver.nonEmpty)
      assert(rows(HnswRoutedCodes.searchDistributed(index, qDf, 10, nProbe),
        "hamming") == driver, s"nProbe=$nProbe")
      val filteredDriver = rows(HnswRoutedCodes.searchFiltered(
        index, qDf, allowIds.toDF("id"), 10, nProbe), "hamming")
      assert(filteredDriver.nonEmpty)
      assert(rows(HnswRoutedCodes.searchFilteredDistributed(
        index, qDf, allowIds.toDF("id"), 10, nProbe), "hamming") == filteredDriver,
        s"filtered nProbe=$nProbe")
    }
  }

  test("PQ tier: co-located cells serve row-identically on every path") {
    val cfg = BuildConfig(HnswParams.standard(64, 128, 16), metric = "l2", seed = 42L)
    val baseDf = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val qDf = (0 until 40).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val built = HnswRoutedPq.delete(HnswRoutedPq.fromRouted(
      HnswRouted.build(baseDf, cfg, nCells = 8, persist = false), persist = false),
      deleted.toDF("id"))
    val index = built.copy(shards = built.shards.partitionBy(new HashPartitioner(2)))
    def coarse(df: DataFrame): Seq[(Long, Long, Double)] =
      df.select(col("qid"), col("id"), col("adc")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    for (nProbe <- Seq(2, 8)) {
      val driver = coarse(HnswRoutedPq.searchCoarse(index, qDf, 16, nProbe))
      assert(driver.nonEmpty)
      assert(coarse(HnswRoutedPq.searchCoarseDistributed(index, qDf, 16, nProbe)) == driver,
        s"nProbe=$nProbe")
      val filteredDriver = rows(HnswRoutedPq.searchFilteredIds(
        index, qDf, baseDf, allowIds.toArray, 10, nProbe, 64), "score")
      assert(filteredDriver.nonEmpty)
      assert(rows(HnswRoutedPq.searchFilteredDistributed(
        index, qDf, baseDf, allowIds.toDF("id"), 10, nProbe, 64), "score") ==
        filteredDriver, s"filtered nProbe=$nProbe")
    }
  }
}
