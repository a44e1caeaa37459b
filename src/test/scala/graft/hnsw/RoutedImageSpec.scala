package graft.hnsw

import graft.HashData.{codeOf, vecFromHash}
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import org.apache.spark.sql.functions._

/** The shared save/attach skeleton ([[RoutedImage]]) on the float and
  * u64-code tiers: a cell whose every member was deleted and compacted
  * holds a zero-member shard, which writes no payload, link or entry
  * row of its own — the image must still record it, so attach restores
  * the same cells the saved index had (the PQ tier's twin lives in
  * HnswRoutedPqDurableSpec). */
class RoutedImageSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "l2", seed = 42L)
  private val params = HnswParams.standard(64, 128, 16)

  /** The ids of the lowest-numbered cell — the one the tests wipe. */
  private def victimIds[S](shards: org.apache.spark.rdd.RDD[(Int, S)])(
      ids: S => Iterator[Long]): Seq[Long] = {
    val cellIds = shards.flatMap { case (c, s) => ids(s).map(id => (c, id)) }.collect()
    val victim = cellIds.map(_._1).min
    cellIds.filter(_._1 == victim).map(_._2).toSeq
  }

  private def rows(df: org.apache.spark.sql.DataFrame, dist: String) =
    df.select(col("qid"), col("id"), col(dist), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2).toString, r.getInt(3)))
      .sorted.toSeq

  test("float tier: zero-member cells survive the save/attach round-trip") {
    val baseDf = (0 until 1200).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val qDf = (0 until 20).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val routed = HnswRouted.build(baseDf, cfg, nCells = 4, persist = false)
    val wiped = victimIds(routed.shards)(_.vectors.keysIterator)
    val compacted = HnswRouted.compact(
      HnswRouted.delete(routed, wiped.toDF("id")),
      persist = false, unpersistPrior = false)
    val saved = HnswRouted.cellStats(compacted).sorted.toSeq
    assert(saved.count(_._2 == 0L) == 1, s"planting failed: $saved")

    val path = java.nio.file.Files.createTempDirectory("graft_routed_empty_").toString
    HnswRouted.save(compacted, path)
    val restored = HnswRouted.attach(spark, path, persist = false)
    assert(HnswRouted.cellStats(restored).sorted.toSeq == saved)
    assert(rows(HnswRouted.search(restored, qDf, 10, nProbe = 4), "dist") ==
      rows(HnswRouted.search(compacted, qDf, 10, nProbe = 4), "dist"))
    // the restored empty cell still takes an ingest
    val back = wiped.take(5).map(id => (id, vecFromHash(id, 7L, 16))).toDF("id", "vec")
    val grown = HnswRouted.ingest(restored, back, persist = false)
    assert(HnswRouted.cellStats(grown).map(_._2).sum == 1200L - wiped.size + 5)
  }

  test("codes tier: zero-member cells survive the save/attach round-trip") {
    val baseDf = (0 until 1500).map(i => (i.toLong, codeOf(i.toLong, 23L)))
      .toDF("id", "code")
    val qDf = (0 until 20).map(q => (q.toLong, codeOf(q + 100000L, 9L)))
      .toDF("qid", "qcode")
    val index = HnswRoutedCodes.build(baseDf, params, nCells = 4, seed = 42L,
      persist = false)
    val wiped = victimIds(index.shards)(_.codes.keysIterator)
    val compacted = HnswRoutedCodes.compact(
      HnswRoutedCodes.delete(index, wiped.toDF("id")),
      persist = false, unpersistPrior = false)
    def stats(ix: HnswRoutedCodes.RoutedCodeIndex) =
      RoutedOps.cellStats(ix.shards)(_.codes.size).sorted.toSeq
    val saved = stats(compacted)
    assert(saved.count(_._2 == 0L) == 1, s"planting failed: $saved")

    val path = java.nio.file.Files.createTempDirectory("graft_codes_empty_").toString
    HnswRoutedCodes.save(compacted, path)
    val restored = HnswRoutedCodes.attach(spark, path, persist = false)
    assert(stats(restored) == saved)
    assert(rows(HnswRoutedCodes.search(restored, qDf, 10, nProbe = 4), "hamming") ==
      rows(HnswRoutedCodes.search(compacted, qDf, 10, nProbe = 4), "hamming"))
  }
}
