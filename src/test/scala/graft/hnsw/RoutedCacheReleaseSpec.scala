package graft.hnsw

import graft.HashData.{codeOf, vecFromHash}
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import org.apache.spark.rdd.RDD

/** Cached-block ownership across the shared lifecycle's epilogues, on
  * each tier: build → delete → patched compaction → ingest releasing
  * the prior → foldOverlay → unpersist() leaves no shard or overlay RDD
  * of the chain cached (the released patch layer must not ride the new
  * handle, or its fold would re-materialize an image nothing owns), and
  * with release off the prior handle's blocks stay cached. */
class RoutedCacheReleaseSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "l2", seed = 42L)
  private val n = 1000
  private val vecs = (0 until n + 50).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
  private def baseDf = vecs.take(n).toDF("id", "vec")
  private def newDf = vecs.drop(n).toDF("id", "vec")
  private def deadDf = (0 until n by 9).map(_.toLong).toDF("id")

  private def cached(rdds: RDD[_]*): Seq[Int] = {
    val live = spark.sparkContext.getPersistentRDDs.keySet
    rdds.map(_.id).filter(live.contains)
  }

  test("float tier: the lifecycle chain releases every block it cached") {
    val built = HnswRouted.build(baseDf, cfg, nCells = 4)
    val patched = HnswRouted.compactCellsPatched(
      HnswRouted.delete(built, deadDf), built.router.allCells.toArray)
    assert(patched.overlay.size == 1 && cached(patched.overlay: _*).size == 1)
    val grown = HnswRouted.ingest(patched, newDf)
    assert(grown.overlay.isEmpty && cached(patched.overlay: _*).isEmpty)
    val folded = HnswRouted.foldOverlay(grown)
    folded.unpersist()
    built.unpersist()
    assert(cached(Seq(built.shards, grown.shards, folded.shards) ++
      patched.overlay: _*).isEmpty)
  }

  test("codes tier: the lifecycle chain releases every block it cached") {
    val codes = (0 until n + 50).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val built = HnswRoutedCodes.build(codes.take(n).toDF("id", "code"),
      cfg.params, nCells = 4)
    val patched = HnswRoutedCodes.compactPatched(HnswRoutedCodes.delete(built, deadDf))
    assert(patched.overlay.size == 1 && cached(patched.overlay: _*).size == 1)
    val grown = HnswRoutedCodes.ingest(patched, codes.drop(n).toDF("id", "code"))
    assert(grown.overlay.isEmpty && cached(patched.overlay: _*).isEmpty)
    val folded = HnswRoutedCodes.foldOverlay(grown)
    folded.unpersist()
    built.unpersist()
    assert(cached(Seq(built.shards, grown.shards, folded.shards) ++
      patched.overlay: _*).isEmpty)
  }

  test("PQ tier: the lifecycle chain releases every block it cached") {
    val pq = HnswRoutedPq.fromRouted(
      HnswRouted.build(baseDf, cfg, nCells = 4, persist = false))
    val patched = HnswRoutedPq.compactSoloCellsPatched(
      HnswRoutedPq.delete(pq, deadDf), baseDf, pq.router.allCells.toArray)
    assert(patched.overlay.size == 1 && cached(patched.overlay: _*).size == 1)
    val grown = HnswRoutedPq.ingest(patched, newDf, unpersistPrior = true)
    assert(grown.overlay.isEmpty && cached(patched.overlay: _*).isEmpty)
    val folded = HnswRoutedPq.foldOverlay(grown)
    folded.unpersist()
    pq.unpersist()
    assert(cached(Seq(pq.shards, grown.shards, folded.shards) ++
      patched.overlay: _*).isEmpty)
  }

  test("release off: the prior handle's blocks stay cached on every tier") {
    val built = HnswRouted.build(baseDf, cfg, nCells = 4)
    val compacted = HnswRouted.compact(HnswRouted.delete(built, deadDf),
      unpersistPrior = false)
    assert(cached(built.shards, compacted.shards).size == 2)

    val codes = (0 until n).map(i => (i.toLong, codeOf(i.toLong, 23L))).toDF("id", "code")
    val cBuilt = HnswRoutedCodes.build(codes, cfg.params, nCells = 4)
    val cCompacted = HnswRoutedCodes.compact(HnswRoutedCodes.delete(cBuilt, deadDf),
      unpersistPrior = false)
    assert(cached(cBuilt.shards, cCompacted.shards).size == 2)

    val pq = HnswRoutedPq.fromRouted(built)
    val pqCompacted = HnswRoutedPq.compactSolo(HnswRoutedPq.delete(pq, deadDf),
      baseDf)
    val pqGrown = HnswRoutedPq.ingest(pqCompacted, newDf)
    assert(cached(pq.shards, pqCompacted.shards, pqGrown.shards).size == 3)

    Seq(built, compacted).foreach(_.unpersist())
    Seq(cBuilt, cCompacted).foreach(_.unpersist())
    Seq(pq, pqCompacted, pqGrown).foreach(_.unpersist())
    assert(cached(built.shards, compacted.shards, cBuilt.shards,
      cCompacted.shards, pq.shards, pqCompacted.shards, pqGrown.shards).isEmpty)
  }
}
