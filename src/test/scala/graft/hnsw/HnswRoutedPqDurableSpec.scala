package graft.hnsw

import graft.HashData.vecFromHash
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn
import org.apache.spark.sql.functions._

/** Durability + attribute-filtered serving on the routed+PQ tier.
  *
  * Durability is what makes the PQ tier the 1e8 float serving path in
  * practice: deriving it needs the float source RESIDENT, so a restart
  * that re-derives pays the full float build + encode — attach pays a
  * parquet scan + CSR assembly, and the float source never has to
  * exist on the serving cluster (graph + codes restore directly).
  * Filtered serving mirrors the float/codes tiers' contract so the
  * compressed tier is a first-class serving surface, not a demo. */
class HnswRoutedPqDurableSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "l2", seed = 42L)

  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
    df.select(col("qid"), col("id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

  test("save -> attach round-trip: exhaustive serving row-identical, " +
      "tombstones + fingerprints survive, rederive still carries") {
    val n = 1500
    val baseDf = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val qDf = (0 until 30).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val routed = HnswRouted.delete(
      HnswRouted.build(baseDf, cfg, nCells = 4, persist = false),
      (0 until n).filter(_ % 7 == 0).map(_.toLong).toDF("id"))
    val index = HnswRoutedPq.fromRouted(routed, persist = false)

    val path = java.nio.file.Files.createTempDirectory("graft_pq_durable_").toString
    HnswRoutedPq.save(index, path)
    val restored = HnswRoutedPq.attach(spark, path, persist = false)

    assert(restored.tombstones.sameElements(index.tombstones))
    assert(restored.router.allCells == index.router.allCells)
    // codebook survives bit-identically (rederive/ADC depend on it)
    assert(restored.codebook.length == index.codebook.length)
    restored.codebook.zip(index.codebook).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    }

    val before = ranked(HnswRoutedPq.search(index, qDf, baseDf,
      k = 10, nProbe = 4, candidates = 256))
    val after = ranked(HnswRoutedPq.search(restored, qDf, baseDf,
      k = 10, nProbe = 4, candidates = 256))
    assert(after == before)

    // fingerprints survive: rederiving the ATTACHED handle against the
    // unchanged float source must carry every cell (zero re-encodes) —
    // the incremental-lifecycle claim across a restart
    val (re, reenc, carried) = HnswRoutedPq.rederiveCounted(
      restored, routed, persist = false)
    assert(reenc == 0L, s"expected full carry, re-encoded $reenc cells")
    assert(carried == routed.router.allCells.size.toLong)
    val again = ranked(HnswRoutedPq.search(re, qDf, baseDf,
      k = 10, nProbe = 4, candidates = 256))
    assert(again == before)
  }

  test("zero-code cells survive the save/attach round-trip (presence rides the fingerprints table)") {
    val n = 1200
    val baseDf = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val routed = HnswRouted.build(baseDf, cfg, nCells = 4, persist = false)
    // wipe ONE whole cell, fold it out: the float compact leaves the
    // cell's shard present with zero rows
    val cellIds = routed.shards.flatMap { case (c, s) =>
      s.vectors.keysIterator.map(id => (c, id)) }.collect()
    val victim = cellIds.groupBy(_._1).minBy(_._1)._1
    val wiped = cellIds.filter(_._1 == victim).map(_._2)
    val compacted = HnswRouted.compact(
      HnswRouted.delete(routed, wiped.toSeq.toDF("id")),
      persist = false, unpersistPrior = false)
    val pq = HnswRoutedPq.fromRouted(compacted, persist = false)
    val nShards = pq.shards.count()
    assert(pq.shards.filter(_._2.codes.isEmpty).count() == 1L,
      "planting failed: expected exactly one zero-code shard")

    val path = java.nio.file.Files.createTempDirectory("graft_pq_empty_").toString
    HnswRoutedPq.save(pq, path)
    val restored = HnswRoutedPq.attach(spark, path, persist = false)
    // the empty shard survives (pre-fix: cogroup dropped it — the
    // restored index had fewer shards than the saved one)
    assert(restored.shards.count() == nShards)
    assert(restored.shards.filter(_._2.codes.isEmpty).count() == 1L)
    // and rederive against the unchanged source still carries ALL
    // cells (pre-fix the missing shard counted as a re-encode)
    val (_, reenc, carried) = HnswRoutedPq.rederiveCounted(
      restored, compacted, persist = false)
    assert(reenc == 0L, s"empty cell broke the carry: $reenc re-encodes")
    assert(carried == compacted.router.allCells.size.toLong)
  }

  test("build seed persists: solo compaction after attach rebuilds graph-identical to the float-source rebuild") {
    val n = 1200
    val baseDf = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val qDf = (0 until 50).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val routed = HnswRouted.build(baseDf, cfg, nCells = 4, persist = false)
    val pq = HnswRoutedPq.fromRouted(routed, persist = false)
    val path = java.nio.file.Files.createTempDirectory("graft_pq_seed_").toString
    HnswRoutedPq.save(pq, path)
    val attached = HnswRoutedPq.attach(spark, path, persist = false)
    assert(attached.buildSeed == cfg.seed,
      s"build seed did not survive the image: ${attached.buildSeed}")

    val delDf = (0 until n).filter(_ % 5 == 0).map(_.toLong).toDF("id")
    // solo path: delete + compactSolo on the attached handle
    val solo = HnswRoutedPq.compactSolo(
      HnswRoutedPq.delete(attached, delDf), baseDf, persist = false)
    // float path: the same fold on the float source, then re-encode
    val floatTwin = HnswRoutedPq.fromRoutedWith(
      HnswRouted.compact(HnswRouted.delete(routed, delDf),
        persist = false, unpersistPrior = false),
      pq.codebook, persist = false)
    // the COARSE stage exposes graph structure (nProbe < nCells takes
    // the ADC graph beam): identical output pins graph-identity, which
    // only holds when the solo rebuild drew layers with the BUILD seed
    // (the pre-fix hardcoded 13 matched on content but not structure)
    def coarse(ix: HnswRoutedPq.RoutedPqIndex) =
      HnswRoutedPq.searchCoarse(ix, qDf, candidates = 8, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(coarse(solo) == coarse(floatTwin))
  }

  test("attach without the float source serves a fresh session " +
      "(the restart posture: no build, no encode)") {
    val n = 1200
    val baseDf = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val qDf = (0 until 25).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val path = java.nio.file.Files.createTempDirectory("graft_pq_solo_").toString
    val expected = {
      val routed = HnswRouted.build(baseDf, cfg, nCells = 4, persist = false)
      val index = HnswRoutedPq.fromRouted(routed, persist = false)
      HnswRoutedPq.save(index, path)
      ranked(HnswRoutedPq.search(index, qDf, baseDf,
        k = 10, nProbe = 4, candidates = 256))
    } // float handles out of scope here — nothing retained but the image
    val restored = HnswRoutedPq.attach(spark, path, persist = false)
    val served = ranked(HnswRoutedPq.search(restored, qDf, baseDf,
      k = 10, nProbe = 4, candidates = 256))
    assert(served == expected)
  }

  test("filtered serving: exhaustive regime equals exact filtered brute " +
      "force, tombstones compose, distributed transport row-identical") {
    val n = 1500
    val baseDf = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val qDf = (0 until 30).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val routed = HnswRouted.delete(
      HnswRouted.build(baseDf, cfg, nCells = 4, persist = false),
      (0 until n).filter(_ % 7 == 0).map(_.toLong).toDF("id"))
    val index = HnswRoutedPq.fromRouted(routed, persist = false)
    val allowed = baseDf.filter(col("id") % 3 === 0).select(col("id"))

    val served = ranked(HnswRoutedPq.searchFiltered(index, qDf, baseDf,
      allowed, k = 10, nProbe = 4, candidates = 256))
    // oracle: allowed AND not tombstoned
    val eligibleDf = baseDf.filter(col("id") % 3 === 0 && col("id") % 7 =!= 0)
    val exact = ExactKnn.search(qDf, eligibleDf, 10, "l2")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served.map(t => (t._1, t._2)).toSet == exact)
    served.foreach { case (_, id, _) => assert(id % 3 == 0 && id % 7 != 0) }

    val distrib = ranked(HnswRoutedPq.searchFilteredDistributed(index, qDf,
      baseDf, allowed, k = 10, nProbe = 4, candidates = 256))
    assert(distrib == served)

    // nProbe regime: both transports still row-identical (the shared
    // kernel claim under the beam/escalation discipline)
    val dN = ranked(HnswRoutedPq.searchFilteredDistributed(index, qDf,
      baseDf, allowed, k = 10, nProbe = 2, candidates = 64))
    val sN = ranked(HnswRoutedPq.searchFiltered(index, qDf, baseDf,
      allowed, k = 10, nProbe = 2, candidates = 64))
    assert(dN == sN)
  }

  test("filtered serving: allow-set ids absent from the index are " +
      "harmless and an empty allow-set serves zero rows") {
    val n = 600
    val baseDf = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
      .toDF("id", "vec")
    val qDf = (0 until 10).map(q => (q.toLong, vecFromHash(q + 100000L, 9L, 16)))
      .toDF("qid", "qvec")
    val routed = HnswRouted.build(baseDf, cfg, nCells = 2, persist = false)
    val index = HnswRoutedPq.fromRouted(routed, persist = false)

    val phantom = Seq(900000L, 900001L).toDF("id")
    val mixed = baseDf.filter(col("id") % 5 === 0).select(col("id")).union(phantom)
    val served = ranked(HnswRoutedPq.searchFiltered(index, qDf, baseDf,
      mixed, k = 5, nProbe = 2, candidates = 128))
    served.foreach { case (_, id, _) => assert(id % 5 == 0 && id < n) }
    assert(served.nonEmpty)
    val servedD = ranked(HnswRoutedPq.searchFilteredDistributed(index, qDf,
      baseDf, mixed, k = 5, nProbe = 2, candidates = 128))
    assert(servedD == served)

    val empty = spark.emptyDataset[Long].toDF("id")
    assert(HnswRoutedPq.searchFiltered(index, qDf, baseDf, empty,
      k = 5, nProbe = 2, candidates = 128).count() == 0L)
  }
}
