package graft.hnsw

import graft.HashData.codeOf
import graft.SparkSpec
import graft.operators.ExactKnn
import org.apache.spark.sql.functions._

/** IVF-routed HNSW over u64 Hamming codes: k-majority router,
  * exhaustive-regime exactness against brute force, skew fail-fast. */
class HnswRoutedCodesSpec extends SparkSpec {
  import spark.implicits._

  private val params = HnswParams.standard(64, 128, 16)

  test("exhaustive regime (nProbe = nCells) equals exact brute force under Hamming") {
    val n = 2000
    val base = (0 until n).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val baseDf = base.toDF("id", "code")
    val qs = (0 until 50).map(q => (q.toLong, codeOf(q.toLong + 100000, 9L)))
    val qDf = qs.toDF("qid", "qcode")
    val index = HnswRoutedCodes.build(baseDf, params, nCells = 8,
      seed = 42L, persist = false)
    val routed = HnswRoutedCodes.search(index, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id"), col("hamming"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .sorted.toSeq
    val exact = ExactKnn.search(
        qDf.withColumnRenamed("qcode", "qvec"),
        baseDf.withColumnRenamed("code", "vec"), 10, "hamming")
      .select(col("qid"), col("id"), col("score").cast("int"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .sorted.toSeq
    assert(routed == exact)
  }

  test("k-majority anchors are deterministic and assignment partitions the corpus") {
    val base = (0 until 1500).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val df = base.toDF("id", "code")
    val a1 = HnswRoutedCodes.trainAnchors(df, 8, seed = 11L)
    val a2 = HnswRoutedCodes.trainAnchors(df, 8, seed = 11L)
    assert(a1.toSeq == a2.toSeq)
    val index = HnswRoutedCodes.build(df, params, nCells = 8,
      seed = 42L, persist = false)
    val stats = index.shards.map { case (c, s) => (c, s.codes.size) }.collect()
    assert(stats.map(_._1).distinct.length == stats.length)
    assert(stats.map(_._2).sum == 1500)
  }

  test("clustered codes: small nProbe keeps high recall (the anchors find the planted cells)") {
    // 8 planted anchor codes, members within Hamming radius ~6 of their
    // anchor: a query near an anchor should find its neighbors probing
    // 2 of 8 cells
    val anchors = (0 until 8).map(a => codeOf(a.toLong, 77L))
    def member(a: Int, i: Long): Long = {
      // flip 3 seeded bit positions of the anchor
      var c = anchors(a)
      var k = 0
      while (k < 3) {
        val bit = (HnswParams.uniformFromHash(i * 7 + k, 13L) * 64).toInt.min(63)
        c ^= (1L << bit)
        k += 1
      }
      c
    }
    val base = (0 until 1600).map(i => (i.toLong, member(i % 8, i.toLong)))
    val baseDf = base.toDF("id", "code")
    val qs = (0 until 80).map(q => (q.toLong, member(q % 8, q.toLong + 90000)))
    val qDf = qs.toDF("qid", "qcode")
    val index = HnswRoutedCodes.build(baseDf, params, nCells = 8,
      seed = 42L, persist = false)
    val routed = HnswRoutedCodes.search(index, qDf, 10, nProbe = 2)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(
        qDf.withColumnRenamed("qcode", "qvec"),
        baseDf.withColumnRenamed("code", "vec"), 10, "hamming")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (routed intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"routed hamming recall=$recall")
  }

  private def searchRows(index: HnswRoutedCodes.RoutedCodeIndex,
                         qDf: org.apache.spark.sql.DataFrame,
                         k: Int, nProbe: Int): Seq[(Long, Long, Int, Int)] =
    HnswRoutedCodes.search(index, qDf, k, nProbe)
      .select(col("qid"), col("id"), col("hamming"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .sorted.toSeq

  test("save/attach round-trips the index: search row-identical, no retrain, versions supersede") {
    val n = 1500
    val base = (0 until n).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val qDf = (0 until 40).map(q => (q.toLong, codeOf(q.toLong + 80000, 9L)))
      .toDF("qid", "qcode")
    val index = HnswRoutedCodes.build(base.toDF("id", "code"), params,
      nCells = 8, seed = 42L, persist = false)
    val before = searchRows(index, qDf, 10, 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-rcodes-save").toString
    HnswRoutedCodes.save(index, dir)
    val restored = HnswRoutedCodes.attach(spark, dir, persist = false)
    assert(restored.anchors.toSeq == index.anchors.toSeq)
    assert(restored.seed == index.seed)
    assert(restored.shards.map { case (c, s) => (c, s.codes.size) }
      .collect().sortBy(_._1).toSeq ==
      index.shards.map { case (c, s) => (c, s.codes.size) }
        .collect().sortBy(_._1).toSeq)
    assert(searchRows(restored, qDf, 10, 8) == before)
    // a second save supersedes the first (versioned-dir discipline)
    HnswRoutedCodes.save(restored, dir)
    val again = HnswRoutedCodes.attach(spark, dir, persist = false)
    assert(searchRows(again, qDf, 10, 8) == before)
  }

  test("incremental ingest: exhaustive regime equals brute force over the grown corpus") {
    val n = 2000
    val all = (0 until n).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val (first, rest) = all.splitAt(1400)
    val qDf = (0 until 50).map(q => (q.toLong, codeOf(q.toLong + 70000, 9L)))
      .toDF("qid", "qcode")
    val index = HnswRoutedCodes.build(first.toDF("id", "code"), params,
      nCells = 8, seed = 42L, persist = false)
    val grown = HnswRoutedCodes.ingest(index, rest.toDF("id", "code"),
      persist = false)
    assert(grown.shards.map(_._2.codes.size.toLong).sum() == n)
    val routed = HnswRoutedCodes.search(grown, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id"), col("hamming"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .sorted.toSeq
    val exact = ExactKnn.search(
        qDf.withColumnRenamed("qcode", "qvec"),
        all.toDF("id", "code").withColumnRenamed("code", "vec"),
        10, "hamming")
      .select(col("qid"), col("id"), col("score").cast("int"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .sorted.toSeq
    assert(routed == exact)
  }

  test("ingested index save/attach round-trips (durable + incremental compose)") {
    val all = (0 until 1200).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val (first, rest) = all.splitAt(900)
    val qDf = (0 until 30).map(q => (q.toLong, codeOf(q.toLong + 60000, 9L)))
      .toDF("qid", "qcode")
    val grown = HnswRoutedCodes.ingest(
      HnswRoutedCodes.build(first.toDF("id", "code"), params,
        nCells = 4, seed = 42L, persist = false),
      rest.toDF("id", "code"), persist = false)
    val before = searchRows(grown, qDf, 10, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-rcodes-grow").toString
    HnswRoutedCodes.save(grown, dir)
    val restored = HnswRoutedCodes.attach(spark, dir, persist = false)
    assert(searchRows(restored, qDf, 10, 4) == before)
  }

  test("ingest refuses a redelivered id even when its drifted code routes to a DIFFERENT cell") {
    // planted clusters make routing predictable: id 0 is a cluster-0
    // member; redeliver it with a cluster-5 code, which routes to a
    // different anchor — the global guard must name the holding cell
    val anchors = (0 until 8).map(a => codeOf(a.toLong, 77L))
    def member(a: Int, i: Long): Long = {
      var c = anchors(a)
      var k = 0
      while (k < 12) {
        val bit = (HnswParams.uniformFromHash(i * 17 + k, 13L) * 64).toInt.min(63)
        c ^= (1L << bit)
        k += 1
      }
      c
    }
    val base = (0 until 1600).map(i => (i.toLong, member(i % 8, i.toLong)))
    val index = HnswRoutedCodes.build(base.toDF("id", "code"), params,
      nCells = 8, seed = 42L, persist = false)
    val drifted = Seq((0L, member(5, 99999L)))
    val e = intercept[IllegalArgumentException] {
      HnswRoutedCodes.ingest(index, drifted.toDF("id", "code"), persist = false)
    }
    assert(e.getMessage.contains("already present"), e.getMessage)
    assert(e.getMessage.contains("id 0 lives in cell"), e.getMessage)
  }

  test("DISK_ONLY residency serves the same rows (the local-mode lever for indexes bigger than the heap)") {
    import org.apache.spark.storage.StorageLevel
    val base = (0 until 1200).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val qDf = (0 until 30).map(q => (q.toLong, codeOf(q.toLong + 50000, 9L)))
      .toDF("qid", "qcode")
    val inMem = HnswRoutedCodes.build(base.toDF("id", "code"), params,
      nCells = 4, seed = 42L, persist = false)
    val onDisk = HnswRoutedCodes.build(base.toDF("id", "code"), params,
      nCells = 4, seed = 42L, storage = StorageLevel.DISK_ONLY)
    assert(onDisk.shards.getStorageLevel == StorageLevel.DISK_ONLY)
    assert(searchRows(onDisk, qDf, 10, 4) == searchRows(inMem, qDf, 10, 4))
    val grown = HnswRoutedCodes.ingest(onDisk,
      Seq((90000L, codeOf(90000L, 23L))).toDF("id", "code"))
    assert(grown.shards.getStorageLevel == StorageLevel.DISK_ONLY)
    assert(grown.shards.map(_._2.codes.size.toLong).sum() == 1201)
    grown.unpersist()
  }

  test("trainAnchors yields DISTINCT anchors even when hash picks collide (no dead cells)") {
    // 3 distinct codes, heavily repeated: naive hash selection would
    // almost surely duplicate an anchor; duplicates tie to the lowest
    // index, so the duplicate's cell could never receive members
    val distinct3 = Seq(codeOf(1L, 5L), codeOf(2L, 5L), codeOf(3L, 5L))
    val df = (0 until 900).map(i => (i.toLong, distinct3(i % 3))).toDF("id", "code")
    val anchors = HnswRoutedCodes.trainAnchors(df, 8, seed = 11L)
    assert(anchors.length == anchors.distinct.length,
      s"duplicate anchors: ${anchors.toSeq}")
    assert(anchors.length <= 3)
    // and on a rich corpus the full complement trains distinct
    val rich = (0 until 1500).map(i => (i.toLong, codeOf(i.toLong, 23L))).toDF("id", "code")
    val a8 = HnswRoutedCodes.trainAnchors(rich, 8, seed = 11L)
    assert(a8.length == 8 && a8.distinct.length == 8)
  }

  test("skew guard fails fast on collapsed code mass, naming the dials") {
    val c = codeOf(1L, 5L)
    val dup = (0 until 300).map(i => (i.toLong, c))
    val e = intercept[IllegalArgumentException] {
      HnswRoutedCodes.build(dup.toDF("id", "code"), params, nCells = 2,
        seed = 42L, persist = false, maxCellRows = 50L)
    }
    for (dial <- Seq("nCells", "maxCellRows", "buildBatched"))
      assert(e.getMessage.contains(dial), s"missing dial $dial: ${e.getMessage}")
  }

  // ------------------------------------------------------------------
  // Serving lifecycle parity with the float tier (HnswRoutedSpec):
  // tombstones, filtered search, compaction, durable deletion set.
  // ------------------------------------------------------------------

  private def exactHamming(qDf: org.apache.spark.sql.DataFrame,
                           baseDf: org.apache.spark.sql.DataFrame,
                           k: Int): Set[(Long, Long)] =
    ExactKnn.search(
        qDf.withColumnRenamed("qcode", "qvec"),
        baseDf.withColumnRenamed("code", "vec"), k, "hamming")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("tombstone serving under Hamming: exhaustive regime equals exact over the remainder") {
    val n = 2000
    val base = (0 until n).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val baseDf = base.toDF("id", "code")
    val qDf = (0 until 50).map(q => (q.toLong, codeOf(q.toLong + 100000, 9L)))
      .toDF("qid", "qcode")
    val index = HnswRoutedCodes.build(baseDf, params, nCells = 8,
      seed = 42L, persist = false)
    val tombed = HnswRoutedCodes.delete(index,
      baseDf.filter(col("id") % 3 =!= 0).select(col("id")))
    assert(tombed.shards eq index.shards)
    val served = HnswRoutedCodes.search(tombed, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exactHamming(qDf, baseDf.filter(col("id") % 3 === 0), 10))
    // filtered search composes with the deletion set
    val allowed = baseDf.filter(col("id") % 2 === 0).select(col("id"))
    val both = HnswRoutedCodes.searchFiltered(tombed, qDf, allowed, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(both == exactHamming(qDf,
      baseDf.filter(col("id") % 2 === 0 && col("id") % 3 === 0), 10))
  }

  test("patched compaction: row-identical to the full-copy variant; only the overlay persists; fold releases it") {
    val n = 1500
    val baseDf = (0 until n).map(i => (i.toLong, codeOf(i.toLong, 23L)))
      .toDF("id", "code")
    val qDf = (0 until 40).map(q => (q.toLong, codeOf(q.toLong + 80000, 9L)))
      .toDF("qid", "qcode")
    val index = HnswRoutedCodes.build(baseDf, params, nCells = 8, seed = 42L)
    val tombed = HnswRoutedCodes.delete(index,
      baseDf.filter(col("id") % 4 === 0).select(col("id")))
    def rows(idx: HnswRoutedCodes.RoutedCodeIndex) =
      HnswRoutedCodes.search(idx, qDf, 10, nProbe = 8)
        .select(col("qid"), col("id"), col("hamming"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
        .sorted.toSeq
    val full = HnswRoutedCodes.compact(tombed, persist = false,
      unpersistPrior = false)
    val patch = HnswRoutedCodes.compactPatched(tombed)
    assert(patch.tombstones.isEmpty)
    assert(rows(patch) == rows(full))
    assert(patch.overlay.length == 1)
    assert(patch.shards.partitioner == index.shards.partitioner)
    assert(patch.shards.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
    assert(patch.overlay.head.getStorageLevel.useMemory)
    // base handle still serves its own tombstoned answer
    assert(rows(tombed) == rows(tombed))
    val folded = HnswRoutedCodes.foldOverlay(patch)
    assert(folded.overlay.isEmpty)
    assert(rows(folded) == rows(full))
    folded.unpersist(); index.unpersist()
  }

  test("compaction folds the deletion set out per cell; freed ids re-ingest; parity with fresh build") {
    val n = 1500
    val base = (0 until n).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val baseDf = base.toDF("id", "code")
    val qDf = (0 until 40).map(q => (q.toLong, codeOf(q.toLong + 80000, 9L)))
      .toDF("qid", "qcode")
    val index = HnswRoutedCodes.build(baseDf, params, nCells = 8,
      seed = 42L, persist = false)
    val deleted = baseDf.filter(col("id") % 4 === 0).select(col("id"))
    val tombed = HnswRoutedCodes.delete(index, deleted)
    val compacted = HnswRoutedCodes.compact(tombed, persist = false)
    assert(compacted.tombstones.isEmpty)
    val survivors = baseDf.filter(col("id") % 4 =!= 0)
    assert(compacted.shards.map { case (_, s) => s.codes.size.toLong }
      .collect().sum == survivors.count())
    // graph-identical to a fresh build of the survivors (buildCellFresh
    // determinism): row-identical serving incl. distances and ranks
    val fresh = HnswRoutedCodes.build(survivors, params, nCells = 8,
      seed = 42L, persist = false)
    // NOTE: fresh retrains anchors on the SURVIVOR sample, so cell
    // boundaries can differ — compare in the exhaustive regime where
    // routing is irrelevant, against brute force
    val servedC = HnswRoutedCodes.search(compacted, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val servedF = HnswRoutedCodes.search(fresh, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = exactHamming(qDf, survivors, 10)
    assert(servedC == exact)
    assert(servedF == exact)
    // freed ids: blocked before compaction (the tombstone guard fires
    // first, driver-side), accepted after
    val redelivery = base.filter(_._1 == 4L).toDF("id", "code")
    val e = intercept[IllegalArgumentException] {
      HnswRoutedCodes.ingest(tombed, redelivery, persist = false)
    }
    assert(e.getMessage.contains("tombstoned"), e.getMessage)
    val regrown = HnswRoutedCodes.ingest(compacted, redelivery, persist = false)
    assert(regrown.shards.map { case (_, s) => s.codes.size.toLong }
      .collect().sum == survivors.count() + 1)
  }

  test("retrain rebuilds from the index's own shards: tombstones fold, parity holds, ids free") {
    val n = 1500
    val base = (0 until n).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val baseDf = base.toDF("id", "code")
    val qDf = (0 until 40).map(q => (q.toLong, codeOf(q.toLong + 80000, 9L)))
      .toDF("qid", "qcode")
    val index = HnswRoutedCodes.build(baseDf, params, nCells = 8,
      seed = 42L, persist = false)
    val tombed = HnswRoutedCodes.delete(index,
      baseDf.filter(col("id") % 6 === 0).select(col("id")))
    val retrained = HnswRoutedCodes.retrain(tombed, persist = false)
    assert(retrained.tombstones.isEmpty)
    assert(retrained.anchors.length == 8)
    val survivors = baseDf.filter(col("id") % 6 =!= 0)
    assert(retrained.shards.map { case (_, s) => s.codes.size.toLong }
      .collect().sum == survivors.count())
    val served = HnswRoutedCodes.search(retrained, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exactHamming(qDf, survivors, 10))
    val regrown = HnswRoutedCodes.ingest(retrained,
      base.filter(_._1 == 0L).toDF("id", "code"), persist = false)
    assert(regrown.shards.map { case (_, s) => s.codes.size.toLong }
      .collect().sum == survivors.count() + 1)
  }

  test("save/attach persists the deletion set (restart keeps serving accepted deletes)") {
    val n = 1200
    val base = (0 until n).map(i => (i.toLong, codeOf(i.toLong, 23L)))
    val baseDf = base.toDF("id", "code")
    val qDf = (0 until 30).map(q => (q.toLong, codeOf(q.toLong + 80000, 9L)))
      .toDF("qid", "qcode")
    val index = HnswRoutedCodes.build(baseDf, params, nCells = 8,
      seed = 42L, persist = false)
    val tombed = HnswRoutedCodes.delete(index,
      baseDf.filter(col("id") % 5 === 0).select(col("id")))
    val dir = java.nio.file.Files.createTempDirectory("graft-rcodes-tomb").toString
    HnswRoutedCodes.save(tombed, dir)
    val restored = HnswRoutedCodes.attach(spark, dir, persist = false)
    assert(restored.tombstones.toSeq == tombed.tombstones.toSeq)
    val served = HnswRoutedCodes.search(restored, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exactHamming(qDf, baseDf.filter(col("id") % 5 =!= 0), 10))
  }
}
