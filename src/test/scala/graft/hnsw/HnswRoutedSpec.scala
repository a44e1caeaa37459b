package graft.hnsw

import graft.HashData.vecFromHash
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.operators.ExactKnn
import org.apache.spark.sql.functions._

/** IVF-routed sharded HNSW: exhaustive regime equals brute force,
  * clustered data keeps recall through the router at small nProbe, and
  * the router actually prunes (per-query fan-out = nProbe cells). */
class HnswRoutedSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(
    HnswParams.standard(64, 128, 16), metric = "cosine", seed = 42L)

  test("exhaustive regime (nProbe = nCells) equals exact brute force") {
    val n = 2000
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val baseDf = base.toDF("id", "vec")
    val qs = (0 until 50).map(q => (q.toLong, vecFromHash(q.toLong + 100000, 9L, 16)))
    val qDf = qs.toDF("qid", "qvec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 8, persist = false)
    val routed = HnswRouted.search(index, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf, baseDf, 10, "cosine")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed == exact)
  }

  test("clustered corpus: nProbe=2 of 16 keeps recall@10 >= 0.95 (the router finds the right cells)") {
    // 16 well-separated cluster centers, 125 points each; queries are
    // perturbed members, so their true neighbors live in 1-2 cells
    val dim = 16
    val centers = (0 until 16).map(c => vecFromHash(c.toLong, 77L, dim).map(_ * 10f))
    val base = (0 until 2000).map { i =>
      val c = i % 16
      val noise = vecFromHash(i.toLong, 3L, dim)
      (i.toLong, centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val baseDf = base.toDF("id", "vec")
    val qs = (0 until 100).map { q =>
      val c = q % 16
      val noise = vecFromHash(q.toLong + 50000, 5L, dim)
      (q.toLong, centers(c).zip(noise).map { case (a, b) => a + b })
    }
    val qDf = qs.toDF("qid", "qvec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 16, persist = false)
    val routed = HnswRouted.search(index, qDf, 10, nProbe = 2)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf, baseDf, 10, "cosine")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (routed intersect exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"routed recall=$recall")
  }

  test("the router prunes: every query reaches exactly nProbe cells, k rows still come back") {
    val base = (0 until 1000).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 8)))
    val baseDf = base.toDF("id", "vec")
    val qDf = Seq((1L, vecFromHash(123L, 9L, 8))).toDF("qid", "qvec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 8, persist = false)
    val out = HnswRouted.search(index, qDf, 5, nProbe = 1).collect()
    // one probed cell still answers a full k (cell-local top-k)
    assert(out.length == 5)
    assert(out.map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("h_recall_routed curve is monotone in nProbe and exact at the nCells endpoint") {
    val rows = graft.SparkEntry.queries("h_recall_routed")(spark, sfDir)
      .orderBy(col("n_probe")).collect()
      .map(r => (r.getLong(0), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L, 16L))
    val recalls = rows.map(_._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall curve not monotone: ${recalls.toSeq}")
    assert(recalls.last == 10000L,
      s"nProbe=nCells must be the exhaustive (exact) regime: ${recalls.last}")
  }

  test("ef0 widens the in-cell beam: the dense-cell recall knob, independent of nProbe") {
    // one dense near-duplicate cloud (the 1e7-rehearsal regime in
    // miniature): every point in ~one cell, so probing more cells can't
    // recover misses — only the in-cell beam can
    val dim = 16
    val center = vecFromHash(0L, 55L, dim).map(_ * 10f)
    val base = (0 until 4000).map { i =>
      val noise = vecFromHash(i.toLong, 3L, dim)
      (i.toLong, center.zip(noise).map { case (a, b) => a + 0.05f * b })
    }
    val baseDf = base.toDF("id", "vec")
    val narrow = BuildConfig(HnswParams.standard(64, 16, 16),
      metric = "cosine", seed = 42L)
    val index = HnswRouted.build(baseDf, narrow, nCells = 4, persist = false)
    val qDf = base.take(300).toDF("qid", "qvec")
    def selfMatch(ef0: Int): Long =
      HnswRouted.search(index, qDf, 1, nProbe = 4, ef0 = ef0)
        .filter(col("qid") === col("id")).count()
    val narrow1 = selfMatch(0)
    val wide = selfMatch(256)
    assert(wide >= narrow1, s"widening the beam lost recall: $narrow1 -> $wide")
    assert(wide >= 297L, s"wide-beam self-match $wide/300 below the 0.99 floor")
  }

  test("every vector lands in exactly one cell (the shards partition the corpus)") {
    val n = 1500
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 8)))
    val index = HnswRouted.build(base.toDF("id", "vec"), cfg,
      nCells = 8, persist = false)
    val byCell = HnswRouted.cellStats(index)
    assert(byCell.map(_._1).distinct.length == byCell.length) // one shard per cell
    assert(byCell.map(_._2).sum == n)
  }

  private def searchRows(index: HnswRouted.RoutedIndex,
                         qDf: org.apache.spark.sql.DataFrame,
                         k: Int, nProbe: Int): Seq[(Long, Long, Int)] =
    HnswRouted.search(index, qDf, k, nProbe)
      .select(col("qid"), col("id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

  test("save/attach round-trips the index: search row-identical, no rebuild machinery") {
    val n = 1200
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val qDf = (0 until 40)
      .map(q => (q.toLong, vecFromHash(q.toLong + 90000, 9L, 16)))
      .toDF("qid", "qvec")
    val index = HnswRouted.build(base.toDF("id", "vec"), cfg,
      nCells = 8, persist = false)
    val before = searchRows(index, qDf, 10, 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-routed-save").toString
    HnswRouted.save(index, dir)
    val restored = HnswRouted.attach(spark, dir, persist = false)
    assert(restored.router.nPrimary == index.router.nPrimary)
    assert(HnswRouted.cellStats(restored).sortBy(_._1).toSeq ==
      HnswRouted.cellStats(index).sortBy(_._1).toSeq)
    assert(searchRows(restored, qDf, 10, 8) == before)
    // a second save supersedes the first (versioned-dir discipline);
    // attach still restores the (identical) index
    HnswRouted.save(restored, dir)
    val again = HnswRouted.attach(spark, dir, persist = false)
    assert(searchRows(again, qDf, 10, 8) == before)
  }

  test("incremental ingest: exhaustive regime equals brute force over the grown corpus") {
    val n = 2000
    val all = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val (first, rest) = all.splitAt(1400)
    val qDf = (0 until 50)
      .map(q => (q.toLong, vecFromHash(q.toLong + 70000, 9L, 16)))
      .toDF("qid", "qvec")
    val index = HnswRouted.build(first.toDF("id", "vec"), cfg,
      nCells = 8, persist = false)
    val grown = HnswRouted.ingest(index, rest.toDF("id", "vec"), persist = false)
    assert(HnswRouted.cellStats(grown).map(_._2).sum == n)
    val routed = HnswRouted.search(grown, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf, all.toDF("id", "vec"), 10, "cosine")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed == exact)
  }

  test("ingest refuses an id already present ANYWHERE in the index, naming its cell") {
    val base = (0 until 500).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 8)))
    val index = HnswRouted.build(base.toDF("id", "vec"), cfg,
      nCells = 4, persist = false)
    // same id, same vector: the global guard fails fast at ingest entry
    val e = intercept[IllegalArgumentException] {
      HnswRouted.ingest(index, base.take(5).toDF("id", "vec"), persist = false)
    }
    assert(e.getMessage.contains("already present"), e.getMessage)
    assert(e.getMessage.contains("cell"), e.getMessage)
  }

  test("ingest refuses an id whose drifted vector routes to a DIFFERENT cell (cross-cell double-registration)") {
    // well-separated clusters so routing is predictable: id 0 lives in
    // cluster 0's cell; redeliver it with a cluster-8 vector, which
    // routes elsewhere — the old per-cell check would silently insert
    // it a second time and a top-k could return id 0 twice
    val dim = 16
    val centers = (0 until 16).map(c => vecFromHash(c.toLong, 77L, dim).map(_ * 10f))
    val base = (0 until 1600).map { i =>
      val noise = vecFromHash(i.toLong, 3L, dim)
      (i.toLong, centers(i % 16).zip(noise).map { case (a, b) => a + b })
    }
    val index = HnswRouted.build(base.toDF("id", "vec"), cfg,
      nCells = 16, persist = false)
    val drifted = Seq((0L,
      centers(8).zip(vecFromHash(99999L, 5L, dim)).map { case (a, b) => a + b }))
    val e = intercept[IllegalArgumentException] {
      HnswRouted.ingest(index, drifted.toDF("id", "vec"), persist = false)
    }
    assert(e.getMessage.contains("already present"), e.getMessage)
    assert(e.getMessage.contains("id 0 lives in cell"), e.getMessage)
  }

  test("cells spread across partitions: composite ids must not collapse under the partitioner") {
    // composite cell ids are multiples of SubCellCap=4096 for every
    // unsplit cell — a raw HashPartitioner mods the Int itself, so for
    // any nCells dividing 4096 ALL cells would land in partition 0 (the
    // whole corpus in one task). The rank-keyed CellPartitioner must
    // give every cell its own partition.
    val base = (0 until 2000).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 8)))
    val index = HnswRouted.build(base.toDF("id", "vec"), cfg,
      nCells = 16, persist = false)
    val part = index.shards.partitioner.get
    assert(part.numPartitions == index.router.allCells.length)
    val occ = index.shards.mapPartitionsWithIndex((pi, it) =>
      it.map { case (c, _) => (pi, c) }).collect()
    assert(occ.nonEmpty)
    assert(occ.map(_._1).distinct.length == occ.length,
      s"cells share partitions: ${occ.sortBy(_._1).toSeq}")
    assert(occ.map(_._1).distinct.length > 1,
      "all cells collapsed into one partition")
  }

  test("CellPartitioner: rank bijection on composite ids, value equality, unknown-id fallback") {
    val cells = Array(0, 4096, 8192, 12288) // 4 unsplit composite ids
    val p = new HnswRouted.CellPartitioner(cells)
    assert(p.numPartitions == 4)
    assert(cells.map(p.getPartition(_)).toSeq == Seq(0, 1, 2, 3))
    assert(p == new HnswRouted.CellPartitioner(cells.clone()))
    assert(p != new HnswRouted.CellPartitioner(Array(0, 4096)))
    val fallback = p.getPartition(999983) // not a known cell
    assert(fallback >= 0 && fallback < 4)
  }

  test("skew guard splits an oversized cell and the exhaustive oracle still holds") {
    // one heavy cluster (most of the corpus) + light scatter: with a
    // tiny row budget the heavy primary cell must split into secondary
    // cells, every final cell lands under the budget, and nProbe =
    // nCells stays EXACT (split expansion preserves the exhaustive
    // guarantee the hash oracle rides on)
    val dim = 8
    val center = vecFromHash(0L, 55L, dim).map(_ * 10f)
    val heavy = (0 until 1200).map { i =>
      val noise = vecFromHash(i.toLong, 3L, dim)
      (i.toLong, center.zip(noise).map { case (a, b) => a + b })
    }
    val scatter = (1200 until 1500).map(i =>
      (i.toLong, vecFromHash(i.toLong, 7L, dim).map(_ * 5f)))
    val all = heavy ++ scatter
    val budget = 400L
    val index = HnswRouted.build(all.toDF("id", "vec"), cfg,
      nCells = 4, persist = false, maxCellRows = budget)
    assert(index.router.sub.nonEmpty, "expected at least one split cell")
    val stats = HnswRouted.cellStats(index)
    assert(stats.map(_._2).sum == all.length)
    assert(stats.forall(_._2 <= budget),
      s"cell over budget after split: ${stats.filter(_._2 > budget).toSeq}")
    val qDf = all.take(60).toDF("qid", "qvec")
    val routed = HnswRouted.search(index, qDf, 10, nProbe = 4)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(qDf, all.toDF("id", "vec"), 10, "cosine")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed == exact)
  }

  test("skew guard fails fast on unsplittable mass, naming the dials") {
    // identical vectors: no quantizer can separate them — the build
    // must refuse at entry (not OOM mid-build) and name every dial
    val v = vecFromHash(1L, 5L, 8)
    val dup = (0 until 300).map(i => (i.toLong, v.clone()))
    val e = intercept[IllegalArgumentException] {
      HnswRouted.build(dup.toDF("id", "vec"), cfg,
        nCells = 2, persist = false, maxCellRows = 50L)
    }
    for (dial <- Seq("nCells", "maxCellRows", "HnswDurable"))
      assert(e.getMessage.contains(dial), s"missing dial $dial: ${e.getMessage}")
  }

  test("search schedules only the probed partitions (PartitionPruning over the rank partitioner)") {
    val base = (0 until 1600).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 8)))
    val index = HnswRouted.build(base.toDF("id", "vec"), cfg,
      nCells = 16, persist = false)
    // the pruned handle over 3 probed cells exposes exactly 3 partitions
    val probed = index.router.allCells.take(3)
    val pruned = HnswRouted.prunedShards(index.shards, probed)
    assert(pruned.partitions.length == 3,
      s"expected 3 pruned partitions, got ${pruned.partitions.length}")
    assert(HnswRouted.prunedShards(index.shards, index.router.allCells)
      .partitions.length == 16)
    // and the pruned pass loses nothing: nProbe=2 search equals itself
    // (the search path already prunes internally — this is a parity
    // canary for the pruning being transparent)
    val qDf = base.take(30).toDF("qid", "qvec")
    val rows = HnswRouted.search(index, qDf, 5, nProbe = 2)
      .select(col("qid"), col("id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == 30)
  }

  test("driftAudit: ~zero on an identically-distributed batch, flags a shifted one") {
    val dim = 16
    val centers = (0 until 8).map(c => vecFromHash(c.toLong, 77L, dim).map(_ * 10f))
    def member(c: Int, i: Long) = {
      val noise = vecFromHash(i, 3L, dim)
      centers(c).zip(noise).map { case (a, b) => a + b }
    }
    val base = (0 until 1600).map(i => (i.toLong, member(i % 8, i.toLong)))
    val index = HnswRouted.build(base.toDF("id", "vec"), cfg,
      nCells = 8, persist = false)
    // same distribution: every cell's batch share tracks its occupancy
    val sameDist = (10000 until 10800).map(i => (i.toLong, member(i % 8, i.toLong)))
    val calm = HnswRouted.driftAudit(index, sameDist.toDF("id", "vec"))
      .select(col("drift_bp")).collect().map(_.getLong(0))
    assert(calm.max < 700, s"uniform tail read as drift: ${calm.toSeq}")
    // shifted distribution: ALL new mass into one cluster — the audit
    // must scream on that cell (its batch share -> 10000 bp vs ~1250)
    val shifted = (20000 until 20800).map(i => (i.toLong, member(3, i.toLong)))
    val alarm = HnswRouted.driftAudit(index, shifted.toDF("id", "vec"))
      .select(col("drift_bp")).collect().map(_.getLong(0))
    assert(alarm.max > 5000, s"shifted batch not flagged: ${alarm.toSeq}")
    // shares are basis points over the same totals: rows sum checks
    val full = HnswRouted.driftAudit(index, shifted.toDF("id", "vec")).collect()
    assert(full.map(_.getLong(1)).sum == 1600L) // index rows
    assert(full.map(_.getLong(3)).sum == 800L)  // batch rows
  }

  test("autoEf: configured beam for small cells, log-widened for dense ones (1e7-rehearsal calibration)") {
    // cells near-exhaustive at the configured ef keep it (catalog-scale
    // plans unchanged)
    assert(HnswRouted.autoEf(128, 375) == 128)
    assert(HnswRouted.autoEf(32, 256) == 32)
    // the rehearsal rung: ef 32 at a 156k-row cell widens past the
    // manually-found 128 (95.9% self-match dial)
    assert(HnswRouted.autoEf(32, 156000) == 144)
    // monotone in cell size once engaged
    val efs = Seq(1000, 10000, 100000, 1000000).map(HnswRouted.autoEf(32, _))
    assert(efs.zip(efs.tail).forall { case (a, b) => a <= b }, efs.toString)
  }

  // ------------------------------------------------------------------
  // Serving lifecycle: tombstone delete, filtered search, compaction,
  // durable tombstones (round-14 parity with the broadcast tier's
  // searchFiltered/searchExcluding/compactModel family).
  // ------------------------------------------------------------------

  private def exactOver(qDf: org.apache.spark.sql.DataFrame,
                        baseDf: org.apache.spark.sql.DataFrame,
                        k: Int): Set[(Long, Long)] =
    ExactKnn.search(qDf, baseDf, k, "cosine")
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Structural graph signature (LayerCsr holds primitive arrays, so
    * case-class == is reference equality on them). */
  private def snapshotSig(s: graft.store.GraphSnapshot) =
    (s.entryPoint.map(ep => (ep.point, ep.layer)),
      s.layers.toSeq.map(_.entriesIterator.toSeq.map {
        case (src, dsts, dists) => (src, dsts.toSeq, dists.toSeq)
      }.sortBy(_._1)))

  test("tombstone serving: exhaustive regime equals exact over the remainder (escalation path)") {
    val n = 2000
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val baseDf = base.toDF("id", "vec")
    val qDf = (0 until 50)
      .map(q => (q.toLong, vecFromHash(q.toLong + 100000, 9L, 16)))
      .toDF("qid", "qvec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 8, persist = false)
    // delete two thirds: per-cell eligible density forces the overfetch
    // loop to escalate past its first beam for most queries
    val deleted = baseDf.filter(col("id") % 3 =!= 0).select(col("id"))
    val tombed = HnswRouted.delete(index, deleted)
    assert(tombed.shards eq index.shards) // O(set) metadata, shards SHARED
    val served = HnswRouted.search(tombed, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = exactOver(qDf, baseDf.filter(col("id") % 3 === 0), 10)
    assert(served == exact)
  }

  test("tombstone serving: near-total deletion drives the exact in-cell fallback and still matches") {
    val n = 1000
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val baseDf = base.toDF("id", "vec")
    val qDf = (0 until 30)
      .map(q => (q.toLong, vecFromHash(q.toLong + 100000, 9L, 16)))
      .toDF("qid", "qvec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 4, persist = false)
    // ~25 survivors over 4 cells: no cell can fill k=10 from a beam, so
    // every (query, cell) pair exhausts escalation and finishes exact
    val deleted = baseDf.filter(col("id") % 40 =!= 0).select(col("id"))
    val tombed = HnswRouted.delete(index, deleted)
    val served = HnswRouted.search(tombed, qDf, 10, nProbe = 4)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = exactOver(qDf, baseDf.filter(col("id") % 40 === 0), 10)
    assert(served == exact)
  }

  test("filtered search: allow-set top-k equals exact over the allowed subset; tombstones compose") {
    val n = 2000
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val baseDf = base.toDF("id", "vec")
    val qDf = (0 until 50)
      .map(q => (q.toLong, vecFromHash(q.toLong + 100000, 9L, 16)))
      .toDF("qid", "qvec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 8, persist = false)
    val allowed = baseDf.filter(col("id") % 5 === 0).select(col("id"))
    val served = HnswRouted.searchFiltered(index, qDf, allowed, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exactOver(qDf, baseDf.filter(col("id") % 5 === 0), 10))
    // allow-set AND deletion set: eligible = allowed minus deleted
    val tombed = HnswRouted.delete(index, baseDf.filter(col("id") % 10 === 0).select(col("id")))
    val both = HnswRouted.searchFiltered(tombed, qDf, allowed, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(both == exactOver(qDf,
      baseDf.filter(col("id") % 5 === 0 && col("id") % 10 =!= 0), 10))
  }

  test("compaction rebuilds only touched cells, matches a fresh build of the remainder, and frees ids") {
    // clustered corpus so deletion can be CELL-LOCAL: wipe cluster 3
    // entirely plus a sliver of cluster 5 — most cells must pass
    // through untouched (graphs identical), the wiped cell must empty
    val dim = 16
    val centers = (0 until 8).map(c => vecFromHash(c.toLong, 77L, dim).map(_ * 10f))
    val base = (0 until 1600).map { i =>
      val noise = vecFromHash(i.toLong, 3L, dim)
      (i.toLong, centers(i % 8).zip(noise).map { case (a, b) => a + b })
    }
    val baseDf = base.toDF("id", "vec")
    val qDf = (0 until 64).map { q =>
      val noise = vecFromHash(q.toLong + 50000, 5L, dim)
      (q.toLong, centers(q % 8).zip(noise).map { case (a, b) => a + b })
    }.toDF("qid", "qvec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 8, persist = false)
    val deadPred = col("id") % 8 === 3 || col("id") === 5L
    val deleted = baseDf.filter(deadPred).select(col("id"))
    val tombed = HnswRouted.delete(index, deleted)
    val compacted = HnswRouted.compact(tombed, persist = false)
    assert(compacted.tombstones.isEmpty)
    // row accounting: survivors only
    val survivors = baseDf.filter(!deadPred)
    assert(HnswRouted.cellStats(compacted).map(_._2).sum == survivors.count())
    // served result identical to a FRESH routed build of the remainder
    // (buildCellFresh determinism) and to brute force
    val freshIdx = HnswRouted.build(survivors, cfg, nCells = 8, persist = false)
    val servedC = searchRows(compacted, qDf, 10, 8)
    assert(servedC == searchRows(freshIdx, qDf, 10, 8))
    assert(servedC.map(t => (t._1, t._2)).toSet == exactOver(qDf, survivors, 10))
    // untouched cells: graph snapshots structurally unchanged (the
    // pass-through-by-reference branch; a rebuild would be identical
    // anyway by determinism, but the contract is "no work off-target")
    val before = index.shards.collect().toMap
    val after = compacted.shards.collect().toMap
    val deadIds = deleted.collect().map(_.getLong(0)).toSet
    val untouched = before.filter { case (_, s) =>
      s.vectors.keysIterator.forall(id => !deadIds.contains(id)) }
    untouched.foreach { case (cell, s) =>
      assert(after(cell).vectors.keySet == s.vectors.keySet)
      assert(snapshotSig(after(cell).snapshot) == snapshotSig(s.snapshot),
        s"cell $cell graph changed")
    }
    // freed ids: re-ingest of a deleted id FAILS before compaction —
    // the TOMBSTONE guard fires first (driver-side, before any job),
    // naming the deletion set rather than the cell — and SUCCEEDS after
    val redelivery = base.filter(_._1 == 5L).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      HnswRouted.ingest(tombed, redelivery, persist = false)
    }
    assert(e.getMessage.contains("tombstoned"), e.getMessage)
    val regrown = HnswRouted.ingest(compacted, redelivery, persist = false)
    assert(HnswRouted.cellStats(regrown).map(_._2).sum == survivors.count() + 1)
  }

  test("ingest of an ABSENT-but-tombstoned id fails fast (no silent loss through the delete->ingest->compact path)") {
    // The hole this pins: delete(absentId) is accepted (membership is
    // never checked), so the id sits in the deletion set without living
    // in any cell. A later ingest of that id passes the shard-key clash
    // scan (no cell holds it) — without the tombstone guard it would
    // land in a cell, stay invisible to search, and be permanently
    // erased by the next compact. Delete-wins is the contract; the
    // guard is what enforces it loudly.
    val n = 300
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val index = HnswRouted.build(base.toDF("id", "vec"), cfg,
      nCells = 4, persist = false)
    val absent = 999999L
    val tombed = HnswRouted.delete(index, Seq(absent).toDF("id"))
    val late = Seq((absent, vecFromHash(absent, 11L, 16))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      HnswRouted.ingest(tombed, late, persist = false)
    }
    assert(e.getMessage.contains("tombstoned"), e.getMessage)
    // compact with an absent-only deletion set touches no cell but
    // clears the set — the id is then free to ingest, and SERVES
    val compacted = HnswRouted.compact(tombed, persist = false)
    assert(compacted.tombstones.isEmpty)
    val regrown = HnswRouted.ingest(compacted, late, persist = false)
    val qDf = Seq((0L, vecFromHash(absent, 11L, 16))).toDF("qid", "qvec")
    val top = HnswRouted.search(regrown, qDf, 1, nProbe = 4)
      .select(col("id")).collect().map(_.getLong(0))
    assert(top.sameElements(Array(absent)))
  }

  test("retrain: fresh router on the live corpus rebalances drifted mass and folds tombstones out") {
    // build on a BALANCED 8-cluster corpus, then ingest a tail that all
    // lands in cluster 3 — the frozen router crams it into one cell
    // (the drift the audit alarms on); retrain re-runs k-means on the
    // current corpus, so the dense region earns multiple cells and the
    // max cell shrinks — the rebalance that bounds per-cell memory and
    // build/search cost
    val dim = 16
    val centers = (0 until 8).map(c => vecFromHash(c.toLong, 77L, dim).map(_ * 10f))
    def member(c: Int, i: Long) = {
      val noise = vecFromHash(i, 3L, dim)
      centers(c).zip(noise).map { case (a, b) => a + b }
    }
    val base = (0 until 800).map(i => (i.toLong, member(i % 8, i.toLong)))
    val tail = (800 until 1600).map(i => (i.toLong, member(3, i.toLong)))
    val index = HnswRouted.build(base.toDF("id", "vec"), cfg, nCells = 8,
      persist = false)
    val grown = HnswRouted.ingest(index, tail.toDF("id", "vec"), persist = false)
    val maxBefore = HnswRouted.cellStats(grown).map(_._2).max
    assert(maxBefore >= 850L, s"planted skew missing: $maxBefore") // ~100 + 800
    // delete a slice so retrain also proves the tombstone fold
    val tombed = HnswRouted.delete(grown,
      base.filter(_._1 % 10 == 0).map(_._1).toDF("id"))
    val retrained = HnswRouted.retrain(tombed, persist = false)
    assert(retrained.tombstones.isEmpty)
    val stats = HnswRouted.cellStats(retrained)
    val survivors = (base ++ tail).filterNot(r => r._1 < 800 && r._1 % 10 == 0)
    assert(stats.map(_._2).sum == survivors.length)
    assert(stats.map(_._2).max < maxBefore,
      s"retrain did not rebalance: max ${stats.map(_._2).max} vs $maxBefore")
    // exhaustive parity over the survivors (routing never changes the
    // exhaustive answer; the fold must have excluded exactly the dead)
    val qDf = (0 until 50).map { q =>
      (q.toLong, member(q % 8, q.toLong + 50000)) }.toDF("qid", "qvec")
    val served = HnswRouted.search(retrained, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exactOver(qDf, survivors.toDF("id", "vec"), 10))
    // freed id re-ingests
    val regrown = HnswRouted.ingest(retrained,
      Seq((0L, member(0, 0L))).toDF("id", "vec"), persist = false)
    assert(HnswRouted.cellStats(regrown).map(_._2).sum == survivors.length + 1)
  }

  test("save/attach persists tombstones: the restored index keeps serving the deletion") {
    val n = 1200
    val base = (0 until n).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16)))
    val baseDf = base.toDF("id", "vec")
    val qDf = (0 until 40)
      .map(q => (q.toLong, vecFromHash(q.toLong + 90000, 9L, 16)))
      .toDF("qid", "qvec")
    val index = HnswRouted.build(baseDf, cfg, nCells = 8, persist = false)
    val tombed = HnswRouted.delete(index,
      baseDf.filter(col("id") % 4 === 0).select(col("id")))
    val dir = java.nio.file.Files.createTempDirectory("graft-routed-tomb").toString
    HnswRouted.save(tombed, dir)
    val restored = HnswRouted.attach(spark, dir, persist = false)
    assert(restored.tombstones.toSeq == tombed.tombstones.toSeq)
    val served = HnswRouted.search(restored, qDf, 10, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == exactOver(qDf, baseDf.filter(col("id") % 4 =!= 0), 10))
  }
}
