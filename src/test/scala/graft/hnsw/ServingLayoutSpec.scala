package graft.hnsw

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import graft.plans.{HnswSql, HnswStrategy}
import graft.store.{ArenaVectorStore, ArrayVectorStore, GraphSnapshot, Metrics}

/** The serving view ([[OrdinalGraph.search]]) against the reference
  * engine on built models: every query's `(id, dist)` list must equal
  * [[HnswSearcher.searchWithEf]] over an [[ArrayVectorStore]] and the
  * model's snapshot, distances bit for bit. The data holds the cases where
  * an ordinal layout can go wrong: exact duplicate vectors (ties must come
  * back in id order), zero vectors, vectors shorter than the rest, and
  * non-contiguous negative ids, id -1 among them. */
class ServingLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 12

  private def vecFromHash(i: Long, seed: Long, d: Int = dim): Array[Float] =
    Array.tabulate(d)(j =>
      (HnswParams.uniformFromHash(i * 31 + j, seed) * 2.0 - 1.0).toFloat)

  /** 600 rows under ids 7i - 2000 plus id -1: every 9th row copies an
    * earlier row's vector, rows 5, 50 and 500 are zero vectors, rows 7
    * and 70 are three floats short. */
  private val rows: Array[(Long, Array[Float])] = {
    val base = (0 until 600).map { i =>
      val v =
        if (i == 5 || i == 50 || i == 500) new Array[Float](dim)
        else if (i == 7 || i == 70) vecFromHash(i.toLong, 3L, dim - 3)
        else if (i % 9 == 8) vecFromHash((i / 3).toLong, 3L)
        else vecFromHash(i.toLong, 3L)
      (i * 7L - 2000L, v)
    }
    (base :+ ((-1L, vecFromHash(9999L, 3L)))).toArray
  }

  /** Random queries, the vectors of rows 2 and 11 (each stored twice:
    * distance ties at the head of the list), a zero query (cosine ties
    * everywhere) and queries shorter and longer than the stored vectors. */
  private val queries: Seq[Array[Float]] =
    (0 until 30).map(q => vecFromHash(q + 50000L, 5L)) ++
      Seq(vecFromHash(2L, 3L), vecFromHash(11L, 3L), new Array[Float](dim),
        vecFromHash(60000L, 5L, dim - 4), vecFromHash(60001L, 5L, dim + 2))

  private val params = HnswParams.standard(efConstruction = 32, efSearch = 16, m = 6)

  private def build(metric: String, data: Array[(Long, Array[Float])] = rows): HnswModel =
    HnswDistributed.buildFromArray(spark, data,
      BuildConfig(params, metric = metric, seed = 7L, seedBatch = 64, maxBatch = 128))

  private lazy val models: Map[String, HnswModel] =
    Seq("cosine", "l2", "dot").map(m => m -> build(m)).toMap

  private def bits(hits: FurthestQueue): List[(Long, Long)] =
    hits.iterator.map(nb => (nb.dst, java.lang.Double.doubleToRawLongBits(nb.dist))).toList

  /** The engine over the model's id-keyed store, the query staged under
    * an id the data does not use. */
  /** A cosine model of `snap` over `vecs`, through the factory attach uses. */
  private def modelOf(snap: GraphSnapshot, vecs: LongVecMap): HnswModel = {
    val (ids, vs) = vecs.iterator.toArray.unzip
    HnswModel(params, OrdinalForm.of(ArenaVectorStore.of("cosine", ids, vs), snap))
  }

  private def reference(m: HnswModel, qvec: Array[Float], k: Int, ef0: Int): List[(Long, Long)] = {
    val store = new ArrayVectorStore(Metrics.byName(m.metricName), base = m.vectors)
    val q = store.prepareQueryWithId(Long.MinValue, qvec)
    bits(new HnswSearcher(m.params).searchWithEf(store, m.snapshot, q, k, ef0))
  }

  test("layout kernel equals HnswSearcher.searchWithEf under cosine, l2 and dot") {
    var tiedRuns = 0
    models.foreach { case (metric, m) =>
      val kernel = m.kernel()
      assert(m.snapshot.layers.length > 1, "the data must give a multi-layer graph")
      // (k, ef0): plain search, k past efSearch(0) with and without the
      // beam floor, and a single hit
      for (qvec <- queries; (k, ef0) <- Seq((10, 0), (40, 0), (40, 40), (1, 0))) {
        val got = bits(kernel.search(qvec, k, ef0))
        assert(got == reference(m, qvec, k, ef0), s"$metric k=$k ef0=$ef0")
        if (got.sliding(2).exists { case Seq(a, b) => a._2 == b._2; case _ => false })
          tiedRuns += 1
      }
      assert(bits(kernel.search(queries.head, 40, 0)).length == params.getEfSearch(0))
    }
    assert(tiedRuns > 0, "no result list held a distance tie")
  }

  test("exactTopK equals a brute-force (dist, id) ranking of the kept ids") {
    models.foreach { case (metric, m) =>
      val dist = Metrics.byName(metric)
      val kernel = m.kernel()
      val keeps: Seq[Long => Boolean] = Seq(_ => true, _ % 3 == 0, id => id < -1500L)
      for (qvec <- queries; keep <- keeps; k <- Seq(0, 5, 700)) {
        val truth = rows.filter(r => keep(r._1))
          .map { case (id, v) => (id, dist(qvec, v)) }
          .sortBy { case (id, d) => (d, id) }.take(k)
          .map { case (id, d) => (id, java.lang.Double.doubleToRawLongBits(d)) }.toList
        assert(bits(kernel.exactTopK(qvec, k, keep)) == truth, s"$metric k=$k")
      }
    }
  }

  test("empty and single-vector models") {
    val empty = build("cosine", Array.empty)
    assert(empty.kernel().search(queries.head, 10, 0).isEmpty)
    assert(empty.kernel().exactTopK(queries.head, 10, _ => true).isEmpty)
    val one = build("l2", rows.take(1))
    for (qvec <- queries)
      assert(bits(one.kernel().search(qvec, 10, 0)) == reference(one, qvec, 10, 0))
    // a graph vertex without a vector is rejected
    intercept[IllegalStateException](
      OrdinalForm.of(ArenaVectorStore.of("l2", Array.empty, Array.empty), one.snapshot))
  }

  test("compacted models and streaming snapshots serve through the layout kernel, equal to HnswSearcher") {
    val m = models("cosine")
    val deleted = Seq(rows(3)._1, rows(4)._1).toDF("id")
    val compacted = HnswDistributed.compactModel(m, deleted)
    val index = new graft.streaming.StreamingIngest.IncrementalIndex(
      BuildConfig(params, metric = "cosine", seed = 7L))
    index.insertRows(rows.take(50) :+ rows.last) // id -1 included
    for (model <- Seq(compacted, index.model)) {
      val kernel = model.kernel()
      for (qvec <- queries; (k, ef0) <- Seq((10, 0), (40, 40)))
        assert(bits(kernel.search(qvec, k, ef0)) == reference(model, qvec, k, ef0), s"k=$k ef0=$ef0")
    }
    // the view of the compacted model serves the survivors only
    val kept = compacted.kernel().exactTopK(queries.head, rows.length, _ => true)
      .iterator.map(_.dst).toSet
    assert(kept == rows.map(_._1).toSet -- Set(rows(3)._1, rows(4)._1))
  }

  test("serve sites return HnswSearcher.searchWithEf's rows, down to the exact-scan fallback") {
    val m = build("cosine")
    val qDf = queries.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("qid", "qvec")
    type Rows = Set[(Long, Long, Long, Int)]
    def rowsOf(df: DataFrame): Rows =
      df.select("qid", "id", "dist", "rank").collect().map(r =>
        (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3))).toSet
    /** The rows a serve site must return when each query's hits are `hits`. */
    def expected(hits: (Array[Float], Long) => List[(Long, Long)]): Rows =
      queries.zipWithIndex.flatMap { case (v, i) =>
        hits(v, i.toLong).zipWithIndex.map { case ((id, d), r) => (i.toLong, id, d, r + 1) }
      }.toSet
    def plain(k: Int, ef0: Int): Rows = expected((v, _) => reference(m, v, k, ef0))
    /** searchPredicated's overfetch loop on the reference engine, with a
      * brute-force `(dist, id)` scan where the beam spans the index. */
    def predicated(keep: Long => Boolean, k: Int): Rows = expected { (v, _) =>
      val n = m.size
      var kp = math.max(4 * k, params.getEfSearch(0))
      var out: List[(Long, Long)] = null
      while (out == null) {
        val found = reference(m, v, kp, kp).filter(h => keep(h._1)).take(k)
        if (found.length >= k) out = found
        else if (kp >= n) {
          val dist = Metrics.byName(m.metricName)
          out = rows.filter(r => keep(r._1)).map { case (id, u) => (id, dist(v, u)) }
            .sortBy { case (id, d) => (d, id) }.take(k)
            .map { case (id, d) => (id, java.lang.Double.doubleToRawLongBits(d)) }.toList
        } else kp = math.min(n, kp * 4)
      }
      out
    }
    val few = rows.take(40).map(_._1).filter(_ % 2 == 0).take(3).toSet
    val allButFew = rows.drop(3).map(_._1).toSet
    def idsDf(ids: Set[Long]) = ids.toSeq.toDF("id")
    def same(got: DataFrame, want: Rows): Unit = {
      assert(want.nonEmpty)
      assert(rowsOf(got) == want)
    }
    same(HnswDistributed.search(qDf, m, 10), plain(10, 0))
    same(HnswDistributed.search(qDf, m, 40), plain(40, 0)) // k > efSearch(0)
    // 3 allowed ids, k = 5: the beam spans the index and the exact scan answers
    same(HnswDistributed.searchFiltered(qDf, m, idsDf(few), 5), predicated(few, 5))
    same(HnswDistributed.searchFiltered(qDf, m, idsDf(rows.map(_._1).toSet), 10),
      predicated(_ => true, 10))
    same(HnswDistributed.searchExcluding(qDf, m, idsDf(allButFew), 5),
      predicated(id => !allButFew(id), 5))
    same(HnswDistributed.searchExcluding(qDf, m, idsDf(few), 10), predicated(id => !few(id), 10))
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies.filterNot(_.isInstanceOf[HnswStrategy]) :+ new HnswStrategy
    same(HnswSql.knn(qDf, m, 40), plain(40, 40))

    // the sharded and routed tiers: a partition-local top-k per shard or
    // probed cell, then one (dist, id) merge. Id -1 is stored in a shard
    // and a cell; the reference stages each query under an unused id.
    /** Each query's rows from its shards' `(id, dist-bits)` lists, merged. */
    def merged(qs: Seq[(Array[Float], Long)], k: Int)(
        perShard: Array[Float] => Seq[List[(Long, Long)]]): Rows =
      qs.flatMap { case (v, qid) =>
        perShard(v).flatten
          .sortBy { case (id, d) => (java.lang.Double.longBitsToDouble(d), id) }.take(k)
          .zipWithIndex.map { case ((id, d), r) => (qid, id, d, r + 1) }
      }.toSet
    val cfg = BuildConfig(params, metric = "cosine", seed = 7L)
    val rowsDf = rows.toSeq.toDF("id", "vec")
    val sharded = HnswDistributed.buildSharded(rowsDf, cfg, numShards = 3)
    try {
      val shards = sharded.shards.collect()
      assert(shards.length == 3 && shards.exists(_.vectors.contains(-1L)))
      val qs = queries.zipWithIndex.map { case (v, i) => (v, i.toLong) }
      for (k <- Seq(10, 40))
        same(HnswDistributed.searchSharded(sharded, qDf, k), merged(qs, k)(v =>
          shards.toSeq.map(s => reference(modelOf(s.snapshot, s.vectors), v, k, 0))))
    } finally sharded.unpersist()

    // k-means routes full-length vectors: the short rows and queries stay out
    val full = rows.filter(_._2.length == dim)
    val fullQ = queries.zipWithIndex.collect { case (v, i) if v.length == dim => (v, i.toLong) }
    val routed = HnswRouted.build(full.toSeq.toDF("id", "vec"), cfg, nCells = 4, persist = false)
    val cells = routed.shards.collect().toSeq
    assert(cells.exists(_._2.vectors.contains(-1L)))
    val fullDf = fullQ.map { case (v, i) => (i, v) }.toDF("qid", "qvec")
    for (nProbe <- Seq(routed.router.nPrimary, 2)) {
      same(HnswRouted.search(routed, fullDf, 10, nProbe), merged(fullQ, 10) { v =>
        val probed = routed.router.probeCells(v, nProbe).toSet
        cells.filter(c => probed(c._1)).map { case (_, c) =>
          reference(modelOf(c.snapshot, c.vectors), v, 10,
            HnswRouted.cellEf(params, 0, c.vectors.size))
        }
      })
    }
  }
}
