package graft.hnsw

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.functions.PqKernels
import graft.hnsw.HnswDistributed.BuildConfig
import graft.store.{AdcVectorStore, ArrayVectorStore, Metrics, VectorStore}

/** The u64 Hamming and PQ serve sites, and the frontier tier's
  * upper-layer descent, return stored ids -1, `Long.MinValue` and
  * `Long.MaxValue` at their true distance from the query. An engine that
  * stages each query under a reserved id would shadow the stored point of
  * that id and report it at distance 0. Each site's rows must also equal
  * the reference engine's ([[HnswSearcher]]) over the same graph, with
  * the query staged under an id no row uses, as in
  * [[ServingLayoutSpec]]. */
class StoredIdSpec extends SparkSpec {
  import spark.implicits._

  private val special = Seq(-1L, Long.MinValue, Long.MaxValue)
  /** The id the reference engine stages each query under. */
  private val unused = Long.MinValue + 1

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def vecFromHash(i: Long, seed: Long): Array[Float] =
    Array.tabulate(16)(j => (HnswParams.uniformFromHash(i * 31 + j, seed) * 2.0 - 1.0).toFloat)

  private val ids: Seq[Long] = (0 until 600).map(i => 3L * i + 5L) ++ special
  private val params = HnswParams.standard(efConstruction = 32, efSearch = 16, m = 6)

  /** Codes of the stored rows; queries: random codes, the special ids'
    * own codes and each of those with two bits flipped. */
  private val codes: Map[Long, Long] = ids.map(id => id -> mix(id)).toMap
  private val codeQueries: Seq[(Long, Long)] =
    ((0 until 40).map(q => mix(q + 90000L)) ++ special.map(codes) ++
      special.map(id => codes(id) ^ 0x8001L)).zipWithIndex.map { case (c, i) => (i.toLong, c) }

  private val vectors: Map[Long, Array[Float]] = ids.map(id => id -> vecFromHash(id, 3L)).toMap
  private val vecQueries: Seq[(Long, Array[Float])] =
    ((0 until 40).map(q => vecFromHash(q + 90000L, 5L)) ++ special.map(vectors) ++
      special.map(id => vectors(id).map(_ * 0.9f))).zipWithIndex.map { case (v, i) => (i.toLong, v) }

  /** A Hamming store over `codes` whose query is staged under its own id. */
  private final class RefCodeStore(codes: Long => Long) extends VectorStore {
    type Raw = Long
    private var qId = 0L
    private var qCode = 0L
    def stage(id: Long, code: Long): Long = { qId = id; qCode = code; id }
    private def code(id: Long): Long = if (id == qId) qCode else codes(id)
    override def prepareQuery(raw: Long): Long = stage(unused, raw)
    override def insert(q: Long): Long = q
    override def evalDistance(q: Long, v: Long): Double =
      java.lang.Long.bitCount(code(q) ^ code(v)).toDouble
    override def isMatch(d: Double): Boolean = d <= 0.0
  }

  private def hammingRef(snap: graft.store.GraphSnapshot, qc: Long, k: Int,
                         ef0: Int): List[(Long, Double)] = {
    val store = new RefCodeStore(codes)
    new HnswSearcher(params).searchWithEf(store, snap, store.prepareQuery(qc), k, ef0)
      .iterator.map(nb => (nb.dst, nb.dist)).toList
  }

  private def adcRef(snap: graft.store.GraphSnapshot, cb: Array[Array[Array[Float]]],
                     code: Long => Long, qv: Array[Float], k: Int, ef0: Int): List[(Long, Double)] = {
    val store = new AdcVectorStore(cb, code)
    new HnswSearcher(params).searchWithEf(store, snap, store.prepareQueryWithId(unused, qv), k, ef0)
      .iterator.map(nb => (nb.dst, nb.dist)).toList
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** (qid, id, dist bits, rank) of a serve's rows. */
  private def served(df: DataFrame, dist: String): Set[(Long, Long, Long, Int)] =
    df.select("qid", "id", dist, "rank").collect().map { r =>
      val d = r.get(2) match { case i: Int => i.toDouble; case x: Double => x }
      (r.getLong(0), r.getLong(1), bits(d), r.getInt(3))
    }.toSet

  /** Rows ranked 1.. from each query's `(id, dist)` list. */
  private def ranked[Q](qs: Seq[(Long, Q)])(hits: Q => List[(Long, Double)]): Set[(Long, Long, Long, Int)] =
    qs.flatMap { case (qid, q) =>
      hits(q).zipWithIndex.map { case ((id, d), r) => (qid, id, bits(d), r + 1) }
    }.toSet

  /** Each query's per-cell lists merged by `(dist, id)`, top k. */
  private def merged[Q](qs: Seq[(Long, Q)], k: Int)(
      perCell: Q => Seq[List[(Long, Double)]]): Set[(Long, Long, Long, Int)] =
    ranked(qs)(q => perCell(q).flatten.toList.sortBy { case (id, d) => (d, id) }.take(k))

  /** Every special id comes back, each row at its true distance. */
  private def assertTrue[Q](rows: Set[(Long, Long, Long, Int)], qs: Seq[(Long, Q)])(
      dist: (Q, Long) => Double): Unit = {
    val byQid = qs.toMap
    rows.foreach { case (qid, id, d, _) =>
      assert(d == bits(dist(byQid(qid), id)), s"query $qid: id $id at ${java.lang.Double.longBitsToDouble(d)}")
    }
    special.foreach(id => assert(rows.exists(_._2 == id), s"id $id never served"))
  }

  private def hamming(qc: Long, id: Long): Double = java.lang.Long.bitCount(qc ^ codes(id)).toDouble

  test("HnswCodes.search and HnswRoutedCodes.search return stored ids -1, MinValue and MaxValue at their true distance") {
    val codesDf = codes.toSeq.toDF("id", "code")
    val qDf = codeQueries.toDF("qid", "qcode")
    val model = HnswCodes.build(codesDf, params)
    val flat = served(HnswCodes.search(qDf, model, 10), "hamming")
    assertTrue(flat, codeQueries)(hamming)
    assert(flat == ranked(codeQueries)(qc => hammingRef(model.snapshot, qc, 10, 0)))

    val index = HnswRoutedCodes.build(codesDf, params, nCells = 4, persist = false)
    val cells = index.shards.collect().toSeq
    for (nProbe <- Seq(2, index.anchors.length)) {
      val routed = served(HnswRoutedCodes.search(index, qDf, 10, nProbe), "hamming")
      assertTrue(routed, codeQueries)(hamming)
      assert(routed == merged(codeQueries, 10) { qc =>
        val probed = HnswRoutedCodes.probeCells(index.anchors, qc, nProbe).toSet
        cells.filter(c => probed(c._1)).map { case (_, c) =>
          hammingRef(c.snapshot, qc, 10, HnswRouted.cellEf(params, 0, c.codes.size))
        }
      }, s"nProbe=$nProbe")
    }
  }

  test("HnswPq.searchAdc and HnswRoutedPq.searchCoarse return stored ids -1, MinValue and MaxValue at their true distance") {
    val cfg = BuildConfig(params, metric = "l2", seed = 7L, seedBatch = 64, maxBatch = 128)
    val qDf = vecQueries.toDF("qid", "qvec")
    val pq = HnswPq.fromModelCached(HnswDistributed.buildFromArray(spark, vectors.toArray, cfg),
      "stored-id-spec")
    def adc(cb: Array[Array[Array[Float]]], code: Long => Long)(qv: Array[Float], id: Long): Double =
      PqKernels.adcLut(PqKernels.lutFor(qv, cb), code(id))
    val flat = served(HnswPq.searchAdc(qDf, pq, 10, 16), "adc")
    assertTrue(flat, vecQueries)(adc(pq.codebook, pq.codes))
    assert(flat == ranked(vecQueries)(qv => adcRef(pq.snapshot, pq.codebook, pq.codes, qv, 16, 16)))

    val routed = HnswRoutedPq.fromRouted(
      HnswRouted.build(vectors.toSeq.toDF("id", "vec"), cfg, nCells = 4, persist = false),
      persist = false)
    val cells = routed.shards.collect().toSeq
    val code: Long => Long = id => cells.find(_._2.codes.contains(id)).get._2.codes(id)
    val candidates = 8
    val nProbe = 2
    assert(nProbe < routed.router.nPrimary && cells.forall(_._2.codes.size > candidates))
    val coarse = HnswRoutedPq.searchCoarse(routed, qDf, candidates, nProbe)
      .select("qid", "id", "adc").collect().map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2))))
      .toSet
    assertTrue(coarse.map { case (q, id, d) => (q, id, d, 0) }, vecQueries)(adc(routed.codebook, code))
    // each probed cell answers its beam's first `candidates` hits
    assert(coarse == vecQueries.flatMap { case (qid, qv) =>
      val probed = routed.router.probeCells(qv, nProbe).toSet
      cells.filter(c => probed(c._1)).flatMap { case (_, c) =>
        val beam = math.max(candidates, HnswRouted.cellEf(params, 0, c.codes.size))
        val hits = adcRef(c.snapshot, routed.codebook, c.codes(_), qv, beam, beam).take(candidates)
        assert(hits.length == candidates)
        hits.map { case (id, d) => (qid, id, bits(d)) }
      }
    }.toSet)
  }

  test("HnswFrontier's upper descent seeds stored ids -1, MinValue and MaxValue at their true distance") {
    // a layer seed that puts all three special ids on the upper layers
    val seed = Iterator.from(1).map(_.toLong)
      .find(sd => special.forall(params.selectLayerByHash(_, sd) >= 1)).get
    val cfg = BuildConfig(params, metric = "cosine", seed = seed, seedBatch = 64, maxBatch = 128)
    val upper = HnswFrontier.upperSnapshot(
      HnswDistributed.buildFromArray(spark, vectors.toArray, cfg).snapshot)
    assert(upper.layers.length > 2 && special.forall(upper.layers(1).contains))
    val seedEf = 8
    val seeds = HnswFrontier.descendUpper(spark, upper, vectors.toSeq.toDF("id", "vec"),
      vecQueries.toDF("qid", "qvec"), "cosine", seedEf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // greedy above layer 1, a seedEf beam at layer 1
    val searcher = new HnswSearcher(params)
    val want = vecQueries.flatMap { case (qid, qv) =>
      val store = new ArrayVectorStore(Metrics.cosineDist, base = vectors)
      val q = store.prepareQueryWithId(unused, qv)
      val (w, nLayers) = searcher.searchInit(store, upper, q)
      (nLayers - 1 to 1 by -1).foreach(lc =>
        searcher.searchLayer(store, upper, q, w, if (lc == 1) seedEf else 1, lc))
      w.iterator.map(nb => (qid, nb.dst))
    }.toSet
    special.foreach(id => assert(want.exists(_._2 == id), s"id $id seeds no query"))
    assert(seeds == want)
  }
}
