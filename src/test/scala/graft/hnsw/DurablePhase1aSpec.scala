package graft.hnsw

import graft.SparkSpec
import graft.store.{ArenaVectorStore, ArrayVectorStore, GraphSnapshot, Metrics}

/** The durable build's phase 1a ([[HnswDurable.phase1aRows]]: an ordinal
  * walk on a view of the upper layers' form) against the reference
  * engine: [[HnswSearcher.searchInit]] and [[HnswSearcher.searchLayer]]
  * over an [[ArrayVectorStore]] that stages each batch row under its own
  * id, with the layer-1 beam above the insertion layer widened to the
  * layer-0 construction ef. Per row: the trimmed construction beam of
  * each layer 1..insLayer (empty rows for fresh top layers) and the
  * untrimmed layer-1 beam as the layer-0 seeds — layer, dst ids and dist
  * bits, in order.
  *
  * The upper graph holds stored ids -1, `Long.MinValue` and
  * `Long.MaxValue` and exact copies of upper vectors under other ids, so
  * beams hold distance ties; the batch repeats upper vectors, so a row
  * ties two stored copies. Insertion layers run from 0 (where
  * `efConstrInsert(0) > efConstrSearch(1)`, so the widened beam is the
  * whole seed set) to above the graph's top. */
class DurablePhase1aSpec extends SparkSpec {
  import spark.implicits._

  private val special = Seq(-1L, Long.MinValue, Long.MaxValue)
  private val params = HnswParams.standard(efConstruction = 24, efSearch = 16, m = 6)

  private def vecFromHash(i: Long, seed: Long): Array[Float] =
    Array.tabulate(8)(j => (HnswParams.uniformFromHash(i * 31 + j, seed) * 2.0 - 1.0).toFloat)

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private type Row = (Int, Seq[Long], Seq[Long])

  /** The reference walk of batch row `(id, vec)`. */
  private def reference(upper: GraphSnapshot, vectors: Map[Long, Array[Float]], metric: String,
                        id: Long, vec: Array[Float], insLayer: Int): Seq[Row] = {
    val searcher = new HnswSearcher(params)
    val vs = new ArrayVectorStore(Metrics.byName(metric), base = vectors)
    vs.prepareQueryWithId(id, vec)
    val (w, nLayers) = searcher.searchInit(vs, upper, id)
    val out = Seq.newBuilder[Row]
    for (lc <- nLayers - 1 to 1 by -1) {
      val ef =
        if (lc > insLayer)
          (if (lc == 1) math.max(params.getEfConstrInsert(0), params.getEfConstrSearch(1))
           else params.getEfConstrSearch(lc))
        else params.getEfConstrInsert(lc)
      searcher.searchLayer(vs, upper, id, w, ef, lc)
      if (lc <= insLayer) {
        val trimmed = w.copy()
        trimmed.trimToKNearest(params.getM(lc))
        out += ((lc, trimmed.iterator.map(_.dst).toSeq, trimmed.iterator.map(n => bits(n.dist)).toSeq))
      }
    }
    for (lc <- nLayers to insLayer) out += ((lc, Nil, Nil))
    out += ((-1, w.iterator.map(_.dst).toSeq, w.iterator.map(n => bits(n.dist)).toSeq))
    out.result().sortBy(_._1)
  }

  for (metric <- Seq("cosine", "l2")) test(s"phase 1a rows equal the reference engine's ($metric): ties, stored ids -1/MinValue/MaxValue, fresh top layers, insLayer 0") {
    val base = (0 until 600).map(i => (3L * i + 5L, vecFromHash(i, 3L)))
    // a layer seed that puts all three special ids on the upper layers
    val seed = Iterator.from(1).map(_.toLong)
      .find(sd => special.forall(params.selectLayerByHash(_, sd) >= 1)).get
    val specials = special.map(id => (id, vecFromHash(id, 7L)))
    // exact copies of upper vertices under other upper ids
    val upperBase = (base ++ specials).filter(r => params.selectLayerByHash(r._1, seed) >= 1)
    val copyIds = Iterator.from(0).map(i => 100000L + i)
      .filter(params.selectLayerByHash(_, seed) >= 1)
    val copies = upperBase.take(20).zip(copyIds.take(20).toSeq).map { case ((_, v), c) => (c, v.clone()) }
    val stored = base ++ specials ++ copies
    val vectors = stored.toMap

    val grown = OrdinalGraph.grow(params, seed, new ArenaVectorStore(metric), None,
      stored.iterator)
    val upper = HnswFrontier.upperSnapshot(grown.snapshot)
    val top = upper.entryPoint.get.layer
    assert(top >= 2 && special.forall(upper.layers(1).contains))
    assert(copies.forall(c => upper.layers(1).contains(c._1)))

    val formB = HnswFrontier.upperForm(spark, upper, stored.toDF("id", "vec"), metric)
    val form = formB.value
    val view = form.view(HnswDurable.phase1aParams(params))

    // new ids; fresh vectors, copies of upper vectors (ties between two
    // stored copies) and of the special ids' vectors
    val batch = (0 until 60).map(i => (900000L + i, vecFromHash(i + 5000L, 11L))) ++
      (upperBase.take(20) ++ specials).zipWithIndex.map { case ((_, v), i) => (950000L + i, v.clone()) }
    val layers = Seq(0, 0, 1, 2, top, top + 1, top + 2)
    val got = batch.zipWithIndex.map { case ((id, vec), i) =>
      val insLayer = layers(i % layers.length)
      val rows = HnswDurable.phase1aRows(view, form.store.ids, params, id, vec, insLayer)
      assert(rows.forall(_._1 == id))
      (id, insLayer) -> rows.map(r => (r._2, r._3.toSeq, r._4.toSeq.map(bits))).sortBy(_._1)
    }
    got.zipWithIndex.foreach { case (((id, insLayer), rows), i) =>
      assert(rows == reference(upper, vectors, metric, id, batch(i)._2, insLayer),
        s"row $id at insertion layer $insLayer")
    }
    formB.destroy()

    // the inputs reach every case the walk distinguishes
    val all = got.flatMap(_._2)
    special.foreach(id => assert(all.exists(_._2.contains(id)), s"id $id in no row"))
    assert(all.exists(r => r._3.distinct.length < r._3.length), "no distance tie in any row")
    assert(got.exists { case ((_, l), rows) => l > top && rows.exists(r => r._1 > top && r._2.isEmpty) })
    got.foreach { case ((_, l), rows) =>
      val seeds = rows.find(_._1 == -1).get._2
      if (l == 0) assert(seeds.length > params.getEfConstrSearch(1))
      if (l >= 1) assert(seeds.length > rows.find(_._1 == 1).get._2.length)
    }
  }
}
