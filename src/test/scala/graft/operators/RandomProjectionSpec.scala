package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Random-projection tier: deterministic data-free model, projection
  * arithmetic vs a driver-side reference, the JL recall floor for the
  * coarse+rerank regime, and a UDF-free codegen plan. */
class RandomProjectionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val vectors = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val queries = emb.filter(col("vec_id") % 25 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private lazy val m = RandomProjection.model(inDim = 64, outDim = 32, seed = 29L)

  test("the model is deterministic, data-free, and ±1-valued") {
    val again = RandomProjection.model(64, 32, 29L)
    assert(m.rows.map(_.toSeq).toSeq == again.rows.map(_.toSeq).toSeq)
    assert(m.rows.flatten.forall(v => v == 1f || v == -1f))
    // different seed, different directions
    val other = RandomProjection.model(64, 32, 31L)
    assert(m.rows.map(_.toSeq).toSeq != other.rows.map(_.toSeq).toSeq)
  }

  test("projection matches a driver-side reference exactly") {
    val (id0, v0) = vectors.as[(Long, Array[Float])].head()
    val got = RandomProjection.encode(vectors.filter(col("id") === id0), m)
      .as[(Long, Array[Float])].head()._2
    val want = m.rows.map { r =>
      var s = 0.0; var i = 0
      while (i < r.length) { s += r(i).toDouble * v0(i).toDouble; i += 1 }
      s.toFloat
    }
    assert(got.toSeq == want.toSeq)
  }

  test("recall floor on the near-uniform corpus: 32 dims, top-200 coarse, >= 0.8 of exact top-10") {
    // near-uniform embeddings are the JL worst case for RANKING: all
    // pairwise distances sit in a tight shell, so the (1±eps) distance
    // preservation leaves little gap to rank by — the floor here is
    // deliberately the corpus-limited number (0.885 measured), not the
    // JL guarantee. The planted-cluster test below is the guarantee.
    val approx = RandomProjection.search(queries, vectors, m, k = 10, candidates = 200)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ExactKnn.search(queries, vectors, 10, "l2")
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("JL distance preservation: planted near-duplicates survive a 64 -> 16 projection") {
    // where distances genuinely differ (near-dup at ~0.1x the background
    // distance), the projection preserves the gap and recall@1 is ~1 —
    // this is the claim JL actually makes
    import graft.hnsw.HnswParams.uniformFromHash
    val dim = 64
    def vecOf(id: Long, eps: Float): Array[Float] = {
      val base = (id / 2) * 2 // ids 2i and 2i+1 share a base point
      Array.tabulate(dim)(d =>
        (uniformFromHash(base * 131 + d, 41L) * 2.0 - 1.0).toFloat +
          eps * (uniformFromHash(id * 37 + d, 43L) * 2.0 - 1.0).toFloat)
    }
    val rows = (0 until 1000).map(i => (i.toLong, vecOf(i.toLong, if (i % 2 == 1) 0.05f else 0f)))
    val base = rows.toDF("id", "vec")
    val qs = rows.filter(_._1 % 2 == 0).take(200)
      .map { case (id, v) => (id, v) }.toDF("qid", "qvec")
    val m16 = RandomProjection.model(dim, 16, 29L)
    // k=2: self + the planted twin; require the twin found for >= 95%
    val got = RandomProjection.search(qs, base, m16, k = 2, candidates = 10)
      .filter(col("id") === col("qid") + 1).count()
    assert(got >= 190, s"planted twins recovered: $got/200")
  }

  test("projection and coarse scan are native codegen kernels (no Scala UDF in the plan)") {
    // the kernel names live in the COARSE plan — Pq.rerank checkpoints
    // the candidate set, so the final plan shows Scan ExistingRDD there
    val coarsePlan = RandomProjection.coarse(queries,
        RandomProjection.encode(vectors, m), m, candidates = 50)
      .queryExecution.executedPlan.toString
    assert(!coarsePlan.contains("UDF"), s"UDF left in the RP coarse plan:\n$coarsePlan")
    assert(coarsePlan.contains("dot_f32") && coarsePlan.contains("l2_sq_f32"), coarsePlan)
    val finalPlan = RandomProjection.search(queries, vectors, m, k = 5, candidates = 50)
      .queryExecution.executedPlan.toString
    assert(!finalPlan.contains("UDF"), s"UDF left in the RP serving plan:\n$finalPlan")
    // serving regime: small candidate set must BROADCAST into the
    // re-rank join (the vectors side streams — never shuffles)
    assert(finalPlan.contains("BroadcastExchange"),
      s"re-rank candidates not broadcast:\n$finalPlan")
  }

  test("a precomputed projection column serves without touching raw vectors in the coarse scan") {
    val proj = RandomProjection.encode(vectors, m).cache()
    val a = RandomProjection.search(queries, vectors, m, 5, 50,
      precomputedProjections = Some(proj)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = RandomProjection.search(queries, vectors, m, 5, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    proj.unpersist(blocking = false)
    assert(a == b)
  }
}
