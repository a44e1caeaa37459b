package graft.hnsw

import graft.HashData.vecFromHash
import graft.SparkSpec
import graft.hnsw.HnswDistributed.BuildConfig
import org.apache.spark.sql.functions.col

/** The shared tombstone delete ([[RoutedTier.delete]]) merges: on every
  * tier a second delete keeps the first one's ids deleted (a sorted,
  * distinct union), and the exhaustive serve excludes both sets. */
class RoutedDeleteSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = BuildConfig(HnswParams.standard(64, 32, 16), metric = "l2", seed = 42L)
  private val first = (0L until 400L by 2)
  private val second = (1L until 400L by 2) ++ Seq(0L, 998L)
  private val union = (first ++ second).distinct.sorted.toArray

  private def served(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).toSet

  test("float, codes and PQ: a second delete keeps the first one's ids deleted") {
    val vs = (0 until 800).map(i => (i.toLong, vecFromHash(i.toLong, 7L, 16))).toDF("id", "vec")
    val qs = (0L until 400L by 40).map(i => (i, vecFromHash(i, 7L, 16))).toDF("qid", "qvec")
    val float = HnswRouted.delete(HnswRouted.delete(
      HnswRouted.build(vs, cfg, nCells = 4, persist = false), first.toDF("id")), second.toDF("id"))
    assert(float.tombstones.toSeq == union.toSeq)
    assert(served(HnswRouted.search(float, qs, 10, nProbe = 4)).forall(_ >= 400L))

    val codes = (0 until 800).map(i =>
      (i.toLong, java.lang.Double.doubleToRawLongBits(HnswParams.uniformFromHash(i, 23L))))
    val cq = codes.filter(_._1 % 40 == 0).toDF("qid", "qcode")
    val ci = HnswRoutedCodes.delete(HnswRoutedCodes.delete(
      HnswRoutedCodes.build(codes.toDF("id", "code"), HnswParams.standard(64, 32, 16),
        nCells = 4, persist = false), first.toDF("id")), second.toDF("id"))
    assert(ci.tombstones.toSeq == union.toSeq)
    assert(served(HnswRoutedCodes.search(ci, cq, 10, nProbe = 4)).forall(_ >= 400L))

    val pq = HnswRoutedPq.delete(HnswRoutedPq.delete(
      HnswRoutedPq.buildSolo(vs, cfg, nCells = 4, persist = false), first.toDF("id")),
      second.toDF("id"))
    assert(pq.tombstones.toSeq == union.toSeq)
    assert(served(HnswRoutedPq.search(pq, qs, vs, 10, nProbe = 4, candidates = 32))
      .forall(_ >= 400L))
  }
}
