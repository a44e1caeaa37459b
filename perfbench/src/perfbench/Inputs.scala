package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded inputs. Vectors are 64-d draws from a Gaussian mixture: a
  * cluster centre plus isotropic noise, so cosine neighbourhoods have
  * structure (uniform random vectors make every neighbour list nearly
  * equidistant and recall meaningless). Every stream of draws takes its
  * own seed derived from the run seed, so index rows, query rows and each
  * loop iteration's rows are independent of how many of the others were
  * drawn. */
object Inputs {
  val Dim = 64
  val Clusters = 256
  val Noise = 0.6

  type Rows = Array[(Long, Array[Float])]

  /** Seed of stream `stream` (index, queries, iteration i, ...) of run `seed`. */
  def streamSeed(seed: Long, stream: Long): Long = {
    // splitmix64 finalizer over (seed, stream)
    var z = stream + seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Mixture(seed: Long) {
    private val centres: Array[Array[Double]] = {
      val r = new java.util.Random(streamSeed(seed, -1L))
      Array.fill(Clusters)(Array.fill(Dim)(r.nextGaussian()))
    }

    /** `n` vectors with ids idBase, idBase+1, ... from stream `stream`. */
    def draw(stream: Long, n: Int, idBase: Long): Rows = {
      val r = new java.util.Random(streamSeed(seed, stream))
      Array.tabulate(n) { i =>
        val c = centres(r.nextInt(Clusters))
        (idBase + i, Array.tabulate(Dim)(d => (c(d) + Noise * r.nextGaussian()).toFloat))
      }
    }
  }

  /** (id, vec) rows as a DataFrame with the given column names. */
  def frame(spark: SparkSession, rows: Rows, idCol: String = "id",
            vecCol: String = "vec"): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF(idCol, vecCol)
  }

  /** Exact top-k ids of `q` among `rows` by cosine distance (ties by id) —
    * the in-process truth for indexes that change during the loop. */
  def exactTopK(q: Array[Float], rows: Iterator[(Long, Array[Float])], k: Int): Set[Long] = {
    val top = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
    rows.foreach { case (id, v) =>
      val d = graft.store.Metrics.cosineDist(q, v)
      if (top.size < k) top.enqueue((d, id))
      else if (Ordering[(Double, Long)].lt((d, id), top.head)) {
        top.dequeue(); top.enqueue((d, id))
      }
    }
    top.iterator.map(_._2).toSet
  }
}
