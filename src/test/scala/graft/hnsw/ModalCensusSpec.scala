package graft.hnsw

import org.scalatest.funsuite.AnyFunSuite
import graft.store.Metrics
import graft.tools.ScaleRehearsal.Corpus.{merged => vecOf}

/** Regression pin for the modal census kernel on the rung geometry
  * (dim 64). The original census applied the strong-share test to RAW
  * k-means components and the linkage merge after — a mode fragmented
  * into five sub-15% components was invisible, hiding half the planted
  * bimodal cells (the 4e5 rehearsal's finding). The share test now
  * applies to MERGED groups; this suite drives the kernel directly at
  * both polarities. */
class ModalCensusSpec extends AnyFunSuite {

  test("every planted two-mode sample reads exactly 2 groups (share AFTER merge)") {
    val metric = Metrics.byName("l2")
    val nSub = 32
    for (sup <- 0 until 16) {
      val rows = (0 until 1000).map { i =>
        val mode = 2 * sup + (i % 2)
        vecOf(mode.toLong + 32L * (i * 25 + 7), nSub)
      }.toArray
      val groups = HnswRouted.modalCensus(rows, metric, "l2")
      assert(groups.length == 2, s"sup=$sup read ${groups.length} groups")
      // both modes carry ~half the sample each
      assert(groups.forall(_._2 >= 400), groups.map(_._2).toSeq.toString)
      // group centroids sit ~one inter-mode distance apart
      val d = math.sqrt(metric(groups(0)._1, groups(1)._1))
      assert(d > 25.0 && d < 60.0, s"sup=$sup inter-group dist $d")
    }
  }

  test("a single uniform blob reads 1 group (tiny fragments must not shrink the merge threshold)") {
    val metric = Metrics.byName("l2")
    def blobVec(id: Long, c: Int): Array[Float] =
      Array.tabulate(16)(d =>
        ((HnswParams.uniformFromHash(c.toLong * 997 + d, 77L) * 20.0 - 10.0) +
          (HnswParams.uniformFromHash(id * 131 + d, 17L) * 2.0 - 1.0)).toFloat)
    for (c <- 0 until 4) {
      val rows = (0 until 750).map(i => blobVec(c + 4L * i, c)).toArray
      val groups = HnswRouted.modalCensus(rows, metric, "l2")
      assert(groups.length == 1, s"cell=$c read ${groups.length} groups")
    }
  }

  test("a sub-32-row sample is never flagged") {
    val metric = Metrics.byName("l2")
    val rows = (0 until 20).map(i => vecOf(i.toLong, 2)).toArray
    assert(HnswRouted.modalCensus(rows, metric, "l2").isEmpty)
  }
}
