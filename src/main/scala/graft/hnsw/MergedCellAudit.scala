package graft.hnsw

import scala.reflect.ClassTag

/** The merged-cell separability kernel shared by the float tier
  * ([[HnswRouted.mergedCellAudit]]), the u64-code tier
  * ([[HnswRoutedCodes.mergedCellAudit]], Hamming distance and per-bit
  * majority centers) and the PQ tier
  * ([[HnswRoutedPq.mergedCellAudit]], which runs it over code
  * RECONSTRUCTIONS — decode is 16 centroid lookups per member, and the
  * dead/live mode separation the audit hunts is orders of magnitude
  * above the quantization radius, so the census answer is the same one
  * the raw floats would give without ever touching the float source).
  * One kernel instead of hand-synced copies — the [[PredicatedCensus]]
  * extraction discipline applied to the audit (the round-15 failure
  * mode: the same fix applied three times by hand missed one copy).
  *
  * The algorithm (measured rationale in [[HnswRouted.mergedCellAudit]]'s
  * Scaladoc): deterministic `kSplit`-means over a hash-decimated sample
  * whose first two seeds are the dead-member and live-member centers (the
  * hypothesis-shaped init; k > 2 is load-bearing for cells that merged
  * SEVERAL clusters), then a full-member purity census per component.
  * Flagged `merged` when ≥80%-pure-dead components hold ≥80% of the
  * dead mass beside a clearly-live (≤20% dead) component. */
private[hnsw] object MergedCellAudit {

  /** Float-space entry: component centers are member means. */
  def auditCell(all: Array[(Long, Array[Float])],
                metric: (Array[Float], Array[Float]) => Double,
                isDead: Long => Boolean, nDead: Int,
                sampleMax: Int, iters: Int, kSplit: Int)
      : (Long, Long, Long, Boolean) =
    audit(all, metric, meanOf(all.head._2.length), isDead, nDead,
      sampleMax, iters, kSplit)

  /** Component mean (Double accumulation in member order); the zero
    * vector for an empty component. */
  def meanOf(dim: Int)(vs: Iterator[Array[Float]]): Array[Float] = {
    val acc = new Array[Double](dim); var n = 0
    vs.foreach { v =>
      var d = 0; while (d < dim) { acc(d) += v(d); d += 1 }; n += 1 }
    if (n == 0) new Array[Float](dim)
    else Array.tabulate(dim)(d => (acc(d) / n).toFloat)
  }

  /** Audit one cell's members over any representation: `dist` between
    * members, `center` of a component's members (its mean in float
    * space, its per-bit majority code in Hamming space — the u64-code
    * tier's audit). `all` is the cell's full (id, value) set, id-sorted
    * (determinism of the sample + seeds). Returns (hi_dead_bp,
    * lo_dead_bp, dead_mass_hi_bp, merged). */
  def audit[V: ClassTag](all: Array[(Long, V)], dist: (V, V) => Double,
                         center: Iterator[V] => V,
                         isDead: Long => Boolean, nDead: Int,
                         sampleMax: Int, iters: Int, kSplit: Int)
      : (Long, Long, Long, Boolean) = {
    // deterministic sample, decimated by ID HASH — never by position: a
    // positional stride can alias with the id pattern (a cell of
    // interleaved (32k dead, 32k+1 live) pairs sampled every 6th
    // position yields ALL-dead, the live seed-mean degenerates to zero,
    // and Lloyd collapses to one side — exactly the planted rehearsal
    // case). Falls back to the full cell if the sample still misses a
    // class (cells are bounded by maxCellRows, so O(cell x dim) stays
    // affordable).
    val keep = math.min(1.0, sampleMax.toDouble / all.length)
    val hashed = all.filter { case (id, _) =>
      HnswParams.uniformFromHash(id, 0x9E3779B9L) < keep }
    val sample =
      if (hashed.length >= 32 && hashed.exists(r => isDead(r._1)) &&
          hashed.exists(r => !isDead(r._1))) hashed
      else all
    val k = math.max(2, math.min(kSplit, sample.length / 4))
    val cents = new Array[V](k)
    cents(0) = center(sample.iterator.collect { case (id, v) if isDead(id) => v })
    cents(1) = center(sample.iterator.collect { case (id, v) if !isDead(id) => v })
    // farthest-point seeds (deterministic; ties by id order): the
    // extra components catch structure the two hypothesis seeds
    // cannot hold alone when >2 clusters share the cell
    var j = 2
    while (j < k) {
      var best = sample.head._2; var bestD = -1.0
      sample.foreach { case (_, v) =>
        var minD = Double.MaxValue; var c = 0
        while (c < j) { val d = dist(v, cents(c)); if (d < minD) minD = d; c += 1 }
        if (minD > bestD) { bestD = minD; best = v }
      }
      cents(j) = best; j += 1
    }
    def nearest(v: V): Int = {
      var bi = 0; var bd = Double.MaxValue; var c = 0
      while (c < k) {
        val d = dist(v, cents(c)); if (d < bd) { bd = d; bi = c }; c += 1 }
      bi
    }
    var it = 0
    while (it < iters) {
      val assign = sample.map(r => nearest(r._2))
      var c = 0
      while (c < k) {
        val cc = c
        if (assign.contains(cc))
          cents(c) = center(sample.indices.iterator
            .filter(assign(_) == cc).map(sample(_)._2))
        c += 1 // an empty component keeps its center
      }
      it += 1
    }
    // census EVERY member (not just the sample) per component
    val compN = new Array[Long](k); val compDead = new Array[Long](k)
    all.foreach { case (id, v) =>
      val c = nearest(v)
      compN(c) += 1; if (isDead(id)) compDead(c) += 1
    }
    var hiBp = 0L; var loBp = 10000L; var pureDeadMass = 0L
    var c = 0
    while (c < k) {
      if (compN(c) > 0) {
        val bp = compDead(c) * 10000L / compN(c)
        if (bp > hiBp) hiBp = bp
        if (bp < loBp) loBp = bp
        if (bp >= 8000L) pureDeadMass += compDead(c)
      }
      c += 1
    }
    val massHiBp = if (nDead == 0) 0L else pureDeadMass * 10000L / nDead
    val merged = hiBp >= 8000L && loBp <= 2000L && massHiBp >= 8000L
    (hiBp, loBp, massHiBp, merged)
  }
}
