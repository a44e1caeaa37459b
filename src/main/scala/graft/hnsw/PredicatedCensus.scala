package graft.hnsw

import graft.store.OrdinalStore

/** The predicated-serving census machinery shared by all three routed
  * serving tiers — float ([[HnswRouted]]), u64 Hamming codes
  * ([[HnswRoutedCodes]]) and PQ/ADC ([[HnswRoutedPq]]). One kernel,
  * parameterized over the member representation, so a fix lands once
  * instead of three hand-synced times (the round-15 failure mode: one
  * fix applied three times by hand, and a later fast path then missed
  * the PQ copy).
  *
  * Contract per predicated shard serve:
  *  - `eligible(id)`: allowed (sorted allow-set membership when an
  *    allow-set rides) AND not tombstoned (sorted dead-set membership).
  *  - `eligibleCount`: ONE census per shard, one pass over the cell's
  *    stored ids (`ids(o)` on the store's ordinals) with a binary
  *    search into each sorted set: O(cellN log(|allow| + |dead|)), and
  *    no id -> ordinal map, so a cell read afresh from disk builds none.
  *  - `eligibleOrdinals`: materialized lazily, ONCE per shard, and only
  *    if some query needs an exact scan (per-query whole-cell
  *    re-filtering was a measured 2.5× serving tax concentrated in the
  *    mostly-dead cells' tasks).
  *  - `cutoverToExact`: the density-aware regime switch — a cell whose
  *    eligible FRACTION is low defeats the beam (the top-beam of a
  *    98%-dead cell holds ~no eligible ids, so nearly every query
  *    escalated to full cell width; measured: 455 escalations for 320
  *    queries in one wiped cell — a 1.4 s straggler task). The exact
  *    scan is O(eligible) per query and wins decisively below ~25%
  *    density.
  *  - [[exactScanTopK]]: k-bounded queue selection, not a full sort
  *    (sorting all eligible ids as boxed tuples per query cost ~10 ms
  *    at 15k eligible); the queue keeps the oracle's total (dist, id)
  *    order at the boundary, load-bearing under INTEGER Hamming
  *    distances where ties are the common case.
  */
private[hnsw] object PredicatedCensus {

  /** Per-shard eligibility census of `store`'s points over `allow`
    * (sorted; consulted only when `hasAllow`) and `dead` (sorted
    * tombstones). Constructed once per shard serve; `eligibleOrdinals`
    * stays unmaterialized unless an exact scan runs. */
  final class Census(store: OrdinalStore[_], hasAllow: Boolean,
                     allow: Array[Long], dead: Array[Long]) {

    val cellN: Int = store.size
    private[this] val ids = store.ids

    @inline def eligible(id: Long): Boolean =
      (!hasAllow || java.util.Arrays.binarySearch(allow, id) >= 0) &&
        (dead.length == 0 || java.util.Arrays.binarySearch(dead, id) < 0)

    val eligibleCount: Int =
      if (!hasAllow && dead.length == 0) cellN
      else {
        var c = 0
        var o = 0
        while (o < cellN) { if (eligible(ids(o))) c += 1; o += 1 }
        c
      }

    /** Materialized once, on first exact scan, in ordinal order (every
      * consumer is a total-order queue selection). */
    lazy val eligibleOrdinals: Array[Int] =
      if (eligibleCount == cellN) Array.range(0, cellN)
      else Array.range(0, cellN).filter(o => eligible(ids(o)))

    /** Density-aware cutover: serve by exact scan when the eligible set
      * is smaller than the beam or below ~25% of the cell. */
    def cutoverToExact(beam: Int): Boolean =
      eligibleCount <= math.max(beam, cellN / 4)
  }

  /** The float and u64-code tiers' per-shard serving kernel, one copy
    * parameterized by the cell's members, its plain beam
    * (`beam(query, k, ef)`) and its exact distance (`dist(query)(id)`).
    * Plain beam when unpredicated; census → identity-filter /
    * one-overfetched-beam / exact-scan discipline when predicated
    * (exhaustive regime forces the exact scan — the hash-oracle
    * configuration). Rows are (qid, id, dist).
    *
    * Accuracy contract (the HnswDistributed.searchPredicated
    * discipline, executor-local to the shard): EXACT whenever the
    * exact-scan path serves — every cell in the exhaustive regime, plus
    * any cell the density cutover routes to exact — and otherwise at
    * least as accurate as the plain kernel (one overfetched beam whose
    * eligible prefix carries the queue's total (dist, id) order). The
    * PQ tier's ADC kernel stays separate: its candidate contract always
    * runs the census and has no identity-filter branch. */
  def serve[Q](store: OrdinalStore[_], probes: Iterator[(Long, Q)], k: Int, ef: Int,
               exhaustive: Boolean, hasAllow: Boolean, allow: Array[Long],
               dead: Array[Long])(
               beam: (Q, Int, Int) => FurthestQueue,
               dist: Q => Int => Double): Iterator[(Long, Long, Double)] = {
    def plain(qid: Long, q: Q): Iterator[(Long, Long, Double)] =
      beam(q, k, ef).iterator.map(nb => (qid, nb.dst, nb.dist))
    if (!hasAllow && dead.isEmpty)
      return probes.flatMap { case (qid, q) => plain(qid, q) }
    val cen = new Census(store, hasAllow, allow, dead)
    def exactScan(qid: Long, q: Q): List[(Long, Long, Double)] =
      exactScanTopK(cen.eligibleOrdinals, store.ids, k, dist(q))
        .iterator.map(nb => (qid, nb.dst, nb.dist)).toList
    val kp0 = math.max(4 * k, ef)
    if (cen.eligibleCount == 0) Iterator.empty
    else if (exhaustive)
      // exactness is structural here, not small-cell luck: the
      // filtered/tombstone hash-oracle rows serve through this branch
      // (identity-filter cells included — a plain beam there would
      // re-introduce the plain kernel's approximation into a result
      // the oracle demands exact)
      probes.flatMap { case (qid, q) => exactScan(qid, q) }
    else if (cen.eligibleCount == cen.cellN)
      // every member of this cell is eligible (no dead id lives here;
      // any allow-set covers it), so the predicated filter is the
      // identity — serve on the UNMODIFIED plain kernel. This makes
      // cell-local deletions cost ~nothing on the untouched cells,
      // which is almost all of them (measured: the predicated wrapper
      // around the same beam ran ~40% slower at 47k tombstones even
      // though the beam parameters are identical — profile/cache
      // effects in the wrapper; the plain path sidesteps the question)
      probes.flatMap { case (qid, q) => plain(qid, q) }
    else probes.flatMap { case (qid, q) =>
      // density-aware cutover ([[Census.cutoverToExact]]): a
      // low-eligible-fraction cell defeats the beam, while the exact
      // scan is O(eligible) per query
      if (cen.cutoverToExact(kp0)) exactScan(qid, q)
      else {
        // ONE overfetched beam, then exact — never escalate in-cell.
        // Escalation is the BROADCAST tier's discipline, where "exact"
        // means a corpus-wide scan; per cell the exact scan is bounded
        // by cellN and costs less than one 4x re-beam. The regime that
        // needs this is GEOMETRIC eligibility clustering the density
        // census cannot see: a merged cell holding a dead cluster beside
        // a live one reads 50% eligible cell-wide, but a query arriving
        // near the dead cluster has ~zero eligible among its nearest —
        // measured as ~3 escalations per query, 39 s in one task,
        // before this cutover. Queue order is total on (dist, id), so
        // the filtered prefix carries the oracle's tie-breaking.
        val hits = beam(q, kp0, kp0).iterator
          .filter(nb => cen.eligible(nb.dst)).take(k).toList
        if (hits.length >= k) hits.map(nb => (qid, nb.dst, nb.dist))
        else exactScan(qid, q)
      }
    }
  }

  /** k-bounded exact selection over ordinals `ords` of a store whose
    * ids are `ids`: one primitive admission compare rejects almost every
    * candidate; the returned queue carries the total (dist, id) order at
    * the boundary. */
  def exactScanTopK(ords: Array[Int], ids: Array[Long], k: Int,
                    dist: Int => Double): FurthestQueue = {
    val fq = new FurthestQueue()
    var i = 0
    while (i < ords.length) {
      val id = ids(ords(i))
      val d = dist(ords(i))
      if (fq.size < k || d < fq.furthestDist ||
          (d == fq.furthestDist && id < fq.dstAt(fq.size - 1))) {
        fq.insert(id, d)
        fq.trimToKNearest(k)
      }
      i += 1
    }
    fq
  }
}
