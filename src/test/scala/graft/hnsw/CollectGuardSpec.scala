package graft.hnsw

import org.scalatest.funsuite.AnyFunSuite

/** Lint-style tripwire for the serving surface's driver-collect
  * inventory. Round 15 eliminated the last unguarded large-input
  * `collect()` on the serving paths (query routing cuts over to the
  * distributed transport above DriverRouteMax; allow-sets above
  * AllowCollectMax reroute the same way; remaining sites are bounded
  * by small sets — deletion sets, batch ids, per-cell-capped samples,
  * nCells-row stats, metadata reads). This spec PINS that audit: a
  * new `.collect()` on a serving-surface file changes its count and
  * fails here, forcing the author to (1) bound the new site by a
  * limit/cutover or a structurally small input, and (2) re-pin the
  * count with that justification in the commit. The pin is a count,
  * not line numbers, so refactors that move audited sites don't
  * false-alarm — only NEW (or removed) sites trip it.
  *
  * Guard patterns the audit accepted: `limit(Max + 1)` collect-then-
  * cutover (RoutedServe's driver-routed path / allowProbe), broadcast-side
  * sets bounded by the batch or the deletion set, nCells-bounded
  * stats/histograms, driver-side metadata (meta/anchors/centroids/
  * fingerprints tables), and spec/instrumentation-only paths. */
class CollectGuardSpec extends AnyFunSuite {

  private val expected = Map(
    "graft/hnsw/GraphFrames.scala" -> 2,
    "graft/hnsw/HnswCodes.scala" -> 2,
    "graft/hnsw/HnswDistributed.scala" -> 6,
    // one-builder re-pin (a site folded, none added): the durable
    // phase 1a's upper-vector collect (upper-layer ids, ~n/M rows) is the
    // frontier descent's one in HnswFrontier.upperForm (3 -> 2; the
    // frontier's 1 is that shared site)
    "graft/hnsw/HnswDurable.scala" -> 2,
    "graft/hnsw/HnswFrontier.scala" -> 1,
    // round-17 re-pin: +warmProbe's representative collect on each
    // tier (ONE member per cell — nCells rows by construction); then
    // presentIds/cellStats MOVED to the shared RoutedOps (same audited
    // sites, one copy — id-set-bounded and nCells-bounded)
    "graft/hnsw/RoutedOps.scala" -> 1,
    // round-18 re-pin (RoutedLifecycle unification — sites MOVED, none
    // added): the per-tier targeted-compaction `removed` collects now
    // live ONCE in RoutedLifecycle.collectRemoved (deletion-set-
    // bounded), the per-tier attach tombstone/centroid reads once in
    // RoutedImage.readTombstones/readRouter (metadata tables), and the
    // searchFiltered allow-probe (limit(AllowCollectMax+1) collect-
    // then-cutover) once in RoutedLifecycle.allowProbe (since moved to
    // RoutedServe — see the serving-core re-pin below). The file's 4 =
    // exactly those shared sites; the tier counts dropped by the
    // copies they shed (17->12, 15->11, 16->12).
    // serving-core re-pin (sites MOVED or folded, none added): the
    // three tiers' copies of the driver-routed limit(DriverRouteMax+1)
    // query collect and of warmProbe's one-member-per-cell collect are
    // now ONE each in RoutedServe, beside the allowProbe collect moved
    // there from RoutedLifecycle (3); the three merged-cell audit
    // collects (nCells-bounded rows) and remediate's flagged-cell
    // collect are one each in RoutedLifecycle (4 - 1 + 2 = 5); each
    // tier shed its 4 copies (12->8, 11->7, 12->8).
    // lifecycle-fold re-pin (sites MOVED or folded, none added): the
    // three tiers' ingest batch-id collects (batch-bounded) are one in
    // RoutedLifecycle.ingest, and their three attach meta-row reads (one
    // metadata row) one in RoutedImage.open (5 + 2 = 7); each tier shed
    // those 2 copies (8->6, 7->5, 8->6).
    // one-surface re-pin (sites MOVED, none added): presentIds' hit
    // collect (id-set-bounded) moved from RoutedOps and warmProbe's
    // one-member-per-cell collect from RoutedServe into the RoutedTier
    // trait (7 + 2 = 9; RoutedOps 2 -> 1, RoutedServe 3 -> 2); the float
    // tier's 6 -> 5 is a Scaladoc mention of `distinct().collect()` that
    // left with the per-tier searchFiltered.
    "graft/hnsw/RoutedLifecycle.scala" -> 9,
    "graft/hnsw/RoutedServe.scala" -> 2,
    "graft/hnsw/HnswRouted.scala" -> 5,
    "graft/hnsw/HnswRoutedCodes.scala" -> 5,
    "graft/hnsw/HnswRoutedPq.scala" -> 6,
    "graft/streaming/StreamingChunkDedup.scala" -> 1,
    "graft/streaming/StreamingDocDedup.scala" -> 3,
    "graft/streaming/StreamingIngest.scala" -> 2,
    // the three CDC steps' delete/insert batch-id collects (batch-
    // bounded) are one copy in RoutedStream.cdcStep
    "graft/streaming/RoutedStream.scala" -> 2
  )

  test("serving-surface collect() inventory matches the audited pin") {
    val root = new java.io.File("src/main/scala")
    assume(root.isDirectory, "source tree not visible from the test cwd")
    val dirs = Seq("graft/hnsw", "graft/streaming")
    val actual = dirs.flatMap { d =>
      val dir = new java.io.File(root, d)
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq
        .filter(_.getName.endsWith(".scala"))
        .map { f =>
          val src = {
            val s = scala.io.Source.fromFile(f, "UTF-8")
            try s.mkString finally s.close()
          }
          // literal substring count (a regex would need quoting and a
          // per-LINE grep undercounts multi-site lines)
          s"$d/${f.getName}" -> src.sliding(".collect()".length)
            .count(_ == ".collect()")
        }
        .filter(_._2 > 0)
    }.toMap
    val added = actual.toSeq.filter { case (f, n) => expected.getOrElse(f, 0) < n }
    val removed = expected.toSeq.filter { case (f, n) => actual.getOrElse(f, 0) < n }
    assert(added.isEmpty && removed.isEmpty,
      s"serving-surface collect() inventory drifted.\n" +
        s"NEW sites (audit + re-pin required): $added\n" +
        s"REMOVED sites (re-pin): $removed\n" +
        "Every serving-path collect must be limit-guarded (cutover to " +
        "the distributed transport) or bounded by a structurally small " +
        "input; see this spec's Scaladoc for the accepted patterns.")
  }
}
