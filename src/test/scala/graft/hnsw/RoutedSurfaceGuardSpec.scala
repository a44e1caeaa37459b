package graft.hnsw

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan tripwires for the one routed surface, in
  * [[SearcherGuardSpec]]'s idiom. The float, u64-code and PQ routed
  * tiers share one lifecycle and serve surface ([[RoutedTier]]); the
  * scans keep a per-tier copy of it, the per-tier binding objects and a
  * per-call residency knob from coming back. An index keeps the
  * residency it was built or attached with ([[RoutedHandle.storage]]). */
class RoutedSurfaceGuardSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  /** (path under src/main/scala, source) of the hnsw and streaming files. */
  private def sources(): Seq[(String, String)] = {
    assume(root.isDirectory, "source tree not visible from the test cwd")
    Seq("graft/hnsw", "graft/streaming").flatMap { d =>
      Option(new java.io.File(root, d).listFiles()).getOrElse(Array.empty).toSeq
        .filter(_.getName.endsWith(".scala")).map { f =>
          val s = scala.io.Source.fromFile(f, "UTF-8")
          try s"$d/${f.getName}" -> s.mkString finally s.close()
        }
    }
  }

  test("the shared lifecycle and serve surface is defined once") {
    val srcs = sources()
    val once = Seq("def delete(", "def compactCells(", "def compactCellsPatched(",
      "def foldOverlay(", "def remediateMergedCells(", "def presentIds(", "def warm(")
    val counts = once.map { p =>
      p -> srcs.map { case (_, src) => src.sliding(p.length).count(_ == p) }.sum
    }
    assert(counts.forall(_._2 == 1), s"definitions not exactly once: $counts")
  }

  test("no per-tier binding object or stream-ops record is back") {
    val pattern = """RoutedStreamOps|object\s+(FloatTier|CodeTier|PqTier)\b""".r
    val hits = sources().collect { case (path, src) if pattern.findFirstIn(src).isDefined => path }
    assert(hits.isEmpty, s"per-tier bindings in $hits: bind the tier object itself")
  }

  test("no routed ingest, compaction or foldOverlay takes a per-call residency") {
    // a def's parameter list, allowing one level of nested parentheses
    val lifecycle =
      """def\s+(ingest|compact\w*|foldOverlay)\s*(\[[^\]]*\])?\s*\(((?:[^()]|\([^()]*\))*)\)""".r
    val knob = """storage\s*:\s*StorageLevel""".r
    val hits = sources().filter(_._1.matches(""".*/(HnswRouted\w*|Routed\w*|StreamingRouted\w*)\.scala"""))
      .flatMap { case (path, src) =>
        lifecycle.findAllMatchIn(src).collect {
          case m if knob.findFirstIn(m.group(3)).isDefined => s"$path: ${m.group(1)}"
        }
      }
    assert(hits.isEmpty, s"per-call residency on $hits: persist at the handle's storage")
  }
}
