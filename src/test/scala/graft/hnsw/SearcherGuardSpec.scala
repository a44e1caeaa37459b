package graft.hnsw

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan tripwire for the id-keyed engine, in
  * [[CollectGuardSpec]]'s idiom. Every build and serve site runs the
  * ordinal engine ([[OrdinalGraph]]) over an [[graft.store.OrdinalStore]];
  * [[HnswSearcher]] is the reference the specs compare against. Two walks
  * still construct one: `HnswFrontier`'s upper-layer descent and
  * `HnswDurable`'s phase 1a, float walks with ef schedules of their own.
  * A new `new HnswSearcher(` in src/main outside `tools/` changes the
  * count and fails here, so a serve path cannot quietly bring back the
  * engine that stages each query under a reserved id. A layer draw needs
  * no engine: [[HnswParams.selectLayerByHash]]. */
class SearcherGuardSpec extends AnyFunSuite {

  private val expected = Map(
    "graft/hnsw/HnswDurable.scala" -> 1,
    "graft/hnsw/HnswFrontier.scala" -> 1)

  test("src/main constructs HnswSearcher only in the two pinned walks") {
    val root = new java.io.File("src/main/scala")
    assume(root.isDirectory, "source tree not visible from the test cwd")
    def files(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    val pattern = "new HnswSearcher("
    val actual = files(root).map { f =>
      val src = {
        val s = scala.io.Source.fromFile(f, "UTF-8")
        try s.mkString finally s.close()
      }
      root.toPath.relativize(f.toPath).toString.replace('\\', '/') ->
        src.sliding(pattern.length).count(_ == pattern)
    }.filter { case (path, n) => n > 0 && !path.startsWith("graft/tools/") }.toMap
    assert(actual == expected,
      s"`$pattern` sites drifted: $actual (pinned: $expected). Build and serve " +
        "through OrdinalGraph; draw layers with HnswParams.selectLayerByHash.")
    assert(actual.values.sum == 2)
  }
}
