package graft.hnsw

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan tripwires for the id-keyed engine, in
  * [[CollectGuardSpec]]'s idiom. Every build and serve site runs the
  * ordinal engine ([[OrdinalGraph]]) over an [[graft.store.OrdinalStore]];
  * [[HnswSearcher]] is the reference the specs compare against. One walk
  * still constructs one: `HnswDurable`'s phase 1a, a float walk with an
  * ef schedule of its own that stages each row under its own new id. A
  * new `new HnswSearcher(` in src/main outside `tools/` changes the count
  * and fails here, so a serve path cannot quietly bring back the engine
  * that stages each query under a reserved id. A layer draw needs no
  * engine: [[HnswParams.selectLayerByHash]].
  *
  * Every holder ships its graph in the form it was grown in
  * ([[OrdinalForm]]); the second scan keeps the id-keyed form (a
  * `GraphSnapshot` plus an id-keyed vector or code map) from coming back
  * as a holder's field, or the per-JVM conversion it needed. */
class SearcherGuardSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  /** (path under src/main/scala, source) of every main file outside `tools/`. */
  private def sources(): Seq[(String, String)] = {
    assume(root.isDirectory, "source tree not visible from the test cwd")
    def files(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    files(root).map { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try root.toPath.relativize(f.toPath).toString.replace('\\', '/') -> s.mkString
      finally s.close()
    }.filterNot(_._1.startsWith("graft/tools/"))
  }

  private val expected = Map("graft/hnsw/HnswDurable.scala" -> 1)

  test("src/main constructs HnswSearcher only in the one pinned walk") {
    val pattern = "new HnswSearcher("
    val actual = sources().map { case (path, src) =>
      path -> src.sliding(pattern.length).count(_ == pattern)
    }.filter(_._2 > 0).toMap
    assert(actual == expected,
      s"`$pattern` sites drifted: $actual (pinned: $expected). Build and serve " +
        "through OrdinalGraph; draw layers with HnswParams.selectLayerByHash.")
    assert(actual.values.sum == 1)
  }

  test("no case class in src/main holds an id-keyed graph, and no per-JVM conversion is back") {
    // the constructor list, allowing one level of nested parentheses
    val idKeyed = """final case class\s+(\w+)(\[[^\]]*\])?\s*\(((?:[^()]|\([^()]*\))*)\)""".r
    val fields = """:\s*(GraphSnapshot|LongVecMap|LongLongMap)\b""".r
    val holders = sources().flatMap { case (path, src) =>
      idKeyed.findAllMatchIn(src).collect {
        case m if fields.findFirstIn(m.group(3)).isDefined => s"$path: ${m.group(1)}"
      }
    }
    assert(holders.isEmpty, s"case classes with an id-keyed field: $holders. Hold an OrdinalForm.")
    val conversion = """FrozenGraph|frozenRows|sharedRows""".r
    val hits = sources().collect { case (path, src) if conversion.findFirstIn(src).isDefined => path }
    assert(hits.isEmpty, s"per-JVM graph conversion in $hits")
  }
}
