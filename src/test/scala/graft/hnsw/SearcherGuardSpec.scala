package graft.hnsw

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan tripwires for the one engine, in [[CollectGuardSpec]]'s
  * idiom, over the code of every src/main file (comments and Scaladoc
  * are not counted). Every build and serve site runs the ordinal engine
  * ([[OrdinalGraph]]) over an [[graft.store.OrdinalStore]]; the id-keyed
  * engine ([[HnswSearcher]] over an [[graft.store.ArrayVectorStore]]) is
  * the reference the specs compare against, and src/main constructs
  * neither. A new `new HnswSearcher(` or `new ArrayVectorStore(` fails
  * here, so no path can quietly bring back the engine that stages each
  * query under an id a stored point may hold. A layer draw needs no
  * engine: [[HnswParams.selectLayerByHash]].
  *
  * Every holder ships its graph in the form it was grown in
  * ([[OrdinalForm]]); the id-keyed scan keeps the id-keyed form (a
  * `GraphSnapshot` plus an id-keyed vector or code map) from coming back
  * as a holder's field, or the per-JVM conversion it needed.
  *
  * A layout chosen from the planner's size estimate is pinned to its one
  * site, `PrefixSum`'s partition count: a new switch on
  * `optimizedPlan.stats` has to be argued into the pin. */
class SearcherGuardSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  /** `src` without its block comments (Scaladoc included) and line comments. */
  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  /** (path under src/main/scala, code) of every main file. */
  private def sources(): Seq[(String, String)] = {
    assume(root.isDirectory, "source tree not visible from the test cwd")
    def files(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    files(root).map { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try root.toPath.relativize(f.toPath).toString.replace('\\', '/') -> code(s.mkString)
      finally s.close()
    }
  }

  /** path -> occurrences of `pattern`, for the files that have any. */
  private def sites(pattern: String): Map[String, Int] =
    sources().map { case (path, src) =>
      path -> src.sliding(pattern.length).count(_ == pattern)
    }.filter(_._2 > 0).toMap

  test("src/main constructs no HnswSearcher") {
    val actual = sites("new HnswSearcher(")
    assert(actual.isEmpty, s"`new HnswSearcher(` sites: $actual. Build and serve " +
      "through OrdinalGraph; draw layers with HnswParams.selectLayerByHash.")
  }

  test("src/main constructs no ArrayVectorStore") {
    val actual = sites("new ArrayVectorStore(")
    assert(actual.isEmpty, s"`new ArrayVectorStore(` sites: $actual. Serve an " +
      "ArenaVectorStore through an OrdinalGraph view.")
  }

  test("only PrefixSum reads the planner's size estimate") {
    val pattern = "optimizedPlan.stats"
    val expected = Map("graft/operators/PrefixSum.scala" -> 1)
    val actual = sites(pattern)
    assert(actual == expected, s"`$pattern` sites drifted: $actual (pinned: $expected). " +
      "Take the layout from the plan's shape or an explicit parameter.")
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
