package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan tripwires for the instrumentation layer, in
  * [[graft.hnsw.SearcherGuardSpec]]'s idiom. One listener charges Spark
  * work to phases ([[graft.trace.Collector]]); a second private listener
  * in src/main, or a new one-off probe main in `graft/tools/`, changes a
  * pin here and has to argue its way in. */
class ToolingGuardSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

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
    }
  }

  test("in src/main, only the trace package extends SparkListener") {
    val listener = """(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r
    val sites = sources().collect { case (p, s) if listener.findFirstIn(s).isDefined => p }
    assert(sites == Seq("graft/trace/Span.scala"),
      s"SparkListener subclasses in $sites: charge phases through graft.trace.Span instead")
  }

  test("src/main reads env vars only in Bench and the mains' session helper") {
    // code only (comments and Scaladoc stripped), in SearcherGuardSpec's idiom
    def code(src: String): String =
      src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val read = """(sys\.env|System\.getenv)[^\n]*""".r
    val key = "\"([A-Za-z0-9_.]+)\"".r
    val actual = sources().flatMap { case (p, s) =>
      read.findAllIn(code(s)).map(r => p -> key.findFirstMatchIn(r).fold("?")(_.group(1)))
    }.sorted
    val expected = Seq("graft/Bench.scala" -> "SPARK_GRAFT_SF_DIR",
      "graft/SparkEntry.scala" -> "SPARK_GRAFT_CPUS")
    assert(actual == expected, s"env reads drifted: $actual (pinned: $expected). A knob " +
      "is an option of the API, a config field or a rung of the rehearsal table.")
  }

  test("graft/tools holds exactly the six kept mains") {
    assume(root.isDirectory, "source tree not visible from the test cwd")
    val tools = Option(new java.io.File(root, "graft/tools").list()).getOrElse(Array.empty).toSeq.sorted
    assert(tools == Seq("GridProbe.scala", "PipelineRehearsal.scala", "QueryJobProbe.scala",
      "ScaleRehearsal.scala", "TimeProbe.scala", "WindowRehearsal.scala"),
      s"graft/tools holds $tools: measure a phase with a span and read it from BENCH_FULL.json")
  }
}
