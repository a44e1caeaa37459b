package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-run state shared by a workload and the runner: op latencies and
  * counts, output-check tallies, spans, and the op listener of a traced
  * run. One client thread drives every op, so nothing here is shared
  * across threads except what [[OpListener]] guards itself. */
final class Ctx(val spark: SparkSession, val workDir: String,
                val listener: Option[OpListener]) {

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  final case class OpRun(kind: String, group: String, startMs: Long, endMs: Long)

  var attempted = 0L
  var failed = 0L
  /** Ops are timed into [[opMs]] only while recording (after warm-up). */
  var recording = false
  /** Whether the next ops run under a job group and record spans. */
  var tracing = false

  val items = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  val tracedOps = mutable.ArrayBuffer.empty[OpRun]
  /** Op latencies (ms) by (kind, traced) while recording. */
  val opMs = mutable.HashMap.empty[(String, Boolean), mutable.ArrayBuffer[Double]]

  /** Recorded latencies (ms) of one op type, traced or not. */
  def latencies(kind: String): Seq[Double] =
    Seq(false, true).flatMap(t => opMs.getOrElse((kind, t), Nil))

  var recallHits = 0L
  var recallTotal = 0L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var opSeq = 0

  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"check failed: $what")
  }

  /** Time `f` as a span when tracing (a no-op wrapper otherwise). */
  def span[A](name: String)(f: => A): A =
    if (!tracing) f
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, parent, name, System.nanoTime(), -1L)
      open = id :: open
      try f
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** One client call into the library: counted as attempted, timed, and
    * failed if it throws or `check` rejects its output. `n` is the number
    * of rows (queries or inserted vectors) the call handles. */
  def op[A](kind: String, n: Int)(f: => A)(check: A => Boolean): Option[A] = {
    attempted += 1
    val group = s"op.$kind.$opSeq"
    opSeq += 1
    val sc = spark.sparkContext
    if (tracing) sc.setJobGroup(group, kind)
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    val out =
      try Some(span(s"op.$kind")(f))
      catch { case t: Throwable =>
        System.err.println(s"op $kind failed: $t"); t.printStackTrace(); None
      } finally if (tracing) sc.clearJobGroup()
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracing) tracedOps += OpRun(kind, group, w0, System.currentTimeMillis())
    if (recording) {
      opMs.getOrElseUpdate((kind, tracing), mutable.ArrayBuffer.empty) += ms
      items(kind) += n
    }
    out match {
      case Some(a) => if (!check(a)) fail(s"$kind output")
      case None    => failed += 1
    }
    out
  }

  /** Spans as JSON lines (written once, at the end of a traced run). */
  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Stats {
  /** Nearest-rank percentile (p in (0, 100]) of unsorted samples. */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "no samples")
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the nearest-rank p-th percentile position. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt
}
