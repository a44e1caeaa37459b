package graft.trace

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.Bridge

/** A named phase of work: a catalog row, a frontier round, a build or
  * one of its stages. [[Span.run]] opens one on the calling thread's
  * stack. While a [[Collector]] is installed, every Spark job submitted
  * inside a span is charged to it, the innermost open one, with the
  * job's stages and tasks, and a closed span keeps its children, so a
  * reader sees the phase tree with each node's own and inclusive cost.
  *
  * A build span ([[graft.BuildLedger.timed]]) measures its wall whether
  * or not a collector is installed: its self time, the wall less the
  * builds nested in it on the same thread, is the one-time cost the
  * ledger records. */
final class Span private (name: String, parent: Span, build: Boolean, sameThread: Boolean) {
  private[trace] val id: String = Span.ids.incrementAndGet().toString
  private val t0 = System.nanoTime()
  private var wall = 0.0
  private var nestedBuilds = 0.0
  private val children = mutable.ArrayBuffer.empty[Span]
  /** The jobs charged to this span directly; the collector writes it
    * under its own lock. */
  private[trace] var own = Charge()

  private def close(collected: Boolean): Unit = {
    val (w, nested) = synchronized {
      wall = (System.nanoTime() - t0) / 1e9
      (wall, nestedBuilds)
    }
    if (parent != null) parent.synchronized {
      if (sameThread) parent.nestedBuilds += (if (build) w else nested)
      if (collected) parent.children += this
    }
  }

  /** Wall less the builds nested in it on the same thread. */
  private[trace] def selfSeconds: Double = synchronized(wall - nestedBuilds)

  private[trace] def record: Record = {
    val (w, self, kids) = synchronized((wall, wall - nestedBuilds, children.toList))
    val rs = kids.map(_.record)
    Record(name, w, self, build, own, rs.foldLeft(own)(_ + _.total), rs)
  }
}

object Span {
  /** The Spark local property naming the innermost open span of the
    * thread that submits a job; a thread started inside a span inherits
    * it with Spark's other local properties. */
  val Property = "graft.trace.span"

  private val ids = new AtomicLong
  private[trace] val current = new ThreadLocal[Span]

  /** Runs `f` in a span named `name`. Without an installed collector it
    * records nothing and only runs `f`. */
  def run[A](name: String)(f: => A): A = {
    val c = Collector.active
    if (c == null) f else scoped(name, build = false, c)(f)._1
  }

  /** `f`'s value and its build span's self time. */
  private[graft] def build[A](name: String)(f: => A): (A, Double) = {
    val (a, s) = scoped(name, build = true, Collector.active)(f)
    (a, s.selfSeconds)
  }

  private[trace] def scoped[A](name: String, build: Boolean, c: Collector)(f: => A): (A, Span) = {
    val here = current.get()
    val parent =
      if (here != null || c == null) here else c.spanOf(c.sc.getLocalProperty(Property))
    val s = new Span(name, parent, build, sameThread = here != null)
    val prior = if (c == null) null else c.enter(s)
    current.set(s)
    try (f, s)
    finally {
      current.set(here)
      s.close(c != null)
      if (c != null) c.exit(s, prior)
    }
  }
}

/** What the Spark jobs charged to a span cost: jobs, completed stages,
  * finished tasks with their summed wall (`taskMs`, the scheduler's task
  * duration), CPU and GC time, each task's duration, shuffle bytes read
  * and written, shuffle records written, bytes spilled to disk (the
  * in-memory size of the same spills is not added: it would count each
  * spill twice) and the largest peak execution memory of one task. */
final case class Charge(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
                        cpuMs: Long = 0, gcMs: Long = 0, shuffleReadBytes: Long = 0,
                        shuffleWriteBytes: Long = 0, shuffleWriteRecords: Long = 0,
                        spillBytes: Long = 0, peakExecBytes: Long = 0,
                        taskDurationsMs: Vector[Long] = Vector.empty) {
  def +(o: Charge): Charge = Charge(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, cpuMs + o.cpuMs, gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleWriteRecords + o.shuffleWriteRecords,
    spillBytes + o.spillBytes, math.max(peakExecBytes, o.peakExecBytes),
    taskDurationsMs ++ o.taskDurationsMs)

  def taskMedianMs: Long =
    if (taskDurationsMs.isEmpty) 0L else taskDurationsMs.sorted.apply(taskDurationsMs.size / 2)
  def taskMaxMs: Long = if (taskDurationsMs.isEmpty) 0L else taskDurationsMs.max
}

/** A closed span as read after the listener bus drained: its wall, its
  * self time (see [[Span]]), the charges of the jobs submitted directly
  * inside it (`own`) and with every nested span's (`total`), and the
  * nested spans in the order they closed. */
final case class Record(name: String, seconds: Double, selfSeconds: Double, build: Boolean,
                        own: Charge, total: Charge, children: Seq[Record]) {
  /** The children named `n`, in order. */
  def spans(n: String): Seq[Record] = children.filter(_.name == n)

  /** One JSON object: inclusive totals, `self_s` for a build, and the
    * nested spans under `spans`. */
  def json: String = {
    val t = total
    val self = if (build) f""","self_s":$selfSeconds%.3f""" else ""
    val kids = if (children.isEmpty) "" else children.map(_.json).mkString(""","spans":[""", ",", "]")
    f"""{"name":"$name","s":$seconds%.3f$self,"jobs":${t.jobs},"stages":${t.stages},""" +
      f""""tasks":${t.tasks},"task_s":${t.taskMs / 1e3}%.3f,"cpu_s":${t.cpuMs / 1e3}%.3f,""" +
      f""""gc_s":${t.gcMs / 1e3}%.3f,"shuffle_read_b":${t.shuffleReadBytes},""" +
      f""""shuffle_write_b":${t.shuffleWriteBytes},"spill_b":${t.spillBytes},""" +
      f""""peak_exec_b":${t.peakExecBytes}$kids}"""
  }
}

/** Posted when a span closes: every event of the jobs it submitted was
  * posted before it, so the collector can forget the span on seeing it. */
private[trace] final case class SpanClosed(id: String) extends SparkListenerEvent

/** The one listener that charges jobs to spans: a job to the span named
  * by its [[Span.Property]], and each stage and task of the job to the
  * same span. It holds only open spans and the stages of their jobs. */
final class Collector private (private[trace] val sc: SparkContext) extends SparkListener {
  private val open = mutable.HashMap.empty[String, Span]
  private val stageOf = mutable.HashMap.empty[Int, Span]

  private[trace] def spanOf(id: String): Span = if (id == null) null else synchronized(open.getOrElse(id, null))

  /** Registers `s` and names it on the thread's jobs; returns the
    * property it replaced. */
  private[trace] def enter(s: Span): String = {
    synchronized(open(s.id) = s)
    val prior = sc.getLocalProperty(Span.Property)
    sc.setLocalProperty(Span.Property, s.id)
    prior
  }

  private[trace] def exit(s: Span, prior: String): Unit = {
    sc.setLocalProperty(Span.Property, prior)
    Bridge.post(sc, SpanClosed(s.id))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Span.Property))).flatMap(open.get)
      .foreach { s =>
        s.own = s.own + Charge(jobs = 1)
        e.stageIds.foreach(stageOf.getOrElseUpdate(_, s))
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOf.get(e.stageInfo.stageId).foreach(s => s.own = s.own + Charge(stages = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOf.get(e.stageId).foreach { s =>
      val dur = if (e.taskInfo == null) 0L else e.taskInfo.duration
      val m = e.taskMetrics
      s.own = s.own + (
        if (m == null) Charge(tasks = 1, taskMs = dur, taskDurationsMs = Vector(dur))
        else Charge(tasks = 1, taskMs = dur, cpuMs = m.executorCpuTime / 1000000L,
          gcMs = m.jvmGCTime, shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten,
          spillBytes = m.diskBytesSpilled, peakExecBytes = m.peakExecutionMemory,
          taskDurationsMs = Vector(dur)))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case SpanClosed(id) => synchronized {
      open.remove(id).foreach(s => stageOf.filterInPlace((_, v) => v ne s))
    }
    case _ =>
  }

  /** Runs `f` in a span named `name` and returns its value with the
    * closed span's record, read once the listener bus has drained. */
  def measure[A](name: String)(f: => A): (A, Record) = {
    val (a, s) = Span.scoped(name, build = false, this)(f)
    Bridge.drainListeners(sc)
    (a, synchronized(s.record))
  }

  /** Removes the listener; spans opened afterwards record nothing. */
  def close(): Unit = Collector.synchronized {
    sc.removeSparkListener(this)
    if (Collector.active eq this) Collector.active = null
  }
}

object Collector {
  @volatile private[trace] var active: Collector = _

  /** The collector on `sc`, installed on first use. */
  def install(sc: SparkContext): Collector = synchronized {
    if (active == null || (active.sc ne sc)) {
      val c = new Collector(sc)
      sc.addSparkListener(c)
      active = c
    }
    active
  }
}
