package graft.trace

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.{BuildLedger, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge

/** The span collector's charging rules: a job goes to the innermost open
  * span of the thread that submitted it (or that thread's parent, for a
  * pool started inside a span), totals roll up inclusively, a span never
  * touches a job group's property, and nothing is recorded without a
  * collector. */
class SpanSpec extends SparkSpec {

  /** One job of one stage and two tasks. */
  private def job(): Unit = spark.sparkContext.parallelize(1 to 8, 2).count()

  private def withCollector[A](f: Collector => A): A = {
    val c = Collector.install(spark.sparkContext)
    try f(c) finally c.close()
  }

  private def spin(ms: Long): Unit = {
    val end = System.nanoTime() + ms * 1000000L
    while (System.nanoTime() < end) {}
  }

  test("nested spans charge the innermost span, and rolled-up totals are inclusive") {
    withCollector { c =>
      val (_, outer) = c.measure("outer") {
        job()
        Span.run("inner") { job(); job() }
        job()
      }
      assert(outer.own.jobs == 2 && outer.own.stages == 2 && outer.own.tasks == 4)
      val Seq(inner) = outer.spans("inner")
      assert(inner.own.jobs == 2 && inner.own.stages == 2 && inner.own.tasks == 4)
      assert(inner.total == inner.own)
      assert(outer.total.jobs == 4 && outer.total.stages == 4 && outer.total.tasks == 8)
      assert(outer.total.taskDurationsMs.size == 8)
      assert(outer.seconds >= inner.seconds)
    }
    assert(spark.sparkContext.getLocalProperty(Span.Property) == null)
  }

  test("a job from a Future started inside a span is charged to that span") {
    withCollector { c =>
      val (_, s) = c.measure("pool") {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try Await.result(Future.sequence(Seq(Future(job()), Future(Span.run("leg")(job())))),
          Duration.Inf)
        finally pool.shutdown()
      }
      assert(s.own.jobs == 1, s"own ${s.own}")
      assert(s.spans("leg").map(_.own.jobs) == Seq(1))
      assert(s.total.jobs == 2 && s.total.tasks == 4)
    }
  }

  test("a span inside a job group leaves the group id and the group's job count unchanged") {
    val sc = spark.sparkContext
    val groupJobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == "op.x")
          groupJobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try withCollector { c =>
      sc.setJobGroup("op.x", "span spec")
      try {
        val (_, s) = c.measure("in-group") { job(); Span.run("inner")(job()); job() }
        assert(sc.getLocalProperty("spark.jobGroup.id") == "op.x")
        Bridge.drainListeners(sc)
        assert(groupJobs.get == 3)
        assert(s.total.jobs == 3 && s.own.jobs == 2)
      } finally sc.clearJobGroup()
    } finally sc.removeSparkListener(listener)
  }

  test("with no collector installed, a span records nothing") {
    assert(Collector.active == null)
    Span.run("free") {
      assert(Span.current.get() == null)
      assert(spark.sparkContext.getLocalProperty(Span.Property) == null)
      job()
    }
    assert(Span.current.get() == null)
  }

  test("a build's self time excludes nested builds but not nested phase spans") {
    withCollector { c =>
      val mark = BuildLedger.size
      val (_, row) = c.measure("row") {
        BuildLedger.timed("outer_build") {
          spin(30)
          Span.run("phase") { spin(30); job() }
          BuildLedger.timed("inner_build") { spin(60) }
        }
      }
      val entries = BuildLedger.since(mark).map(e => e.label -> e.seconds).toMap
      val Seq(build) = row.children
      val Seq(phase) = build.spans("phase")
      val Seq(inner) = build.spans("inner_build")
      assert(build.build && build.name == "outer_build" && build.total.jobs == 1)
      assert(phase.own.jobs == 1 && !phase.build && inner.build)
      assert(entries("inner_build") >= 0.055)
      assert(math.abs(entries("outer_build") - (build.seconds - inner.seconds)) < 1e-9,
        s"outer_build ${entries("outer_build")} is not its wall less the nested build")
      assert(entries("outer_build") >= phase.seconds + 0.025)
      assert(build.selfSeconds == entries("outer_build"))
      assert(row.json.contains("\"self_s\""))
    }
  }
}
