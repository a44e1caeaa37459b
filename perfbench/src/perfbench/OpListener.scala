package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Charges Spark work to the benchmark op that is open. Each traced op
  * runs under its own job group (`op.<type>.<n>`); jobs carry the group
  * in their properties, and their stages and tasks are charged through
  * the job. Callbacks arrive on the listener-bus thread; readers drain
  * the bus first ([[org.apache.spark.perfbench.Bus.drain]]) and every
  * access is synchronized. */
final class OpListener extends SparkListener {

  final class Charge {
    var jobs, stages, tasks = 0L
    var taskMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Milliseconds of [from, until) during which at least one task ran. */
    def busyMs(from: Long, until: Long): Long = {
      val s = taskSpans.map { case (a, b) => (math.max(a, from), math.min(b, until)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L; var end = Long.MinValue
      s.foreach { case (a, b) =>
        if (a >= end) { busy += b - a; end = b }
        else if (b > end) { busy += b - end; end = b }
      }
      busy
    }
  }

  /** SparkContext.SPARK_JOB_GROUP_ID, which is private[spark]. */
  private val JobGroupKey = "spark.jobGroup.id"

  private val charges = mutable.HashMap.empty[String, Charge]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def charge(group: String): Charge = charges.getOrElseUpdate(group, new Charge)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobGroupKey)))
    group.filter(_.startsWith("op.")).foreach { g =>
      charge(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(charge(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = charge(g)
      c.tasks += 1
      c.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** The charge of one op instance (empty if it ran no Spark job). */
  def chargeOf(group: String): Charge = synchronized(charges.getOrElse(group, new Charge))
}
