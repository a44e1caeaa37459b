package perfbench

/** The per-layer metric set of a traced run. Every workload reports every
  * name; a layer the workload does not exercise reads 0. */
object PerLayer {
  val ops = Seq("search", "insert")
  val sparkFields = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_s" -> "s", "task_cpu_s" -> "s", "idle_s" -> "s",
    "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "gc_s" -> "s")

  private val fixed = Seq(
    "store.dist_evals_per_query" -> "count",
    "store.dist_evals_per_insert" -> "count",
    "store.cosine_ns_per_pair" -> "ns",
    "hnsw.hops_per_query" -> "count",
    "hnsw.search_us_per_query" -> "us",
    "hnsw.search_kernel_share" -> "ratio",
    "hnsw.insert_us_per_row" -> "us",
    "hnsw.build_s" -> "s",
    "hnsw.index_bytes" -> "bytes",
    "streaming.snapshot_ms" -> "ms",
    "streaming.broadcast_ms" -> "ms",
    "streaming.dedup_errors" -> "count",
    "streaming.planted_copies" -> "count",
    "functions.cosine_expr_ns_per_pair" -> "ns",
    "op.search.ms_p50" -> "ms",
    "op.insert.ms_p50" -> "ms",
    "op.insert.rows_per_s" -> "1/s",
    "trace.overhead_pct" -> "%")

  private val units: Map[String, String] = (fixed ++
    (for (op <- ops; (f, u) <- sparkFields) yield s"spark.$op.$f" -> u)).toMap

  val names: Seq[String] = fixed.map(_._1) ++
    (for (op <- ops; (f, _) <- sparkFields) yield s"spark.$op.$f")

  def unit(name: String): String = units(name)

  /** Per-op means of what the listener charged to the counted ops. */
  def spark(out: Layers, l: OpListener, counted: Seq[Ctx#OpRun]): Unit =
    ops.foreach { kind =>
      val runs = counted.filter(_.kind == kind)
      if (runs.nonEmpty) {
        val cs = runs.map(r => (r, l.chargeOf(r.group)))
        def mean(f: ((Ctx#OpRun, OpListener#Charge)) => Double) = cs.map(f).sum / runs.size
        out(s"spark.$kind.jobs") = mean(_._2.jobs.toDouble)
        out(s"spark.$kind.stages") = mean(_._2.stages.toDouble)
        out(s"spark.$kind.tasks") = mean(_._2.tasks.toDouble)
        out(s"spark.$kind.task_s") = mean(_._2.taskMs / 1e3)
        out(s"spark.$kind.task_cpu_s") = mean(_._2.cpuNs / 1e9)
        out(s"spark.$kind.idle_s") = mean { case (r, c) =>
          (r.endMs - r.startMs - c.busyMs(r.startMs, r.endMs)) / 1e3
        }
        out(s"spark.$kind.shuffle_read_bytes") = mean(_._2.shuffleRead.toDouble)
        out(s"spark.$kind.shuffle_write_bytes") = mean(_._2.shuffleWrite.toDouble)
        out(s"spark.$kind.spill_bytes") = mean(_._2.spill.toDouble)
        out(s"spark.$kind.gc_s") = mean(_._2.gcMs / 1e3)
      }
    }
}
