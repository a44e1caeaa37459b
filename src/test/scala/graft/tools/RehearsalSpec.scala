package graft.tools

import graft.{SparkSpec, TempDirs}
import graft.hnsw.HnswRouted

/** Runs every [[ScaleRehearsal]] rung at n = 2,000 in the shared session
  * and checks what holds at any scale: parity flags, no leaked ids,
  * self-match, the planted near-dup pairs and the KMV error bound. The
  * scale claims (flagged merged cells, recover << rebuild, eviction to
  * disk) need the decades BASELINE.md records; at n = 2,000 the merged
  * cells sit below `mergedCellAudit`'s 1,024-row floor and nothing
  * spills, so they are not asserted here. */
class RehearsalSpec extends SparkSpec {
  private val n = 2000

  private lazy val lines: Seq[String] = {
    val Right((Seq(`n`), rungs)) =
      ScaleRehearsal.plan(Seq(n.toString, ScaleRehearsal.known.mkString(",")))
    ScaleRehearsal.rehearse(spark, n, rungs, TempDirs.create("graft_rehearsal_"))
  }

  /** Every value of `key` across the REHEARSAL and REHEARSAL_PHASE lines. */
  private def values(key: String): Seq[String] =
    lines.flatMap(_.split(" ").toSeq.collect { case t if t.startsWith(key + "=") =>
      t.drop(key.length + 1) })

  private def line(label: String): String =
    lines.find(_.startsWith(s"REHEARSAL $label ")).getOrElse(fail(s"no $label line"))

  test("every rung runs at n=2000 but routed_distrib, which skips below its minimum n") {
    assert(lines.filter(_.startsWith("REHEARSAL_SKIP")) ==
      Seq(s"REHEARSAL_SKIP routed_distrib n=$n min_n=${HnswRouted.DriverRouteMax + 1L}"))
    val labels = lines.filter(_.startsWith("REHEARSAL ")).map(_.split(" ")(1))
    assert(labels == ScaleRehearsal.rungs.filter(_.name != "routed_distrib").map(_.label))
  }

  test("every parity flag holds and no deleted or filtered-out id surfaces") {
    for (k <- Seq("parity", "attach_parity", "filtered_parity", "survivor_parity")) {
      assert(values(k).nonEmpty, k)
      assert(values(k).forall(_ == "true"), s"$k: ${values(k)}")
    }
    for (k <- Seq("leaked", "filter_leaked", "parity_breaks")) {
      assert(values(k).nonEmpty, k)
      assert(values(k).forall(_ == "0"), s"$k: ${values(k)}")
    }
  }

  test("ANN self-match is at least 99%") {
    val pcts = values("self_match").map(_.stripSuffix("%").toDouble)
    assert(pcts.size >= 6, values("self_match"))
    assert(pcts.forall(_ >= 99.0), values("self_match"))
  }

  test("the LSH near-dup rung finds exactly the n/10 planted pairs") {
    assert(line("neardup_lsh_planned").contains(s" out_rows=${n / 10} "))
  }

  test("the KMV estimate stays within its error bound") {
    val bound = 5.0 / math.sqrt(256 - 2.0) * 10000 // KmvSpec's, in basis points
    val Seq(bp) = values("max_err_bp")
    assert(bp.toLong <= bound, line("kmv_sketch"))
  }

  test("the command line is checked before any rung runs") {
    val Left(unknown) = ScaleRehearsal.plan(Seq("2000", "routed,routed_delet"))
    assert(unknown.contains("routed_delet") && ScaleRehearsal.known.forall(unknown.contains))
    assert(ScaleRehearsal.plan(Seq("2e3")).isLeft)
    val Right((Seq(1000, 10000), all)) = ScaleRehearsal.plan(Nil)
    assert(all.map(_.name).distinct == ScaleRehearsal.known.filter(_ != "containment_uncapped"))
  }

  test("every rung list BASELINE.md cites still parses") {
    val cited = Seq("annserve", "asof,cms", "routed", "kmv", "pack",
      "routed_durable,routed_skew,routed_restart,routed_codes_durable", "autoef",
      "routed_hamming,routed_codes_durable", "routed_hamming", "routed_delete")
    for (ops <- cited) {
      val plan = ScaleRehearsal.plan(Seq("1000000,10000000", ops))
      assert(plan.map(_._2.map(_.name).distinct) == Right(ops.split(",").toSeq.sortBy(
        ScaleRehearsal.known.indexOf(_))), ops)
    }
  }
}
