package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Descending, Expression, GenericInternalRow, In, Literal, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.functions.CosineSimilarityF32
import graft.hnsw.HnswModel

/** Catalyst planner integration for the HNSW index — the (c) tier of the
  * custom-operator ladder: a logical node, a physical operator planned by
  * a [[SparkStrategy]], and a [[Rule]] that rewrites the SQL idiom
  * `ORDER BY cosine_sim_f32(vec, <literal>) DESC LIMIT k` over a
  * registered indexed table into an index-backed candidate filter.
  * Activated per session via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) or
  * `spark.experimental.extra{Strategies,Optimizations}`.
  */

/** Logical k-NN over a child exposing query id + vector columns (held as
  * expressions so column pruning keeps exactly those two alive) using an
  * in-scope index model. Output: (qid, id, dist, rank).
  *
  * The output attributes are constructor state, NOT a per-instance val:
  * Catalyst copies nodes freely (withNewChild, transformExpressions) and
  * freshly-minted exprIds on each copy would orphan every downstream
  * reference. */
case class HnswKnn(model: HnswModel, k: Int,
                   qidExpr: Expression, qvecExpr: Expression,
                   outputAttrs: Seq[Attribute],
                   child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = outputAttrs
  // qidExpr/qvecExpr are constructor Expression fields, so QueryPlan's
  // final `expressions` collects them automatically -> column pruning
  // keeps them alive in the child.
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet
  override def argString(maxFields: Int): String =
    s"n=${model.size}, k=$k, $qidExpr, $qvecExpr" // never dump the model
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
}

object HnswKnn {
  def apply(model: HnswModel, k: Int, qidExpr: Expression,
            qvecExpr: Expression, child: LogicalPlan): HnswKnn =
    HnswKnn(model, k, qidExpr, qvecExpr, Seq(
      AttributeReference("qid", LongType, nullable = false)(),
      AttributeReference("id", LongType, nullable = false)(),
      AttributeReference("dist", DoubleType, nullable = false)(),
      AttributeReference("rank", IntegerType, nullable = false)()), child)
}

/** Physical k-NN: broadcast the model once, run the executor-local
  * kernel per query partition — identical dataflow to
  * HnswDistributed.search, expressed as a SparkPlan so Catalyst can place
  * it inside larger plans. */
case class HnswKnnExec(output: Seq[Attribute], model: HnswModel, k: Int,
                       qidOrd: Int, qvecOrd: Int, child: SparkPlan)
    extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override def argString(maxFields: Int): String =
    s"n=${model.size}, k=$k" // never dump the model

  override protected def doExecute(): RDD[InternalRow] = {
    val modelB = sparkContext.broadcast(model)
    val kLocal = k
    child.execute().mapPartitions { it =>
      val kernel = modelB.value.kernel()
      val proj = UnsafeProjection.create(
        Array[DataType](LongType, LongType, DoubleType, IntegerType))
      val row = new GenericInternalRow(4)
      it.flatMap { r =>
        val qid = r.getLong(qidOrd)
        val qvec = r.getArray(qvecOrd).toFloatArray()
        // the layer-0 beam floored at k: plain search would silently
        // truncate k > efSearch(0) results to the model's beam width
        kernel.search(qvec, kLocal, kLocal).iterator.zipWithIndex.map { case (nb, i) =>
          row.update(0, qid); row.update(1, nb.dst)
          row.update(2, nb.dist); row.update(3, i + 1)
          proj.apply(row).copy()
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)
}

/** Plans [[HnswKnn]] into [[HnswKnnExec]], binding qid/qvec by name. */
class HnswStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n @ HnswKnn(model, k, qidE: AttributeReference, qvecE: AttributeReference, _, child) =>
      val qid = child.output.indexWhere(_.exprId == qidE.exprId)
      val qvec = child.output.indexWhere(_.exprId == qvecE.exprId)
      require(qid >= 0 && qvec >= 0,
        s"HnswKnn child must expose ${qidE.name}/${qvecE.name}, got ${child.output.map(_.name)}")
      HnswKnnExec(n.output, model, k, qid, qvec, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Driver-side registry of indexed tables for the rewrite rule: a parquet
  * root path (or any identifying substring of it) -> (model, id/vec
  * column names). Registering is the user's assertion that the model
  * indexes exactly that table's vectors (exact-regime models keep the
  * rewrite semantics-identical; ANN-regime models make it an approximate
  * index scan, the usual index-hint contract). */
object HnswCatalog {
  final case class Entry(model: HnswModel, idCol: String, vecCol: String)
  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  def register(pathSubstring: String, model: HnswModel,
               idCol: String, vecCol: String): Unit =
    entries.put(pathSubstring, Entry(model, idCol, vecCol))
  def unregister(pathSubstring: String): Unit = entries.remove(pathSubstring)
  def lookup(paths: Seq[String]): Option[Entry] = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (paths.exists(_.contains(e.getKey))) return Some(e.getValue)
    }
    None
  }
}

/** Rewrite `ORDER BY cosine_sim_f32(vecCol, <literal query>) DESC LIMIT k`
  * over a registered indexed relation into the same sort/limit over an
  * index-produced candidate set: the kernel search runs driver-side
  * against the registry model (pure in-memory, no jobs), and the scan
  * gains `id IN (<candidates>)` — at scale that's the difference between
  * a full-table similarity scan and k row lookups. The original
  * sort+limit stay on top, so output order and schema are untouched.
  *
  * Plans with a WHERE between the sort and the relation are SKIPPED by
  * default: the filter changes which rows compete for the top-k, and no
  * finite candidate over-fetch can guarantee k survivors (a selective
  * predicate may exclude every index candidate while matching rows exist
  * beyond them) — so the rewrite stays exact by leaving those plans to
  * the full scan. Setting [[HnswTopKRewrite.FilterOverfetchConf]] to
  * F > 0 opts filtered plans into the rewrite with F*k candidates
  * fetched before the predicate — the usual approximate index-hint
  * contract: fast, and exact whenever >= k of the F*k nearest survive
  * the filter. */
case class HnswTopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import HnswTopKRewrite.FilterOverfetchConf

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // column pruning may slide a Project between the limits and the sort
    case gl @ GlobalLimit(Literal(k: Int, IntegerType),
        LocalLimit(_, sort: Sort)) if sort.global =>
      rewrite(sort, k).map(s =>
        GlobalLimit(Literal(k), LocalLimit(Literal(k), s))).getOrElse(gl)
    case gl @ GlobalLimit(Literal(k: Int, IntegerType),
        LocalLimit(_, p @ Project(_, sort: Sort))) if sort.global =>
      rewrite(sort, k).map(s =>
        GlobalLimit(Literal(k), LocalLimit(Literal(k), p.copy(child = s)))).getOrElse(gl)
  }

  private def rewrite(sort: Sort, k: Int): Option[Sort] = sort.order match {
    case Seq(SortOrder(CosineSimilarityF32(attr: AttributeReference, Literal(qv, ArrayType(FloatType, _))), Descending, _, _)) =>
      // malformed conf values degrade to "no over-fetch", never to an
      // exception thrown from inside an optimizer rule
      val overfetch = spark.conf.getOption(FilterOverfetchConf)
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption).filter(_ > 0).getOrElse(0)
      for {
        (paths, nFilters) <- relationPathsAndFilters(sort.child)
        if nFilters == 0 || overfetch > 0 // exact by default: skip filtered plans
        entry <- HnswCatalog.lookup(paths)
        // the matched idiom is COSINE similarity: a registered model
        // built under another metric would produce its own metric's
        // nearest set — silently wrong rows for unnormalized vectors —
        // so such plans are left to the full scan
        if entry.model.metricName == "cosine"
        if attr.name == entry.vecCol && !alreadyFiltered(sort.child, entry.idCol)
        idAttr <- sort.child.output.find(_.name == entry.idCol)
      } yield {
        val qvec = qv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray()
        val fetchK = if (nFilters == 0) k else k * overfetch
        val ids = driverSearch(entry.model, qvec, fetchK)
        sort.copy(child = LFilter(
          In(idAttr, ids.map(Literal(_)).toSeq), sort.child))
      }
    case _ => None
  }

  /** Paths of the underlying file relation plus the count of Filters in
    * between. Pure column-pruning (Project) chains are always safe;
    * filters gate on the over-fetch opt-in (see class doc). */
  private def relationPathsAndFilters(p: LogicalPlan): Option[(Seq[String], Int)] = p match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        Some((fs.location.rootPaths.map(_.toString), 0))
      case _ => None
    }
    case Project(_, c) => relationPathsAndFilters(c)
    case LFilter(_, c) => relationPathsAndFilters(c).map { case (ps, n) => (ps, n + 1) }
    case _ => None
  }

  private def alreadyFiltered(p: LogicalPlan, idCol: String): Boolean = p.exists {
    case LFilter(In(a: AttributeReference, _), _) => a.name == idCol
    case _ => false
  }

  // the layer-0 beam floored at k — an over-fetch of F*k candidates
  // would otherwise silently truncate to the model's configured efSearch
  private def driverSearch(model: HnswModel, qvec: Array[Float], k: Int): Array[Long] =
    model.kernel().search(qvec, k, k).toArray.map(_.dst)
}

object HnswTopKRewrite {
  /** Over-fetch factor F for filtered top-k plans: 0 (default) skips the
    * rewrite when a WHERE sits between the sort and the relation; F > 0
    * rewrites with F*k index candidates fetched before the predicate
    * (approximate index-hint semantics — see the rule's doc). */
  val FilterOverfetchConf = "spark.graft.hnsw.topk.filterOverfetch"
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` wires both pieces
  * into every session built from that config. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => new HnswStrategy)
    ext.injectOptimizerRule(s => HnswTopKRewrite(s))
    ext.injectOptimizerRule(s => SlidingRangeCountRewrite(s))
    graft.functions.GraftFunctionRegistry.inject(ext)
  }
}

/** Programmatic surface: a DataFrame whose plan IS the logical index
  * node (requires the strategy to be installed). */
object HnswSql {
  def knn(queries: DataFrame, model: HnswModel, k: Int): DataFrame = {
    val child = queries.select(queries.col("qid"), queries.col("qvec"))
      .queryExecution.analyzed
    val qid = child.output.find(_.name == "qid").get
    val qvec = child.output.find(_.name == "qvec").get
    org.apache.spark.sql.graftbridge.Bridge.ofRows(
      queries.sparkSession,
      HnswKnn(model, k, qid, qvec, child))
  }
}
