package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, FloatType, LongType}

/** Access bridge into `private[sql]` Spark internals (Column <-> Expression
  * conversion and the `AbstractDataType`-typed `inputTypes` contract).
  * Lives under org.apache.spark.sql.* solely for visibility; keep it tiny. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw logical plan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Blocks until every listener has seen every event posted so far
    * (`SparkContext.listenerBus` is private[spark]). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Posts `e` to every listener, after the events posted before it. */
  def post(sc: org.apache.spark.SparkContext, e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
    sc.listenerBus.post(e)
}

/** Input-type contract: (array<float>, array<float>). */
trait Float32BinaryInput extends ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
}

/** Input-type contract: (array<float>). */
trait Float32UnaryInput extends ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
}

/** Input-type contract: (array<float>, bigint) — e.g. vector vs packed code. */
trait Float32LongInput extends ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), LongType)
}

/** Input-type contract: (array<float>, binary) — e.g. vector vs byte codes. */
trait Float32BytesInput extends ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), BinaryType)
}

/** Input-type contract: (array<bigint>, bigint) — e.g. sorted-array probes. */
trait LongArrayLongInput extends ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), LongType)
}

/** Input-type contract: (double) — e.g. order-bits reinterpretation. */
trait DoubleUnaryInput extends ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.DoubleType)
}
