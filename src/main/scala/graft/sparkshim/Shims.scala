package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge to `private[sql]` Column↔Expression conversion (Spark 4 moved
  * Column to a plan-agnostic node type; the classic converters are
  * package-private). Compile-time access trick only — no runtime hackery.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built logical plan (Dataset.ofRows is
    * private[sql]) — used to plant custom LogicalPlan nodes like
    * graft.plans.AsOfJoinPlan.
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's FULL planner strategy list — extension-injected
    * strategies (spark.sql.extensions) AND experimental ones AND the
    * built-ins (`sessionState` is private[sql]). Used for idempotent
    * imperative strategy registration: a session built with
    * GraftExtensions must not get a second copy appended to
    * experimental.extraStrategies.
    */
  def plannerStrategies(
      spark: org.apache.spark.sql.SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.strategies

  /** The session's typed SQL conf (`sessionState` is private[sql]). */
  def sqlConf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** `StructType.merge` (private[sql]): the union a `mergeSchema` read builds. */
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)
}
