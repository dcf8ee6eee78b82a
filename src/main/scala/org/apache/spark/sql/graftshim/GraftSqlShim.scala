package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` surface the public API does not expose:
  * constructing a DataFrame from a custom LogicalPlan node
  * (`Dataset.ofRows`). Spark extension libraries place exactly this
  * kind of one-line shim inside the `org.apache.spark.sql` namespace;
  * everything engine-specific stays in the `graft` packages.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Wrap a raw Catalyst Expression as a Column (the classic-API
    * `ExpressionUtils.column` is `private[sql]`). Needed for literals
    * the public `typedlit` cannot build efficiently — e.g. a dense
    * model as ONE `UnsafeArrayData` literal over a primitive array,
    * which serializes as a flat byte region instead of a boxed
    * object-graph walk (see `graft.llm.DenseLit`).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column, converted by the
    * session (`classic.SparkSession.expression` is `private[sql]`; the
    * session-free `ExpressionUtils.expression` only wraps the column
    * for later conversion), e.g. to evaluate a constant argument once
    * on the driver.
    */
  def expression(spark: SparkSession, c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)
}
