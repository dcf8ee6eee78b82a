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

  /** `c` declared non-nullable, for a value the caller knows is never
    * null where the analyzer cannot see it (a union padded with typed
    * nulls, filtered back to the rows that hold real values).
    */
  def knownNotNull(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    column(org.apache.spark.sql.catalyst.expressions.KnownNotNull(
      org.apache.spark.sql.classic.ExpressionUtils.expression(c)))
}
