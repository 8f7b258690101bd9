package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst-Expression bridge.
  *
  * Spark 4 routes `Column` through `ColumnNode`, and the converters
  * (`classic.ExpressionUtils`) are `private[sql]`. Hosting this one-file shim
  * inside the `org.apache.spark.sql` namespace is the established pattern for
  * third-party Catalyst extension libraries; everything else in this repo
  * lives under `graft` and uses only these two entry points.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
