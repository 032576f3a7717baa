package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** graft's one door into Spark's `private[sql]` API: wrap a custom
  * logical plan node (e.g. `graft.plans.AsOfJoinNode`) back into a
  * DataFrame, and convert between Column and Catalyst Expression so
  * native expressions join the public Column algebra. Spark's own
  * connectors use the same doors; everything else in graft stays on
  * public API. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
