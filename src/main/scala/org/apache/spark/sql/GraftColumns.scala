package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Column <-> Catalyst expression, for building columns of graft's
  * native expressions without registering a session function, a
  * DataFrame over one of graft's logical nodes, and whether a predicate
  * translates to a data source filter. These are package-private to
  * Spark, hence this shim. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def sourceFilter(e: Expression): Boolean =
    execution.datasources.DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)
      .isDefined
}
