package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge for building Columns from custom Catalyst expressions, and
  * DataFrames from analyzed plans: `ExpressionUtils` and
  * `Dataset.ofRows` are private[sql] in Spark 4, so the accessors live
  * in this package. No Spark internals are modified.
  */
object GraftColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over `plan`, a new tree copied from analyzed plans (a
    * bound request template): it is marked analyzed, so the analyzer
    * does not run on it again, and drops the DataFrame ids its root was
    * copied with, so self-join detection sees only its own. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.unsetTagValue(classic.Dataset.DATASET_ID_TAG)
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }
}
