package org.apache.spark.sql

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.{NormalizeFloatingNumbers, RewriteWithExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Bridge for building Columns from custom Catalyst expressions and
  * DataFrames from analyzed plans or Catalyst rows, and for collecting
  * a DataFrame's Catalyst rows: `ExpressionUtils`, `Dataset.ofRows`,
  * the session state and the active-session scope are private[sql] in
  * Spark 4, so the accessors live in this package. No Spark internals
  * are modified.
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

  /** The local relation `createDataFrame` makes of external rows, over
    * rows already in Catalyst's form. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `e` with its float and double values (nested ones too) written as
    * grouping writes them: -0.0 as 0.0 and every NaN as one NaN. */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)

  /** `df.collect()` without its Row deserializer: the same action (one
    * SQL execution, metrics reset), returning the plan's own rows. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan.executeCollect()
    }
  }

  /** `rows`, collected from `df`'s plan ([[collectInternal]]), as the
    * Rows of `df.collect()`: made by a converter of `df`'s schema (in its
    * session's conf, as `collect`'s encoder is) instead of the
    * deserializer `collect` resolves with the analyzer. The converter is
    * made per call and keeps no row between rows. */
  def toRows(df: DataFrame, rows: Array[InternalRow]): Array[Row] = {
    val toRow = withActive(df.sparkSession)(CatalystTypeConverters.createToScalaConverter(df.schema))
    rows.map(toRow(_).asInstanceOf[Row])
  }

  /** An analyzed plan as the optimizer hands it to its first
    * local-relation batch: finish-analysis rewrites (runtime-replaceable
    * expressions replaced, current time fixed, aliases and hints gone)
    * and `With` expressions rewritten, in `spark`'s conf. */
  def finishAnalysis(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    withActive(spark)(RewriteWithExpression(
      spark.asInstanceOf[classic.SparkSession].sessionState.optimizer.FinishAnalysis(plan)))

  /** `body` with `spark` the thread's active session, as the optimizer
    * runs its rules. */
  def withActive[T](spark: SparkSession)(body: => T): T =
    spark.asInstanceOf[classic.SparkSession].withActive(body)
}
