package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Bridge into `private[sql]` surface for building Columns from custom
  * Catalyst expressions (the classic-mode ColumnNode wrapper). Standard
  * extension-library pattern — the alternative (registering a temp SQL
  * function per call site) can't carry non-child constructor state such as
  * bloom-filter bits.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The optimizer rules that `spark.sql.extensions` (or `withExtensions`)
    * injected into `spark`'s session state. */
  def injectedOptimizerRules(spark: SparkSession): Seq[Rule[LogicalPlan]] =
    spark.asInstanceOf[classic.SparkSession].extensions.buildOptimizerRules(spark)
}
