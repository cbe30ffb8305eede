package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge to Spark's package-private Expression <-> Column conversions
 * (`org.apache.spark.sql.classic.ExpressionUtils`). Spark 4 hides the
 * Column(expr) constructor behind the classic/connect split; extension
 * libraries host a small shim in this package to reach it.
 */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Execute a hand-transformed logical plan (e.g. a rule applied to an
    * analyzed plan in a test) — `classic.Dataset.ofRows` is private[sql]. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Whether Spark's file index skips a file or directory of this name
    * (`_`/`.`-prefixed, except summary files) — `HadoopFSUtils` is
    * private[spark]. */
  def hiddenFromFileIndex(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
