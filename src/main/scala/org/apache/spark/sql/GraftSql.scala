package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` Column↔Expression
  * converters, so graft's native Catalyst expressions can be used as
  * `Column`s on ANY SparkSession — not only sessions built by
  * `graft.Engine` (which also registers them as SQL functions). The
  * standard pattern for Spark-extension libraries on the classic
  * (non-connect) runtime. */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over an already-analyzed logical plan — the registry
    * scale audit (RegistryScaleAuditSpec) uses this to MEASURE each Window
    * operator's child cardinality and partition sizes instead of
    * eyeballing plan strings. Classic-runtime bridge, test-side only. */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
