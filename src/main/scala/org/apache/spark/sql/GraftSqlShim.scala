package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark 4's Column↔Expression conversion (ExpressionUtils is
  * private[sql], so third-party expression libraries need an in-package
  * shim — the standard pattern for Catalyst extensions). */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** [[org.apache.spark.sql.connector.catalog.CatalogV2Util.applySchemaChanges]]
    * is private[sql]; the catalog uses it to encode column DEFAULTs into
    * the standard CURRENT_DEFAULT/EXISTS_DEFAULT field metadata exactly
    * the way Spark's own commands do. */
  def applySchemaChanges(schema: org.apache.spark.sql.types.StructType,
      changes: Seq[org.apache.spark.sql.connector.catalog.TableChange])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .applySchemaChanges(schema, changes, Some("graft"), "ALTER TABLE")

  /** `Dataset.ofRows` is private[sql]; materialized-view maintenance
    * executes catalyst plans it assembled directly (the view's analyzed
    * body with its base relation swapped for a change-image frame). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The running SparkContext, if any, without creating one
    * (`SparkContext.getActive` is private[spark]). */
  def activeContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.SparkContext.getActive

  /** The analyzed logical plan behind a DataFrame (`queryExecution` lives
    * on the classic Dataset). */
  def analyzedPlan(df: Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
}
