package org.apache.spark.sql.graftglue

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}

/** Thin bridge into Spark's `private[sql]` surface — the sanctioned
  * extension-library pattern (a subpackage of org.apache.spark.sql so
  * `private[sql]` members resolve). Keeps ALL such access in one
  * package; everything under `graft.*` stays on public API.
  */
object Bridge {

  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a Catalyst expression builder as a SQL function for this
    * session (codegen-preserving, unlike spark.udf.register).
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** `spark.sql(sqlText)` with `substitute` applied to the parsed plan before analysis. */
  def sql(spark: SparkSession, sqlText: String)(substitute: LogicalPlan => LogicalPlan): DataFrame =
    spark.withActive {
      val tracker = new QueryPlanningTracker
      val parsed = tracker.measurePhase(QueryPlanningTracker.PARSING)(
        spark.sessionState.sqlParser.parsePlan(sqlText))
      classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], substitute(parsed), tracker)
    }
}
