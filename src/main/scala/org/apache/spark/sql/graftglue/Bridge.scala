package org.apache.spark.sql.graftglue

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.internal.SessionState
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, classic}

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

  /** A child of `spark`: its own copy of the SQL conf, temp views and
    * functions; the SparkContext, cache and catalog stay shared.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s plan as a DataFrame of `spark`: its actions plan under
    * `spark`'s conf, and a persisted `df` still reads the shared cache.
    */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** Detach `child`'s streaming listener bus from the SparkContext, if
    * the child ever built one: a session that starts a stream builds a
    * StreamingQueryManager, whose bus stays registered on the context's
    * listener bus for the context's lifetime. Call once the child's
    * queries have terminated. Both fields are private: reading the
    * lazy `streamingQueryManager` field, not its accessor, leaves a
    * child that never streamed without a manager.
    */
  def releaseStreams(child: SparkSession): Unit = {
    def field(cls: Class[_], name: String) = {
      val f = cls.getDeclaredField(name)
      f.setAccessible(true)
      f
    }
    Option(field(classOf[SessionState], "streamingQueryManager").get(child.sessionState))
      .foreach { m =>
        val bus = field(classOf[classic.StreamingQueryManager], "listenerBus").get(m)
        child.sparkContext.listenerBus.removeListener(bus.asInstanceOf[SparkListenerInterface])
      }
  }

  /** [[releaseStreams]] for the session terminated query `q` ran its
    * batches on: each query runs on its own clone of the session that
    * started it, and a stateful query's clone builds a
    * StreamingQueryManager too.
    */
  def releaseQuery(q: StreamingQuery): Unit =
    releaseStreams(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream)
}
