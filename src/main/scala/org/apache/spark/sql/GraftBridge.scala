package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private[sql] bridge: build a DataFrame from a custom logical
  * plan node (graft.plans.TopKPerKey), and a Column from a custom
  * expression. This is the standard extension seam for libraries that
  * add whole operators — the only alternative is routing every custom
  * node through SQL text or the session's function registry. No Spark
  * internals are modified; this file merely lives in the
  * org.apache.spark.sql package to reach `Dataset.ofRows` and
  * `ExpressionUtils`. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column over a Catalyst expression: resolves in whatever plan it
    * lands in, with no function-registry lookup. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column, for wrapping in [[column]]. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drain the async listener bus — Spark, query-execution and streaming
    * listener events are all delivered asynchronously, so TimeQuery
    * drains after each phase before reading its counters, and
    * plan-inspection tests flush before asserting. */
  def waitListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Count the shuffle exchanges a physical plan would actually run:
    * descends through AQE wrappers and query stages, counts a reused
    * exchange or a cache read as zero (the work happened once, elsewhere).
    * String-counting a plan overstates this badly — InMemoryRelation
    * reprints its stored plan, so iterative pipelines look quadratic. */
  def countShuffleExchanges(plan: execution.SparkPlan): Int = plan match {
    case a: execution.adaptive.AdaptiveSparkPlanExec =>
      countShuffleExchanges(a.executedPlan)
    case s: execution.exchange.ShuffleExchangeLike =>
      1 + s.children.map(countShuffleExchanges).sum
    case q: execution.adaptive.QueryStageExec => countShuffleExchanges(q.plan)
    case _: execution.exchange.ReusedExchangeExec => 0
    case _: execution.columnar.InMemoryTableScanExec => 0
    case other => other.children.map(countShuffleExchanges).sum
  }
}
