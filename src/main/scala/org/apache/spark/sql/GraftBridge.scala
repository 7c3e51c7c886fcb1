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

  /** A clone of `spark` on the same context, cache and extensions, with a
    * copy of its conf and query-execution listeners: a conf write on the
    * clone never reaches `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The query-execution listeners registered on `spark`. */
  def queryListeners(spark: SparkSession): Seq[AnyRef] = spark.listenerManager.listListeners().toSeq

  /** `df` as a one-node plan over the RDD its physical plan executes to
    * (planned now; its broadcasts run now). The RDD keeps the whole
    * lineage, so a lost block of a cache built on it recomputes, while a
    * plan built on it — and every plan a cache of it prints or posts —
    * stops at this node instead of nesting `df`'s plan. Statistics carry
    * over; output partitioning does not: a leaf's partitioning keeps its
    * attribute ids when a self-join re-instances the leaf, and the copy
    * then misses every cache built over the original. */
  def rddLeaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    classic.Dataset.ofRows(ds.sparkSession, execution.LogicalRDD(qe.analyzed.output, qe.toRdd)(
      ds.sparkSession, Some(qe.optimizedPlan.stats), None))
  }

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
}
