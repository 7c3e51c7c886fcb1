package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

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

  /** Make `derived` report to `caller`'s listeners: drop the
    * query-execution and streaming listeners `derived` holds and register
    * one forwarder of each kind, which holds `caller` weakly and hands
    * each event to the listeners `caller` holds when it arrives. Clones
    * of `derived` (a stream runs on one) copy the forwarder, never a
    * caller listener. A listener that throws does not stop delivery to
    * the others; the first failure is rethrown for Spark's bus to log. */
  def forwardListeners(derived: SparkSession, caller: SparkSession): Unit = {
    val ref = new java.lang.ref.WeakReference(caller)
    def each[L](listeners: SparkSession => Seq[L])(f: L => Unit): Unit =
      Option(ref.get).foreach { c =>
        val failures = listeners(c).flatMap(l => scala.util.Try(f(l)).failed.toOption)
        failures.headOption.foreach(throw _)
      }
    val queries = each(_.listenerManager.listListeners().toSeq) _
    val streams = each(_.streams.listListeners().toSeq) _
    derived.listenerManager.clear()
    derived.streams.listListeners().foreach(derived.streams.removeListener)
    derived.listenerManager.register(new util.QueryExecutionListener {
      def onSuccess(f: String, qe: execution.QueryExecution, ns: Long): Unit =
        queries(_.onSuccess(f, qe, ns))
      def onFailure(f: String, qe: execution.QueryExecution, e: Exception): Unit =
        queries(_.onFailure(f, qe, e))
    })
    derived.streams.addListener(new streaming.StreamingQueryListener {
      import streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = streams(_.onQueryStarted(e))
      def onQueryProgress(e: QueryProgressEvent): Unit = streams(_.onQueryProgress(e))
      override def onQueryIdle(e: QueryIdleEvent): Unit = streams(_.onQueryIdle(e))
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = streams(_.onQueryTerminated(e))
    })
  }

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

  /** A DataFrame of `schema` over `rows`, as a one-node plan. */
  def ofInternalRows(spark: SparkSession, schema: StructType, rows: RDD[InternalRow]): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** `body`, which runs jobs over `df.queryExecution.toRdd`, as one SQL
    * execution of `df`'s plan named `name`: its jobs, plan and phase
    * times reach the query-execution listeners the way an action's do. */
  def execute[T](df: DataFrame, name: String)(body: => T): T =
    execution.SQLExecution.withNewExecutionId(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution, Some(name))(body)

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
