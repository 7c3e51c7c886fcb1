package org.apache.spark.sql

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.JobArtifactState
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The sessions a caller's streams execute in. A stream plans and
  * compiles each micro-batch in its own clone of the session that
  * started it, and runs a foreachBatch body's jobs there too; that clone
  * reports to the caller's query-execution listeners (Spark copies them
  * into it, or the engine forwards to them), so a listener on the caller
  * sees every such execution with its session. Test-only: lets a suite
  * check how the streams a body starts are configured. */
object StreamSessions {

  /** Run `body`; return, for each execution the caller's listeners saw
    * that ran in another session, that session's artifact state. None:
    * artifact isolation is off, so the session uses the default
    * classloader and shares Spark's codegen cache with every other such
    * session. */
  def artifactStates(caller: SparkSession)(body: => Unit): Seq[Option[JobArtifactState]] = {
    val seen = new ConcurrentLinkedQueue[Option[JobArtifactState]]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit =
        if (qe.sparkSession ne caller) seen.add(Option(qe.sparkSession.artifactManager.state)): Unit
    }
    caller.listenerManager.register(listener)
    try body finally {
      GraftBridge.waitListenerBusEmpty(caller)
      caller.listenerManager.unregister(listener)
    }
    seen.asScala.toSeq
  }
}
