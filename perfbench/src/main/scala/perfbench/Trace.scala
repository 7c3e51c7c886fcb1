package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer counters, filled by the listeners below. */
final class Counters {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  /** Per stream id: (state rows, state memory bytes) at its latest progress. */
  val state: mutable.Map[String, (Long, Long)] = mutable.Map.empty
}

/** Spans and counters of the traced run. Spans are recorded around the
  * benchmark's own calls into each layer and kept in memory until the run
  * ends; listener events are attributed to the op that is running (the
  * benchmark is one sequential client). With both flags off, spans cost one
  * branch and the listeners return at once. */
object Trace {
  final case class Span(id: Int, parent: Int, op: String, name: String, start: Long, end: Long)

  /** Spans are recorded while `enabled`; listener events are counted while `counting`. */
  @volatile var enabled = false
  @volatile var counting = false
  @volatile var currentOp = "setup"
  private var installed = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val counters = mutable.LinkedHashMap.empty[String, Counters]

  def counter(op: String): Counters = synchronized(counters.getOrElseUpdate(op, new Counters))
  private def add(op: String, k: String, x: Double): Unit = synchronized(counter(op).add(k, x))

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
      }
    }

  def spansJsonl: Iterator[String] = spans.iterator.map(s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end))

  def countersJson: String = synchronized {
    Json.obj(counters.toSeq.map { case (op, c) =>
      val state = Seq("streaming.state_rows" -> c.state.values.map(_._1).sum.toDouble,
        "streaming.state_mem_bytes" -> c.state.values.map(_._2).sum.toDouble)
      op -> Json.Raw(Json.obj((c.v.toSeq ++ state): _*))
    }: _*)
  }

  /** Wait for every queued listener event, so the op's counters are complete. */
  def flush(spark: SparkSession): Unit =
    if (installed) PerfbenchAccess.drainListenerBus(spark.sparkContext)

  /** Run `body` (the result checks) without counting its Spark work. */
  def withoutCounters[T](spark: SparkSession)(body: => T): T = {
    val was = counting
    counting = false
    try body finally { flush(spark); counting = was }
  }

  /** Add a query's catalyst phase times to the running op's counters. */
  def countPhases(qe: QueryExecution, phases: Seq[String]): Unit = if (counting) {
    val tracked = qe.tracker.phases
    synchronized {
      val c = counter(currentOp)
      phases.foreach(ph => c.add(s"catalyst.${ph}_ms", tracked.get(ph).map(_.durationMs.toDouble).getOrElse(0.0)))
    }
  }

  def install(spark: SparkSession): Unit = {
    installed = true
    spark.sparkContext.addSparkListener(ExecListener)
    spark.listenerManager.register(PlanListener)
    spark.streams.addListener(StreamListener)
  }

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).getOrElse(currentOp)

  object ExecListener extends SparkListener {
    private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (counting) add(opOf(e.properties), "exec.jobs", 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (counting) stageOp.put(e.stageInfo.stageId, opOf(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (counting) add(stageOp.getOrDefault(e.stageInfo.stageId, currentOp), "exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting) {
      val op = stageOp.getOrDefault(e.stageId, currentOp)
      add(op, "exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) synchronized {
        val c = counter(op)
        c.add("exec.task_run_s", m.executorRunTime / 1e3)
        c.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        c.add("exec.gc_s", m.jvmGCTime / 1e3)
        c.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        c.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        c.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        c.add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  /** Every node of an executed plan, through AQE wrappers, query stages and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def isEngineClass(o: AnyRef): Boolean = o.getClass.getName.startsWith("graft.")

  object PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (counting) record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (counting) record(qe)

    private def record(qe: QueryExecution): Unit = {
      val op = currentOp
      add(op, "catalyst.executions", 1)
      countPhases(qe, Seq("analysis", "optimization", "planning"))
      val all = try nodes(qe.executedPlan) catch { case _: Exception => Nil }
      all.foreach {
        case w: DataWritingCommandExec =>
          add(op, "sink.files_written", w.cmd.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0))
          add(op, "sink.bytes_written", w.cmd.metrics.get("numOutputBytes").map(_.value.toDouble).getOrElse(0.0))
        case _ => ()
      }
      val custom = all.filter(isEngineClass)
      val customExprs = all.map(_.expressions.map(_.collect { case e if isEngineClass(e) => e }.size).sum).sum
      add(op, "plans.custom_nodes", (custom.size + customExprs).toDouble)
      add(op, "plans.rows_out",
        custom.flatMap(_.metrics.get("numOutputRows")).map(_.value.toDouble).sum)
    }
  }

  object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (counting) add(currentOp, "streaming.queries", 1)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (counting) {
      val p = e.progress
      val op = currentOp
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      synchronized {
        val c = counter(op)
        c.add("streaming.batches", 1)
        c.add("streaming.input_rows", p.numInputRows.toDouble)
        c.add("streaming.trigger_ms", d("triggerExecution"))
        c.add("streaming.add_batch_ms", d("addBatch"))
        c.add("streaming.wal_commit_ms", d("walCommit"))
        c.add("streaming.commit_offsets_ms", d("commitOffsets"))
        c.add("streaming.query_planning_ms", d("queryPlanning"))
        c.add("streaming.state_commit_ms", p.stateOperators.map(_.commitTimeMs.toDouble).sum)
        if (p.stateOperators.nonEmpty)
          c.state(p.id.toString) = (p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }
}
