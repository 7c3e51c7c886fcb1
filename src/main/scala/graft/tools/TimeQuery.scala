package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries.Pack

/** The engine's measurement harness:
  * `runMain graft.tools.TimeQuery <sfDir> [name...]` times each named
  * query (no names: every declared query) three times and prints one JSON
  * line per (query, run). The bench's min-of-N hides warmup effects; this
  * prints every run.
  *
  * The first line is the box-speed probe the bench records carry,
  * `{"calib_s": ...}`: a standalone re-time is compared against a bench
  * record in calib units, never in raw seconds. Each record line holds
  * three phases, run in this order:
  *  - `construct`: `fn(spark, sfDir)` — file listing, schema pins and the
  *    eager streaming drains the st* queries run inside `fn`;
  *  - `count`: `df.count()`, the bench's action. Catalyst prunes every
  *    column the count does not need, so an operator that lives in a
  *    projection chain may never run under it;
  *  - `noop`: a write to the built-in `noop` sink, which evaluates every
  *    projected column and writes nothing — the full compute cost, with
  *    no IO on the way out.
  *
  * Every phase carries the same counters: `wall_s`; Catalyst
  * `analysis_ms`/`optimization_ms`/`planning_ms` (the
  * `QueryPlanningTracker` of every execution); `jobs`, `stages`, `tasks`,
  * `task_cpu_s`, `gc_s`, `shuffle_read_bytes`, `shuffle_write_bytes`,
  * `spill_bytes`; `stream_queries`, `stream_batches`, the micro-batches'
  * `durationMs` summed per streaming phase (`stream_ms`) and
  * `state_commit_ms`. Events count toward the phase running when they are
  * delivered, and the listener bus is drained after each phase, so a
  * phase's counters are complete before the next one starts. The
  * listeners live on `spark` only for the duration of [[record]]. A
  * streaming query runs on a clone of the session, which copies its
  * query-execution listeners: the clone's executions count toward the
  * running phase, and the copy stays on the clone, dropping every event,
  * until the clone is collected.
  *
  * SPARK_GRAFT_SHUFFLE decouples partition count from core count for the
  * cores-only scaling sweep (SCALE.md §4j). */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = if (args.length > 1) args.tail.toSeq else Pack.all.map(_.name)
    val spark = graft.Session.local(graft.Session.cpus, graft.Session.shuffle)
    record(spark, args.head, names, 3).foreach(println)
    spark.stop()
  }

  /** The calib line, then one record line per (query, run). An unknown
    * name fails before anything runs. */
  def record(spark: SparkSession, sfDir: String, names: Seq[String], runs: Int): Seq[String] = {
    val unknown = names.filterNot(Pack.byName.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    val probe = spark.range(1L << 30).selectExpr("sum(xxhash64(id) % 1000)")
    probe.head()
    val calib = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      probe.head()
      (System.nanoTime() - t0) / 1e9
    }.min
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    spark.streams.addListener(rec.streams)
    try {
      def phase[A](body: => A): (A, Phase) = {
        val p = new Phase
        rec.phase = p
        val t0 = System.nanoTime()
        val a = body
        p.add("wall_s", (System.nanoTime() - t0) / 1e9)
        GraftBridge.waitListenerBusEmpty(spark)
        rec.phase = null
        (a, p)
      }
      s"""{"calib_s":${num(calib)}}""" +: (for (name <- names; run <- 1 to runs) yield {
        val (df, construct) = phase(Pack.byName(name).fn(spark, sfDir))
        val (_, count) = phase(df.count())
        val (_, noop) = phase(df.write.format("noop").mode("overwrite").save())
        s"""{"query":"$name","run":$run,"construct":${construct.json},""" +
          s""""count":${count.json},"noop":${noop.json}}"""
      })
    } finally {
      spark.streams.removeListener(rec.streams)
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  /** The `durationMs` keys of a micro-batch's progress, summed per phase. */
  private val streamPhases: Seq[String] = Seq("triggerExecution", "latestOffset", "getBatch",
    "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  private val counters = Seq("wall_s", "analysis_ms", "optimization_ms", "planning_ms",
    "jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "stream_queries", "stream_batches", "state_commit_ms")

  private val tracked = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
    QueryPlanningTracker.PLANNING)

  /** One phase's counters; listener threads add to it under its lock. */
  private final class Phase {
    private val c = mutable.LinkedHashMap.from(counters.map(_ -> 0.0))
    private val streamMs = mutable.LinkedHashMap.from(streamPhases.map(_ -> 0.0))
    def add(k: String, x: Double): Unit = synchronized(c(k) += x)
    def addStream(k: String, ms: Double): Unit = synchronized(streamMs(k) += ms)
    def json: String = synchronized {
      def fields(m: Iterable[(String, Double)]) = m.map { case (k, v) => s""""$k":${num(v)}""" }
      (fields(c) ++ Seq(fields(streamMs).mkString(""""stream_ms":{""", ",", "}"))).mkString("{", ",", "}")
    }
  }

  private def num(x: Double): String =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).bigDecimal.stripTrailingZeros.toPlainString

  /** The three listeners; each event adds to the phase running when it is
    * delivered, and is dropped between phases. */
  private final class Recorder extends SparkListener with QueryExecutionListener {
    @volatile var phase: Phase = _
    private def add(k: String, x: Double): Unit = Option(phase).foreach(_.add(k, x))

    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("task_cpu_s", m.executorCpuTime / 1e9)
        add("gc_s", m.jvmGCTime / 1e3)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planning(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planning(qe)
    private def planning(qe: QueryExecution): Unit =
      tracked.foreach(ph => qe.tracker.phases.get(ph).foreach(s => add(s"${ph}_ms", s.durationMs.toDouble)))

    val streams: StreamingQueryListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = add("stream_queries", 1)
      override def onQueryProgress(e: QueryProgressEvent): Unit = Option(phase).foreach { p =>
        val prog = e.progress
        p.add("stream_batches", 1)
        streamPhases.foreach(k => Option(prog.durationMs.get(k)).foreach(ms => p.addStream(k, ms.doubleValue)))
        p.add("state_commit_ms", prog.stateOperators.map(_.commitTimeMs.toDouble).sum)
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
  }
}
