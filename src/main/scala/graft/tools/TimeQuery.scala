package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ext.BoundedCache
import graft.queries.Pack

/** The engine's measurement harness and its one source of plan facts:
  * `runMain graft.tools.TimeQuery <sfDir> [name...]` times each named
  * query (no names: every declared query) three times and prints one JSON
  * line per (query, run), each as soon as it is measured — a full-pack
  * run shows its progress, and a query that throws leaves the lines
  * measured before it. The bench's min-of-N hides warmup effects; this
  * prints every run. A `sfDir` that is not a directory fails at once (a
  * flag taken as the path once produced an all-error plan table).
  *
  * The first line is the box-speed probe the bench records carry,
  * `{"calib_s": ..., "sf_dir": ..., "queries": [...]}`: a standalone
  * re-time is compared against a bench record in calib units, never in
  * raw seconds, and the names say which lines a complete record holds.
  * Every run starts cache-cold: [[BoundedCache]] and the session's
  * cache are cleared before its `construct`, so no line depends on the
  * queries that ran before it, and runs 2.. are JIT-warm but cache-cold.
  * Each record line holds three phases, run in this order:
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
  * `state_commit_ms`; `windows_1p`, the `Window` operators with no
  * partition spec (one task holds their whole input) in every execution
  * the phase ran, so `construct` counts the eager sub-jobs' windows; and
  * the JVM-wide compile layer: `codegen_compiles` (`CodegenMetrics`'
  * compile count), `codegen_ms` (`CodeGenerator.compileTime`, the exact
  * sum the histogram only samples), `classes_loaded` and `jit_ms` (JIT
  * compiler threads' time, not wall). Events count toward the phase
  * running when they are delivered, and the listener bus is drained after
  * each phase, so a phase's counters are complete before the next one
  * starts. The listeners live on `spark` only for the duration of
  * [[record]]; streams and fixpoint loops reach them through the
  * forwarders of their [[graft.Session.derived]] session.
  *
  * Every line also carries `plan`: the [[planFacts]] node counts of the
  * frame's own `df.queryExecution.executedPlan`, walked by [[nodes]]
  * after `count`, and `rows`, the count's result. That plan is an
  * `AdaptiveSparkPlanExec` that never runs (the count and the noop write
  * execute plans of their own), so its facts are the plan as it stands
  * before execution: a join AQE converts to a broadcast at runtime never
  * shows in them. Run 1's line adds `plan_text`, its
  * `explain("formatted")` output.
  *
  * SPARK_GRAFT_SHUFFLE decouples partition count from core count: a
  * partition-shape sweep is one record per shuffle setting. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || !Files.isDirectory(Paths.get(args.head))) {
      System.err.println(s"TimeQuery: '${args.headOption.getOrElse("")}' is not a directory — " +
        "usage: TimeQuery <sfDir> [name...]")
      sys.exit(2)
    }
    val names = if (args.length > 1) args.tail.toSeq else Pack.all.map(_.name)
    val spark = graft.Session.local(graft.Session.cpus, graft.Session.shuffle)
    record(spark, args.head, names, 3, println)
    spark.stop()
  }

  /** Hand `emit` the calib line, then one record line per (query, run), each
    * once it is measured. An unknown name fails before anything runs. */
  def record(spark: SparkSession, sfDir: String, names: Seq[String], runs: Int,
             emit: String => Unit): Unit = {
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
    // the probe's events must not reach the first phase
    GraftBridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    spark.streams.addListener(rec.streams)
    try {
      def phase[A](body: => A): (A, Phase) = {
        val p = new Phase
        rec.phase = p
        val layer0 = compileLayer()
        val t0 = System.nanoTime()
        val a = body
        p.add("wall_s", (System.nanoTime() - t0) / 1e9)
        GraftBridge.waitListenerBusEmpty(spark)
        compileLayer().zip(layer0).foreach { case ((k, x1), (_, x0)) => p.add(k, x1 - x0) }
        rec.phase = null
        (a, p)
      }
      emit(s"""{"calib_s":${num(calib)},"sf_dir":${str(sfDir)},""" +
        s""""queries":${names.map(str).mkString("[", ",", "]")}}""")
      for (name <- names; run <- 1 to runs) {
        BoundedCache.clear()
        spark.catalog.clearCache()
        val (df, construct) = phase(Pack.byName(name).fn(spark, sfDir))
        val (rows, count) = phase(df.count())
        val plan = nodes(df.queryExecution.executedPlan)
        val facts = planFacts.map { case (k, f) => s""""$k":${plan.count(f)}""" }
        val text =
          if (run == 1) s""","plan_text":${str(df.queryExecution.explainString(FormattedMode))}"""
          else ""
        val (_, noop) = phase(df.write.format("noop").mode("overwrite").save())
        emit(s"""{"query":${str(name)},"run":$run,"construct":${construct.json},""" +
          s""""count":${count.json},"noop":${noop.json},""" +
          s""""plan":${(facts :+ s""""rows":$rows""").mkString("{", ",", "}")}$text}""")
      }
    } finally {
      spark.streams.removeListener(rec.streams)
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  /** Every node a physical plan runs, in pre-order. It descends AQE
    * wrappers into their current plan and query stages into their
    * stage plan; a cached scan or a reused exchange is a leaf, since the
    * work under it runs once, elsewhere (an `InMemoryRelation` reprints
    * its stored plan, so counting plan text overstates iterative
    * pipelines badly). */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _: InMemoryTableScanExec | _: ReusedExchangeExec => Seq(plan)
    case _ => plan +: plan.children.flatMap(nodes)
  }

  /** The `plan` object's node counts, in PLANSTATS.md's column order. */
  private val planFacts: Seq[(String, SparkPlan => Boolean)] = Seq(
    ("scans", _.isInstanceOf[FileSourceScanExec]),
    ("xchg_hash", { case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]
                    case _ => false }),
    ("xchg_range", { case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
                     case _ => false }),
    ("bcast", _.isInstanceOf[BroadcastExchangeExec]),
    ("smj", _.isInstanceOf[SortMergeJoinExec]),
    ("bhj", _.isInstanceOf[BroadcastHashJoinExec]),
    ("sort_agg", _.isInstanceOf[SortAggregateExec]),
    ("obj_agg", _.isInstanceOf[ObjectHashAggregateExec]),
    ("cached", _.isInstanceOf[InMemoryTableScanExec]),
    ("topk", _.isInstanceOf[TakeOrderedAndProjectExec]))

  private val mapper = new ObjectMapper
  private def str(s: String): String = mapper.writeValueAsString(s)

  /** The `durationMs` keys of a micro-batch's progress, summed per phase. */
  private val streamPhases: Seq[String] = Seq("triggerExecution", "latestOffset", "getBatch",
    "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  private val counters = Seq("wall_s", "analysis_ms", "optimization_ms", "planning_ms",
    "jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "stream_queries", "stream_batches", "state_commit_ms",
    "windows_1p", "codegen_compiles", "codegen_ms", "classes_loaded", "jit_ms")

  /** The JVM-wide compile-layer counters, as running totals. */
  private def compileLayer(): Seq[(String, Double)] = Seq(
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen_ms" -> CodeGenerator.compileTime / 1e6,
    "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble,
    "jit_ms" -> Option(ManagementFactory.getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
      .fold(0.0)(_.getTotalCompilationTime.toDouble))

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
    private def planning(qe: QueryExecution): Unit = {
      tracked.foreach(ph => qe.tracker.phases.get(ph).foreach(s => add(s"${ph}_ms", s.durationMs.toDouble)))
      // a failed execution may have no physical plan to walk
      add("windows_1p", Try(nodes(qe.executedPlan)).getOrElse(Nil).count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      })
    }

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
