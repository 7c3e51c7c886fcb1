package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, ListenerCensus}
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.TimeQuery

/** TimeQuery's per-layer record: one parseable line per (query, run) with
  * the three phases and their counters, attributed to the right phase,
  * and no listener left behind on the session it measured. */
class TimeQuerySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val phases = Seq("construct", "count", "noop")
  private val names = Seq("q1_agg", "st4_stream_tumbling_live")

  /** Listeners on the context before the run, the record, and the
    * listeners after. The session's query-execution and streaming buses
    * are created first (each is registered on first use), so the census
    * before the run already holds them. A listener that holds up every
    * stage-completed event makes delivery lag behind each phase: a phase
    * counts its last stage only if the record waits for delivery. */
  private lazy val (before, lines, after) = {
    val noop = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = ()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(noop)
    spark.listenerManager.unregister(noop)
    spark.streams
    val lag = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(lag)
    try {
      val before = ListenerCensus.of(spark)
      val out = Seq.newBuilder[String]
      TimeQuery.record(spark, TestSpark.sf0001, names, 1, out += _)
      val lines = out.result()
      (before, lines, ListenerCensus.of(spark))
    } finally spark.sparkContext.removeSparkListener(lag)
  }
  private lazy val json: Seq[JsonNode] = lines.map(new ObjectMapper().readTree(_))
  private def recordOf(name: String): JsonNode =
    json.find(j => j.has("query") && j.get("query").asText == name).get

  /** Every numeric leaf under `n`, by dotted path. */
  private def leaves(n: JsonNode, path: String): Seq[(String, Double)] =
    if (n.isNumber) Seq(path -> n.asDouble)
    else n.properties.asScala.toSeq.flatMap(e => leaves(e.getValue, s"$path.${e.getKey}"))

  test("record: a calib line, then one line per (query, run) with three phases of the same counters") {
    assert(lines.size == 1 + names.size)
    assert(json.head.get("calib_s").asDouble > 0)
    assert(json.tail.map(_.get("query").asText) == names)
    val counterSets = for (j <- json.tail; ph <- phases) yield {
      assert(j.get("run").asInt == 1)
      val ls = leaves(j.get(ph), ph)
      ls.foreach { case (k, v) => assert(v >= 0, s"${j.get("query")} $k") }
      ls.map(_._1.stripPrefix(ph))
    }
    assert(counterSets.distinct.size == 1)
    assert(counterSets.head.contains(".stream_ms.triggerExecution"))
  }

  test("record: a batch query's jobs land in count and noop, with no streaming batches") {
    val q1 = recordOf("q1_agg")
    for (ph <- Seq("count", "noop")) {
      def n(k: String) = q1.get(ph).get(k).asDouble
      // every job of q1 runs at least one stage, every stage a task
      assert(n("jobs") >= 1 && n("stages") >= n("jobs") && n("tasks") >= n("stages"), q1.get(ph))
    }
    for (ph <- phases) assert(q1.get(ph).get("stream_batches").asDouble == 0, ph)
  }

  test("record: a live streaming query's batches land in construct") {
    val c = recordOf("st4_stream_tumbling_live").get("construct")
    assert(c.get("stream_queries").asDouble >= 1)
    assert(c.get("stream_batches").asDouble >= 1)
    assert(c.get("stream_ms").get("triggerExecution").asDouble > 0)
  }

  test("record: the run leaves no listener on the session or its context") {
    assert(lines.nonEmpty)
    val onBuses = before.keySet.flatMap(b => after.getOrElse(b, Set.empty) -- before(b))
    assert(onBuses.isEmpty, onBuses.map(_.getClass.getName))
    // A streaming query runs on a clone of the session, whose own buses
    // Spark leaves on the context (with a copy of the session's
    // query-execution listeners) until the clone is collected: new buses
    // are not the run's, a new listener of any other class is.
    val added = (after.keySet -- before.keySet).map(_.getClass.getName)
    assert(added.forall(_.startsWith("org.apache.spark.sql.")), added)
  }

  test("record: every line reaches emit as it is measured, calib first, in (query, run) order") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    val emitted = Seq.newBuilder[(JsonNode, Int)]
    GraftBridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(counter)
    try {
      // each phase drains the bus, so at emit time the counter holds every
      // job started so far
      TimeQuery.record(spark, TestSpark.sf0001, Seq("q1_agg", "agg_count"), 2,
        l => emitted += (new ObjectMapper().readTree(l) -> jobs.get))
    } finally spark.sparkContext.removeSparkListener(counter)
    val (lines, seen) = emitted.result().unzip
    assert(lines.head.has("calib_s"))
    assert(lines.tail.map(j => (j.get("query").asText, j.get("run").asInt)) ==
      Seq(("q1_agg", 1), ("q1_agg", 2), ("agg_count", 1), ("agg_count", 2)))
    // every query run starts jobs, so a line handed over after its own run
    // and before the next one sees a strictly larger count than the last
    assert(seen.zip(seen.tail).forall { case (a, b) => a < b }, seen)
  }

  /** Two runs of a broadcast-join top-k query and of the token-budget
    * export, whose global running total (`Ops.tokenShards` over one
    * constant group) is a window with no partition spec. */
  private lazy val planned: Seq[JsonNode] = {
    val out = Seq.newBuilder[String]
    TimeQuery.record(spark, TestSpark.sf0001, Seq("agg_group_topk", "k16_sink_training_shards"), 2,
      out += _)
    out.result().map(new ObjectMapper().readTree(_))
  }
  private val planKeys = Seq("scans", "xchg_hash", "xchg_range", "bcast", "smj", "bhj",
    "sort_agg", "obj_agg", "cached", "topk", "rows")

  test("record: the calib line names the queries; every line has the plan keys, run 1 the plan text") {
    assert(planned.head.get("queries").elements.asScala.map(_.asText).toSeq ==
      Seq("agg_group_topk", "k16_sink_training_shards"))
    for (j <- planned.tail) {
      val plan = j.get("plan")
      assert(plan.fieldNames.asScala.toSeq == planKeys, j.get("query"))
      planKeys.foreach(k => assert(plan.get(k).isIntegralNumber && plan.get(k).asLong >= 0, k))
      assert(j.has("plan_text") == (j.get("run").asInt == 1), j.get("query"))
    }
    val text = planned(1).get("plan_text").asText
    assert(text.contains("== Physical Plan ==") && text.contains("BroadcastHashJoin"), text)
  }

  test("record: agg_group_topk's plan broadcasts its join and ends in one top-k, the same every run") {
    val runs = planned.tail.filter(_.get("query").asText == "agg_group_topk").map(_.get("plan"))
    assert(runs.size == 2 && runs.distinct.size == 1, runs)
    val plan = runs.head
    assert(plan.get("bcast").asInt >= 1 && plan.get("bhj").asInt >= 1, plan)
    assert(plan.get("topk").asInt == 1, plan)
    assert(plan.get("rows").asLong >= 1, plan)
  }

  test("record: a global running total counts as a single-partition window") {
    for (j <- planned.tail.filter(_.get("query").asText == "k16_sink_training_shards")) {
      // the export's eager write runs the window inside construct
      assert(j.get("construct").get("windows_1p").asInt >= 1, j.get("construct"))
    }
    for (j <- planned.tail.filter(_.get("query").asText == "agg_group_topk"); ph <- phases)
      assert(j.get(ph).get("windows_1p").asInt == 0, s"$ph ${j.get(ph)}")
  }

  test("record: every phase carries the four compile-layer counters, all >= 0") {
    val layer = Seq("codegen_compiles", "codegen_ms", "classes_loaded", "jit_ms")
    val all = for (j <- json.tail ++ planned.tail; ph <- phases) yield {
      val p = j.get(ph)
      val at = s"${j.get("query").asText} run ${j.get("run")} $ph"
      layer.foreach(k => assert(p.has(k) && p.get(k).asDouble >= 0, s"$at $k"))
      // compile time comes only with compiles
      if (p.get("codegen_ms").asDouble > 0) assert(p.get("codegen_compiles").asDouble > 0, s"$at $p")
      p
    }
    // the JIT compiles throughout a run, so its counter moves
    assert(all.map(_.get("jit_ms").asDouble).sum > 0)
  }

  test("record: an unknown query name fails naming it, before any query runs") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    GraftBridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(counter)
    try {
      val e = intercept[IllegalArgumentException](
        TimeQuery.record(spark, TestSpark.sf0001, Seq("q1_agg", "no_such_query"), 1, _ => ()))
      assert(e.getMessage.contains("no_such_query"))
      GraftBridge.waitListenerBusEmpty(spark)
      assert(jobs.get == 0)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
