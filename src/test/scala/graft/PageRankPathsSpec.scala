package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftBridge, ShuffleStages, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Graph

/** pageRank's two superstep paths: under the broadcast gate the RDD loop
  * over a driver-side rank vector, past it the DataFrame supersteps. The
  * two return the same doubles, and the loop under the gate plans no
  * frame per superstep. */
class PageRankPathsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A session on the shared context whose gate is 0: every pageRank
    * call on it takes the DataFrame path. */
  private lazy val pastGate: SparkSession = {
    val s = spark.newSession()
    s.conf.set(Graph.RankBroadcastMaxNodesKey, "0")
    s
  }

  private type Edge = (Option[Int], Option[Int])

  /** Edges over a few ids, with NULL endpoints, self-loops, duplicates
    * and reversed copies; sometimes a hub joined to every id, and other
    * components: a short path, or a star of a few hundred leaves with
    * chords between them. */
  private val graphs: Gen[Seq[Edge]] = {
    val id: Gen[Option[Int]] = Gen.frequency(9 -> Gen.choose(0, 9).map(Option(_)), 1 -> Gen.const(None))
    val star = Gen.choose(100, 400).map(k => (1 to k).flatMap(i =>
      Seq((Option(1000), Option(1000 + i)), (Option(1000 + i), Option(1000 + 1 + (i * 7) % k)))))
    for {
      base <- Gen.frequency(1 -> Gen.const(Nil), 8 -> Gen.choose(1, 24).flatMap(Gen.listOfN(_, Gen.zip(id, id))))
      again <- Gen.someOf(base)
      hub <- Gen.oneOf(Nil, (0 to 9).map(i => (Option(100), Option(i))))
      other <- Gen.oneOf(Gen.const(Nil),
        Gen.const(Seq((Option(50), Option(51)), (Option(51), Option(52)), (Option(52), Option(52)))), star)
    } yield base ++ again.map(_.swap) ++ again ++ hub ++ other
  }

  private def frame(s: SparkSession, edges: Seq[Edge], strings: Boolean): DataFrame =
    if (strings) s.createDataFrame(edges.map { case (a, b) => (a.map("n" + _).orNull, b.map("n" + _).orNull) })
      .toDF("src", "dst")
    else s.createDataFrame(edges.map { case (a, b) =>
      (a.map(i => java.lang.Long.valueOf(i.toLong)).orNull, b.map(i => java.lang.Long.valueOf(i.toLong)).orNull) })
      .toDF("src", "dst")

  private def ranks(df: DataFrame): (Seq[String], Seq[(Any, Double)]) =
    (df.schema.fields.map(f => s"${f.name}:${f.dataType}").toSeq,
      df.collect().map(r => (r.get(0), r.getDouble(1))).toSeq.sortBy(_._1.toString))

  private def samePaths(edges: Seq[Edge], iters: Int, strings: Boolean): Prop = {
    val under = ranks(Graph.pageRank(frame(spark, edges, strings), iters))
    val past = ranks(Graph.pageRank(frame(pastGate, edges, strings), iters))
    Prop(under == past) :| s"iters $iters\nunder the gate $under\npast the gate $past"
  }

  test("under the gate pageRank returns the DataFrame path's doubles exactly") {
    for (strings <- Seq(false, true))
      assert(Test.check(Test.Parameters.default.withMinSuccessfulTests(1), samePaths(Nil, 2, strings)).passed,
        "the empty edge set")
    for (iters <- Seq(0, 1, 2, 5, 8)) {
      val prop = Prop.forAllNoShrink(graphs, Gen.oneOf(false, true))(samePaths(_, iters, _))
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(3).withWorkers(1), prop)
      assert(result.passed, s"iters $iters: ${result.status}")
    }
  }

  test("under the gate one pageRank call runs the same SQL executions and shuffles at 2 and 8 supersteps, and one job per superstep") {
    val edges = frame(spark, (0 until 12).map(i => (Option(i), Option((i * 5 + 1) % 12))), strings = false)
    def counted(iters: Int): (Int, Int, Int) = {
      val executions = new AtomicInteger
      val jobs = new AtomicInteger
      val shuffles = new AtomicInteger
      val onExecution = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executions.incrementAndGet(): Unit
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executions.incrementAndGet(): Unit
      }
      val onJob = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          if (ShuffleStages.writesShuffle(e.stageInfo)) shuffles.incrementAndGet(): Unit
      }
      GraftBridge.waitListenerBusEmpty(spark)
      spark.listenerManager.register(onExecution)
      spark.sparkContext.addSparkListener(onJob)
      try {
        Graph.pageRank(edges, iters).collect()
        GraftBridge.waitListenerBusEmpty(spark)
      } finally {
        spark.listenerManager.unregister(onExecution)
        spark.sparkContext.removeSparkListener(onJob)
      }
      (executions.get, jobs.get, shuffles.get)
    }
    val (executions2, jobs2, shuffles2) = counted(2)
    val (executions8, jobs8, shuffles8) = counted(8)
    assert(executions2 == executions8, s"SQL executions: $executions2 at 2 supersteps, $executions8 at 8")
    assert(jobs8 - jobs2 == 6, s"jobs: $jobs2 at 2 supersteps, $jobs8 at 8")
    // the shuffles that run, plan exchanges and RDD shuffles alike: the
    // edge set's distinct, the node count's, the index pass's two edge
    // shuffles (by src, then by dst) and the result count's; none per
    // superstep
    assert(shuffles2 == 5 && shuffles8 == 5, s"shuffle map stages: $shuffles2 at 2 supersteps, $shuffles8 at 8")
  }
}
