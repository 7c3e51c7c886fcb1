package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import graft.queries.Pack

/** Emits PLANSTATS.md: per declared query, the AQE-final physical-plan
  * feature counts that matter at scale — parquet scans, shuffle
  * exchanges, broadcast exchanges, join flavors, non-hash aggregate
  * fallbacks, top-k. Counted by walking the executed plan tree (not plan
  * text), descending into AQE final plans and stopping at cached
  * InMemoryTableScan boundaries so persisted lineage isn't double-counted.
  * Run: `sbt "runMain graft.tools.PlanStats /root/testdata/sf0.01"`. */
object PlanStats {

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
    case _: InMemoryTableScanExec => Seq(p) // cached: children don't re-execute
    case _ => p +: p.children.flatMap(walk)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // Fail FAST on a bad fixture path. The r14 end-of-round regen ran with
    // a flag ("--help") as the path and committed an artifact where 303/305
    // rows read ERR [PATH_NOT_FOUND] — a plan-audit surface that silently
    // degrades to all-ERR is worse than none (VERDICT r14 wrong-#1).
    if (!Files.isDirectory(Paths.get(sfDir))) {
      System.err.println(s"PlanStats: '$sfDir' is not a directory — refusing to run")
      sys.exit(2)
    }
    val spark = graft.Session.local(graft.Session.cpus)
    val rows = Pack.all.map { q =>
      try {
        val df = q.fn(spark, sfDir)
        df.count()
        val nodes = walk(df.queryExecution.executedPlan)
        def n(f: SparkPlan => Boolean) = nodes.count(f).toString
        Seq(q.name,
          n(_.isInstanceOf[FileSourceScanExec]),
          n { case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]; case _ => false },
          n { case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]; case _ => false },
          n(_.isInstanceOf[BroadcastExchangeExec]),
          n(_.isInstanceOf[SortMergeJoinExec]),
          n(_.isInstanceOf[BroadcastHashJoinExec]),
          n(_.isInstanceOf[SortAggregateExec]),
          n(_.isInstanceOf[ObjectHashAggregateExec]),
          n(_.isInstanceOf[InMemoryTableScanExec]),
          n(_.isInstanceOf[TakeOrderedAndProjectExec]))
      } catch { case e: Exception => Seq(q.name, "ERR " + e.getMessage.take(40)) }
    }
    val header = Seq("query", "scans", "xchg-hash", "xchg-range", "bcast",
      "SMJ", "BHJ", "sortAgg", "objAgg", "cached", "topk")
    val md = new StringBuilder
    md ++= "# PLANSTATS — physical-plan features per declared query\n\n"
    md ++= s"Auto-generated by graft.tools.PlanStats at $sfDir (AQE-final plans,\n"
    md ++= "tree-walked; persisted lineage cut at InMemoryTableScan).\n"
    md ++= "`xchg-hash` = shuffle exchanges; `xchg-range` = presentation sorts;\n"
    md ++= "`bcast` = broadcast exchanges; SMJ/BHJ join flavors; sortAgg/objAgg =\n"
    md ++= "non-hash aggregate fallbacks; `topk` = TakeOrderedAndProject.\n\n"
    md ++= header.mkString("| ", " | ", " |\n")
    md ++= header.map(_ => "---").mkString("| ", " | ", " |\n")
    rows.foreach(r => md ++= r.mkString("| ", " | ", " |\n"))
    // Self-check before overwriting the committed artifact: an all-ERR (or
    // majority-ERR) table means the RUN is broken, not the plans — keep the
    // last good file and exit nonzero so the regen script can't commit it.
    val errCount = rows.count(_.exists(_.startsWith("ERR ")))
    if (errCount * 2 > rows.size) {
      System.err.println(
        s"PlanStats: $errCount/${rows.size} queries errored — refusing to " +
          "overwrite PLANSTATS.md (broken environment, not broken plans)")
      spark.stop()
      sys.exit(1)
    }
    Files.writeString(Paths.get("PLANSTATS.md"), md.toString)
    println(s"wrote PLANSTATS.md (${rows.size} queries, $errCount errors)")
    spark.stop()
    // any ERR row is still a failure signal for the caller — the committed
    // artifact is expected to carry zero (PlanStatsCanary pins that)
    if (errCount > 0) sys.exit(1)
  }
}
