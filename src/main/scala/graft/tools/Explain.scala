package graft.tools

import graft.queries.Pack

/** Plan inspection utility:
  * `sbt "runMain graft.tools.Explain <sfDir> [queryName...]"`
  * prints the AQE-final physical plan per declared query (all queries when
  * none named). Used to audit broadcast choices, pushed filters, pruned
  * schemas, and codegen coverage after every operator change. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Pack.all.map(_.name)
    val spark = graft.Session.local(graft.Session.cpus)
    // SPARK_GRAFT_PLAN_DIR=<dir> + SPARK_GRAFT_PLAN_TAG=<before|after>:
    // additionally write `<dir>/<query>_<tag>.txt` with the
    // explain("formatted") output (the optimization-round evidence format)
    // — formatted shows PushedFilters/ReadSchema/codegen spans that
    // executedPlan.toString abbreviates. Captured AFTER count() so AQE's
    // final plan is what lands in the file.
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planTag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    planDir.foreach(d => { new java.io.File(d).mkdirs(); () })
    names.foreach { n =>
      println(s"#PLAN# $n")
      try {
        val df = Pack.byName(n).fn(spark, sfDir)
        df.count() // materialize so AQE shows the final plan
        println(df.queryExecution.executedPlan.toString)
        planDir.foreach { dir =>
          val formatted = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, s"${n}_$planTag.txt"), formatted)
          ()
        }
      } catch { case e: Exception => println(s"  failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
