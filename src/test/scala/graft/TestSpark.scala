package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one JVM for tests). */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)

  /** A new session on the shared context built without the engine's
    * extensions (the way an application builds its own); [[spark]] stays
    * the active and default session. */
  def bare(): SparkSession = {
    val shared = spark
    val s = SparkSession.builder().create()
    SparkSession.setActiveSession(shared)
    SparkSession.setDefaultSession(shared)
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}
