package graft

import org.apache.spark.sql.SparkSession
import graft.plans.GraftExtensions

/** The one place the engine builds a SparkSession: Bench, Verify, every
  * tool and the test suites get the same config and the same Catalyst
  * extensions, and so does every `newSession()` child of theirs. */
object Session {

  /** `SPARK_GRAFT_CPUS`: local executor threads (default 4). */
  lazy val cpus: Int = positiveInt(sys.env, "SPARK_GRAFT_CPUS").getOrElse(4)

  /** `SPARK_GRAFT_SHUFFLE`: shuffle partitions where a tool decouples
    * them from the core count (default [[cpus]]). */
  lazy val shuffle: Int = positiveInt(sys.env, "SPARK_GRAFT_SHUFFLE").getOrElse(cpus)

  /** `env(name)` as a positive int; a set but malformed value fails at
    * start with the variable's name rather than deep inside Spark. */
  private[graft] def positiveInt(env: Map[String, String], name: String): Option[Int] =
    env.get(name).map { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$v'"))
    }

  /** `local[cpus]` with `cpus` shuffle partitions. */
  def local(cpus: Int): SparkSession = local(cpus, cpus)

  /** `local[cpus]`, `shuffle` shuffle partitions, UTC session time zone,
    * no UI, the [[GraftExtensions]] table, log level WARN. Returns the
    * running session if there is one. */
  def local(cpus: Int, shuffle: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
