package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.plans.GraftExtensions

/** One declared operator query: the Spark program plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL run by the driver at sf0.01
  * (driver contract, SparkEntry.scala). Oracle column names/aliases MUST
  * match the Spark result exactly — the comparison sorts columns by name
  * before hashing. */
final case class QDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QDef {
  /** Every declared query installs the engine's extensions first (a no-op
    * on a factory session): this factory is the one choke point all 315
    * registrations pass through, so Bench, Verify, TimeQuery and the test
    * suites all see the same engine. */
  private def tuned(fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => { GraftExtensions.install(s); fn(s, d) }

  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QDef =
    QDef(name, tuned(fn), Some(oracle))
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QDef =
    QDef(name, tuned(fn), None)
}
