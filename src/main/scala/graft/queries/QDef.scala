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
  /** Engine session policy, applied identically in front of EVERY declared
    * query (this factory is the one choke point all 315 registrations pass
    * through — Bench, Verify, TimeQuery and the test suites all see the
    * same engine).
    *
    * Streaming checkpoint FILE CHECKSUMS (new in Spark 4.1, default on)
    * write one sidecar checksum file per checkpoint file — at fixture
    * scale that is +16 synced small-file creates per stateful drain
    * (50 → 34 checkpoint files, fresh tws drain 1.32 → 1.15 s; the A/B is
    * recorded in OPTIMIZATION_r18.md §4, indexed in NOTES.md "Measurement
    * harness"), and at 100 TB it doubles the checkpoint store's
    * PUT/LIST rate for a verification that is advisory (the manager
    * proceeds with a WARN when a checksum file is absent — recovery and
    * the state data source read snapshots/changelogs identically either
    * way). The declared restart queries re-drain their own checkpoints
    * with the policy applied consistently, so no mixed-mode reads occur. */
  private def applyPolicy(s: SparkSession): Unit =
    s.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", false)

  private def tuned(fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => { applyPolicy(s); GraftExtensions.install(s); fn(s, d) }

  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QDef =
    QDef(name, tuned(fn), Some(oracle))
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QDef =
    QDef(name, tuned(fn), None)
}
