package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import graft.plans.GraftExtensions

/** The one place the engine builds a SparkSession: Bench, Verify, every
  * tool and the test suites get the same config and the same Catalyst
  * extensions, and so does every `newSession()` child of theirs. It is
  * also the one place that writes session conf for query code: a stream
  * or a fixpoint loop that needs its own settings runs in a [[derived]]
  * session, never by setting and restoring them on its caller. */
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
    * running session if there is one. Checkpoint file checksums are off,
    * as in [[Stream]]: st11/st21 read their streams' checkpoints through
    * the state data source on this session. */
  def local(cpus: Int, shuffle: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toLong)
      .config(SQLConf.STREAMING_CHECKPOINT_FILE_CHECKSUM_ENABLED.key, false)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** What a [[derived]] session is for: the settings it applies over a
    * copy of its caller's conf. */
  sealed abstract class Purpose(val settings: Map[String, String])

  /** Fixpoint loops: AQE off. A loop's value is its iteration-stable
    * partitioning, which AQE's per-stage re-planning and coalescing fight
    * (5 pageRank supersteps at sf0.1: 4.4 → 3.9 s); skew is handled by
    * size-gated broadcasts. */
  case object Loop extends Purpose(Map(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false"))

  /** Every declared stream: 4 shuffle partitions, no checkpoint file
    * checksums. Stateful cost scales with state partitions, not rows:
    * each batch opens and commits every store instance, so a fresh
    * 100-row drain took 2.04 s at 8 partitions, 1.58 s at 4 and 1.16 s
    * at 2 (a stream-stream join: 5.6 s at 32, 2.2 s at 8, 0.45 s as a
    * batch join), while state tracks keys, not arrivals (200k → 20M
    * arrivals over 5k keys held 5,000 rows in flat bytes). A deployment
    * sizes this dial to its throughput (thousands, fixed at deploy since
    * repartitioning state needs a new checkpoint); results are
    * partition-count invariant (PartitionInvarianceSpec). Checksums add a
    * sidecar file per checkpoint file (fresh drain 1.32 → 1.15 s without
    * them, OPTIMIZATION_r18.md §4) for a check that is advisory: recovery
    * and the state data source read the same either way. */
  case object Stream extends Purpose(Map(
    SQLConf.SHUFFLE_PARTITIONS.key -> "4",
    SQLConf.STREAMING_CHECKPOINT_FILE_CHECKSUM_ENABLED.key -> "false"))

  /** A [[Stream]] with transformWithState state: the RocksDB provider
    * with changelog checkpointing, whose commits upload the batch's
    * changelog, not a snapshot of the whole state (st19–st22 1.07–1.15×
    * slower without it, plans/r18/ab_changelog.txt). */
  case object StatefulStream extends Purpose(Stream.settings ++ Map(
    SQLConf.STATE_STORE_PROVIDER_CLASS.key ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))

  /** The session for `purpose` over `caller`: a clone of `caller` (same
    * context, cache, functions and strategies) with the purpose's
    * settings, so the caller's conf is never written. One per caller,
    * purpose and caller conf. Artifact isolation is off in it: Spark keys
    * its codegen cache by (context classloader, code), and an isolated
    * session, like every per-stream clone Spark makes of one, has its own
    * classloader, so each stream recompiled its classes on every run
    * (NOTES.md, "Compiled-code reuse"). Its listeners are forwarders to
    * the listeners `caller` holds when an event arrives
    * ([[GraftBridge.forwardListeners]]). */
  def derived(caller: SparkSession, purpose: Purpose): SparkSession = synchronized {
    val conf = caller.conf.getAll
    val mine = derivedSessions.getOrElseUpdate(caller, mutable.Map.empty)
    mine.get(purpose) match {
      case Some((`conf`, session)) => session
      case _ =>
        // Spark fixes a clone's artifact isolation as it makes the clone,
        // from the conf it copies: so the settings go on a first clone,
        // and the session is a clone of that
        val staged = GraftBridge.cloneSession(caller)
        staged.listenerManager.clear()
        (purpose.settings + (SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false"))
          .foreach { case (k, v) => staged.conf.set(k, v) }
        val session = GraftBridge.cloneSession(staged)
        GraftBridge.forwardListeners(session, caller)
        mine(purpose) = (conf, session)
        session
    }
  }
  private val derivedSessions =
    mutable.WeakHashMap.empty[SparkSession, mutable.Map[Purpose, (Map[String, String], SparkSession)]]

  /** `df` rebound to `session`: the same analyzed plan, run with that
    * session's conf. */
  def bind(df: DataFrame, session: SparkSession): DataFrame =
    GraftBridge.ofRows(session, df.queryExecution.analyzed)
}
