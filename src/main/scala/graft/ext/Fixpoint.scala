package graft.ext

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** The one driver of the engine's iterative DataFrame loops
  * ([[Graph.pageRank]], [[Graph.labelPropagation]],
  * [[TextDedup.connectedComponents]], [[TextDedup.connectedComponentsStar]]).
  * A loop brings its step function and its convergence test; the driver
  * owns the loop policy:
  *
  *  - Session. The loop runs in a clone of the caller's session (same
  *    extensions, listeners and conf) with AQE off: a loop's value is its
  *    iteration-stable partitioning (the cached, pre-partitioned edge
  *    frame feeds every step), and AQE's per-stage re-planning and
  *    partition coalescing fight that reuse and pay re-optimization per
  *    micro-job (measured 4.4 → 3.9 s for 5 pageRank supersteps at
  *    sf0.1). Skew is handled structurally (size-gated broadcasts), so the
  *    loops need no skew join either. Inputs enter through [[Loop.bind]];
  *    the result is rebound to the caller's session, whose conf is never
  *    written — another thread on it keeps its own AQE setting.
  *  - Cadence. Every frame of the loop is persisted (MEMORY_AND_DISK).
  *    Every `every`-th step, and the last of a fixed-round loop, is
  *    materialized with one action — the loop's own convergence measure,
  *    or `count` — and then the frames before it are unpersisted. A
  *    step's cache is thus never dropped before its child holds the data.
  *  - Lineage. Persist, not checkpoint: a lost block recomputes from the
  *    lineage instead of failing the query. Each step frame is cached as a
  *    one-node plan over its RDD ([[GraftBridge.rddLeaf]]), so plans stay
  *    flat however many steps run: a star step reads its parent four
  *    times, and a cache nesting its parent's plan would post and print a
  *    plan 4× larger every round.
  *  - Retention. The final frame stays cached for the caller, held in
  *    [[BoundedCache]] under the loop's site key. The previous run's frame
  *    is evicted before the loop persists anything, so an eviction can
  *    never drop a cache entry the new result shares. Setup frames
  *    ([[Loop.keep]]) are freed at exit. */
private[graft] object Fixpoint {

  /** Run `body` in a loop session; `body` returns the loop's final frame. */
  def run(site: String, caller: SparkSession)(body: Loop => DataFrame): DataFrame = {
    BoundedCache.evict(site)
    val loop = new Loop(loopSession(caller))
    val last = try body(loop) finally loop.free()
    GraftBridge.ofRows(caller, BoundedCache.retain(site, last).queryExecution.analyzed)
  }

  /** The caller's loop session, made once per caller conf and listener set:
    * whole-stage code is compiled per session, so a fresh clone per run
    * recompiled every generated class the loop runs (measured at sf0.01:
    * about 39 classes and +1.5 s of task CPU per warm graph_pagerank run).
    * A changed conf or listener set on the caller makes a new clone, so
    * the loop sees the caller's settings and reports to its listeners. */
  private def loopSession(caller: SparkSession): SparkSession = sessions.synchronized {
    val state = (caller.conf.getAll, GraftBridge.queryListeners(caller))
    sessions.get(caller) match {
      case Some((`state`, session)) => session
      case _ =>
        val session = GraftBridge.cloneSession(caller)
        session.conf.set(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")
        sessions(caller) = (state, session)
        session
    }
  }
  private val sessions =
    mutable.WeakHashMap.empty[SparkSession, ((Map[String, String], Seq[AnyRef]), SparkSession)]

  final class Loop private[Fixpoint] (session: SparkSession) {
    private var setup = List.empty[DataFrame]

    /** `df` rebound to the loop's session. */
    def bind(df: DataFrame): DataFrame = GraftBridge.ofRows(session, df.queryExecution.analyzed)

    /** `df` persisted until the loop exits. Lazy: its blocks build inside
      * the first job that reads it. */
    def keep(df: DataFrame): DataFrame = {
      setup ::= df.persist(StorageLevel.MEMORY_AND_DISK)
      setup.head
    }

    /** `n` steps from `init`, materialized with `count` every `every`-th
      * step and at the last. */
    def rounds(init: DataFrame, n: Int, every: Int)(step: DataFrame => DataFrame): DataFrame = {
      // `live`: the frames since the last materialization, newest first
      (1 to n).foldLeft(List(frame(init))) { (live, i) =>
        val next = frame(step(live.head))
        if (i % every != 0 && i != n) next :: live
        else { next.count(); live.foreach(_.unpersist()); List(next) }
      }.head
    }

    /** Steps from `init`, each materialized by `measure`, until
      * `done(measure of the parent, measure of the step, parent, step)`. */
    def converge[A](init: DataFrame, measure: DataFrame => A)(step: DataFrame => DataFrame)(
        done: (A, A, DataFrame, DataFrame) => Boolean): DataFrame = {
      var cur = frame(init)
      var m = measure(cur)
      var stop = false
      while (!stop) {
        val next = frame(step(cur))
        val nm = measure(next)
        stop = done(m, nm, cur, next)
        cur.unpersist()
        cur = next
        m = nm
      }
      cur
    }

    private[Fixpoint] def free(): Unit = setup.foreach(_.unpersist())
  }

  /** A loop frame: cached, as a one-node plan. */
  private def frame(df: DataFrame): DataFrame =
    GraftBridge.rddLeaf(df).persist(StorageLevel.MEMORY_AND_DISK)
}
