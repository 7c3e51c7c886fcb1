package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.Session

/** The one driver of the engine's iterative DataFrame loops
  * ([[Graph.pageRank]], [[Graph.labelPropagation]],
  * [[TextDedup.connectedComponents]], [[TextDedup.connectedComponentsStar]]).
  * A loop brings its step function and its convergence test; the driver
  * owns the loop policy:
  *
  *  - Session. The loop runs in the caller's derived session for
  *    [[Session.Loop]] (AQE off; the reason is there). Inputs enter
  *    through [[Loop.bind]]; the result is rebound to the caller's
  *    session, whose conf is never written — another thread on it keeps
  *    its own AQE setting.
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
  *    never drop a cache entry the new result shares. Setup frames and
  *    RDDs ([[Loop.keep]]) are freed at exit.
  *
  * A loop whose state fits on the driver may step outside Catalyst
  * (pageRank under its broadcast gate: one RDD job per step over kept
  * RDDs). It then uses the session, [[Loop.keep]] and retention through
  * [[Loop.result]]; cadence and step frames are not needed, since no
  * step is a frame. */
private[graft] object Fixpoint {

  /** Run `body` in a loop session; `body` returns the loop's final frame. */
  def run(site: String, caller: SparkSession)(body: Loop => DataFrame): DataFrame = {
    BoundedCache.evict(site)
    val loop = new Loop(Session.derived(caller, Session.Loop))
    val last = try body(loop) finally loop.free()
    Session.bind(BoundedCache.retain(site, last), caller)
  }

  final class Loop private[Fixpoint] (session: SparkSession) {
    private var setup = List.empty[() => Unit]

    /** `df` rebound to the loop's session. */
    def bind(df: DataFrame): DataFrame = Session.bind(df, session)

    /** `df` persisted until the loop exits. Lazy: its blocks build inside
      * the first job that reads it. */
    def keep(df: DataFrame): DataFrame = {
      val kept = df.persist(StorageLevel.MEMORY_AND_DISK)
      setup ::= (() => kept.unpersist(): Unit)
      kept
    }

    /** `rdd` persisted until the loop exits, as [[keep]] a frame. */
    def keep[T](rdd: RDD[T]): RDD[T] = {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      setup ::= (() => rdd.unpersist(): Unit)
      rdd
    }

    /** `rows` of `schema` as the loop's final frame: cached, as a one-node
      * plan, and materialized with `count` while the kept frames and RDDs
      * it reads are still cached. */
    def result(schema: StructType, rows: RDD[InternalRow]): DataFrame = {
      val last = GraftBridge.ofInternalRows(session, schema, rows).persist(StorageLevel.MEMORY_AND_DISK)
      last.count()
      last
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

    private[Fixpoint] def free(): Unit = setup.foreach(_())
  }

  /** A loop frame: cached, as a one-node plan. */
  private def frame(df: DataFrame): DataFrame =
    GraftBridge.rddLeaf(df).persist(StorageLevel.MEMORY_AND_DISK)
}
