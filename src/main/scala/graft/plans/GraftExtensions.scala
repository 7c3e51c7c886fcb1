package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.execution.SparkStrategy

/** The engine's Catalyst extensions, applied at session build:
  * `withExtensions(new GraftExtensions)` on a session builder (what
  * [[graft.Session.local]] does) makes every `graft_*` function resolvable
  * from SQL text and installs [[LevenshteinPrefilter]],
  * [[TopKPerKeyStrategy]] and [[BandJoinStrategy]] in the session and
  * every `newSession()` child of it (cluster deployments set
  * `spark.sql.extensions=graft.plans.GraftExtensions`). A session built
  * elsewhere gets the same table through [[GraftExtensions.install]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(f => e.injectFunction((f.id, f.info, f.checked)))
    e.injectOptimizerRule(_ => LevenshteinPrefilter)
    GraftExtensions.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
  }
}

/** The one table of the engine's SQL functions, optimizer rule and
  * planner strategies. */
object GraftExtensions {

  /** A SQL function: its name, the expression class it builds, and a
    * builder over exactly `arity` arguments. */
  private[graft] final case class Fn(name: String, cls: Class[_], arity: Int,
                                     build: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
    /** The builder behind the arity check: a wrong-arity call fails at
      * analysis with an error that names the function. */
    def checked(args: Seq[Expression]): Expression = {
      if (args.length != arity) throw new IllegalArgumentException(
        s"$name: expected $arity argument(s), got ${args.length}")
      build(args)
    }
  }

  private[graft] val functions: Seq[Fn] = Seq(
    Fn("graft_dot", classOf[DotProduct], 2, a => DotProduct(a(0), a(1))),
    Fn("graft_simhash", classOf[SimHash64], 1, a => SimHash64(a(0))),
    Fn("graft_shingles", classOf[ShingleArray], 3, ShingleArray.build),
    Fn("graft_levenshtein", classOf[EditDistance], 2, a => EditDistance(a(0), a(1))),
    Fn("graft_bpe_apply", classOf[BpeApplyMerges], 2, a => BpeApplyMerges(a(0), a(1))),
    Fn("graft_bitmap_card", classOf[BitmapAgg], 1, a => BitmapAgg(a(0))),
    Fn("graft_minhash", classOf[MinHashAgg], 1, a => MinHashAgg(a(0))),
    Fn("graft_parse_ticket", classOf[TicketItemsGenerator], 1, a => TicketItemsGenerator(a(0))))

  private[graft] val strategies: Seq[SparkStrategy] = Seq(TopKPerKeyStrategy, BandJoinStrategy)

  /** Apply the table to a live session built without [[GraftExtensions]]
    * (an application's or a benchmark's own session): functions through the
    * session's function registry, the rule and the strategies through
    * `spark.experimental`. Idempotent and thread-safe; returns at once on
    * a session that already resolves `graft_dot`, which every session
    * built with the extensions does. */
  def install(spark: SparkSession): Unit =
    if (!installed(spark)) synchronized {
      if (!installed(spark)) {
        val x = spark.experimental
        if (!x.extraOptimizations.contains(LevenshteinPrefilter))
          x.extraOptimizations = x.extraOptimizations :+ LevenshteinPrefilter
        x.extraStrategies = x.extraStrategies ++ strategies.filterNot(x.extraStrategies.contains)
        val reg = spark.sessionState.functionRegistry
        // graft_dot, the marker `installed` reads, goes in last
        functions.reverseIterator.foreach(f => reg.registerFunction(f.id, f.info, f.checked _))
      }
    }

  private def installed(spark: SparkSession): Boolean =
    spark.sessionState.functionRegistry.functionExists(functions.head.id)
}
