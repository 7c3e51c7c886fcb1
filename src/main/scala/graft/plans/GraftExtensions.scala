package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration for the engine's custom Catalyst
  * functions and optimizer rules —
  * `SparkSession.builder().withExtensions(new GraftExtensions)` makes
  * `graft_dot` resolvable from SQL text and installs the
  * [[LevenshteinPrefilter]] rewrite in every session of the application
  * (cluster deployments set
  * `spark.sql.extensions=graft.plans.GraftExtensions`). For an existing
  * session, [[DotProduct.register]] adds the function through the runtime
  * registry and `spark.experimental.extraOptimizations` adds the rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleArray].getName, "graft_shingles"),
      (exprs: Seq[Expression]) => ShingleArray.build(exprs)))
    e.injectFunction((
      new FunctionIdentifier("graft_levenshtein"),
      new ExpressionInfo(classOf[EditDistance].getName, "graft_levenshtein"),
      (exprs: Seq[Expression]) => EditDistance.build(exprs)))
    e.injectFunction((
      new FunctionIdentifier("graft_bpe_apply"),
      new ExpressionInfo(classOf[BpeApplyMerges].getName, "graft_bpe_apply"),
      (exprs: Seq[Expression]) => BpeApplyMerges(exprs(0), exprs(1))))
    e.injectOptimizerRule(_ => LevenshteinPrefilter)
    e.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}
