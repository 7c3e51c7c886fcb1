package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression applying a RANKED BPE merge list to a
  * char-spaced symbol stream in one compiled pass per merge — the
  * bounded-depth serving path for TRAINED vocabularies (preference
  * order (b) from the build rules, same seam as [[SimHash64]]).
  *
  * The composable form (TextAnalysis.applyMerges) folds one codegen'd
  * `regexp_replace` per merge into the plan: perfect for the fixed
  * 8-entry config vocabulary, but a trained tokenizer carries hundreds
  * to tens of thousands of merges — a 32k-deep expression tree blows
  * the JVM's 64KB method limit out of whole-stage codegen and pays a
  * full regex-engine scan per merge. This expression receives the whole
  * ranked table as ONE foldable plan literal (`"a b,ab c,..."` — a
  * trained artifact travels as config, not data), parses it once per
  * plan, and applies every merge as a tight adjacent-token scan.
  *
  * Merge grammar is IDENTICAL to applyMerges' global `\ba b\b → ab`
  * regex per ranked pair, by this argument: after char-spacing, the
  * stream's tokens (maximal non-space runs) are single letters or
  * previously merged [a-z]+ symbols, separated by exactly one space
  * within a word and two-plus spaces across words (the word gap keeps
  * one space per non-alpha run plus the per-letter trailing space).
  * Splitting on single spaces with trailing-empty preservation makes
  * word gaps empty-string tokens, which never equal a [a-z]+ merge
  * symbol — so whole-token adjacent equality IS the regex's
  * boundary-checked single-space match, and the left-to-right
  * non-overlapping scan is the regex engine's global-replace order.
  * Rejoining with single spaces inverts the split exactly.
  * TextAnalysisSpec's equivalence property pins the two paths equal on
  * arbitrary inputs and merge tables. */
case class BpeApplyMerges(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_bpe_apply"

  // the ranked merge table must be a plan constant: it is parsed once
  // here, not per row, and the serve contract (ranked order) would be
  // unverifiable for a per-row table
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else if (!right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_bpe_apply: the merge table must be a constant (trained vocabularies are plan config)")
    // a NULL table is a caller bug (no vocabulary), not "no merges" — and
    // it must fail the SAME way in both execution paths: interpreted eval
    // would silently 3VL-null every row while whole-stage codegen would
    // NPE forcing the reference object at plan build. Analysis time is
    // the one place both share. An empty string is the explicit spelling
    // for zero merges.
    else if (right.eval(null) == null)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_bpe_apply: merge table literal is NULL — pass '' for an empty vocabulary")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val table: Array[String] =
    BpeApplyMerges.parse(right.eval(null).asInstanceOf[UTF8String])

  override protected def nullSafeEval(l: Any, r: Any): Any =
    BpeApplyMerges.compute(l.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMergeTable", table, "java.lang.String[]")
    defineCodeGen(ctx, ev, (l, _) =>
      s"graft.plans.BpeApplyMerges.compute($l, $ref)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object BpeApplyMerges {

  /** `"a b,ab c"` → flat ranked array [a, b, ab, c]. The symbol alphabet
    * is the encoder's own ([a-z]+ — see TextAnalysis.bpeEncode's
    * validation); re-checked here so a malformed literal fails at plan
    * init with the grammar named, never as a silent non-match. */
  def parse(s: UTF8String): Array[String] = {
    val str = s.toString
    if (str.isEmpty) Array.empty[String]
    else str.split(",", -1).flatMap { e =>
      val ab = e.split(" ", -1)
      require(ab.length == 2 && ab.forall(_.matches("[a-z]+")),
        s"graft_bpe_apply: malformed merge entry '$e' (want 'lhs rhs', lowercase ASCII)")
      ab
    }
  }

  /** One adjacent-token scan per ranked merge; called from both eval and
    * generated code. O(merges × tokens) with no regex engine and no
    * per-merge string rebuild beyond the token array. */
  def compute(s: UTF8String, merges: Array[String]): UTF8String = {
    var toks: Array[String] = s.toString.split(" ", -1)
    var k = 0
    while (k < merges.length) {
      val a = merges(k); val b = merges(k + 1)
      // left-to-right non-overlapping adjacent merge == one global
      // regex replace of "\ba b\b" on the single-spaced stream
      var i = 0; var j = 0
      val out = new Array[String](toks.length)
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          out(j) = a + b; i += 2
        } else { out(j) = toks(i); i += 1 }
        j += 1
      }
      if (j != toks.length) toks = java.util.Arrays.copyOf(out, j)
      k += 2
    }
    UTF8String.fromString(toks.mkString(" "))
  }
}
