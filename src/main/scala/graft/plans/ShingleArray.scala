package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for word n-gram shingles over a token
  * array — the third compiled hot-loop expression after [[DotProduct]]
  * and [[SimHash64]] (build-rule preference order (b)).
  *
  * The composable form (a fold of `zip_with` over n shifted `slice`s,
  * optionally `array_distinct`ed) is correct but interpreted: n lambda
  * passes and n array allocations per DOCUMENT row, which profiling puts
  * at ~70% of the gram-based pipelines (decon_ngram_overlap,
  * dedup_shingle_dupfrac, dedup_exact_substring, jaccard). This
  * expression emits the shingle array in ONE compiled loop per row —
  * UTF8String concat per gram, first-occurrence-order dedup via a
  * LinkedHashSet when `distinct` — and participates in whole-stage
  * codegen.
  *
  * Gram grammar is identical to the fold: element i joins tokens
  * i..i+n-1 with one space; `distinct = false` preserves every position
  * (the span-dedup unit), `distinct = true` keeps first occurrences in
  * order (`array_distinct` semantics). Inputs shorter than n tokens
  * yield an empty array. */
case class ShingleArray(child: Expression, n: Int, distinct: Boolean)
  extends UnaryExpression with ExpectsInputTypes {

  // no explicit annotation: AbstractDataType is private[sql]; the
  // inferred Seq[ArrayType] conforms to the inherited signature
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(v: Any): Any =
    ShingleArray.compute(v.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ShingleArray.compute($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleArray {
  private val SPACE = UTF8String.fromString(" ")

  /** One tight loop per row; called from both eval and generated code.
    * Null tokens are treated as empty strings (split never emits null,
    * so the case is defensive only). Output strings are freshly
    * allocated, never aliases into a reused row buffer. */
  def compute(arr: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val len = arr.numElements()
    val m = len - math.max(n, 1) + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val words = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      words(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    def gram(start: Int): UTF8String =
      if (n <= 1) words(start).clone() // fresh bytes: the input may alias a reused buffer
      else UTF8String.concatWs(SPACE,
        java.util.Arrays.copyOfRange(words, start, start + n): _*)
    if (distinct) {
      val seen = new java.util.LinkedHashSet[UTF8String]()
      var i = 0
      while (i < m) { seen.add(gram(i)); i += 1 }
      new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
    } else {
      val out = new Array[Any](m)
      var i = 0
      while (i < m) { out(i) = gram(i); i += 1 }
      new GenericArrayData(out)
    }
  }

  /** The SQL builder of `graft_shingles(arr, n, distinct)` (arity
    * checked by [[GraftExtensions]]); n and distinct must be literals —
    * they select the compiled loop, they are not data. */
  def build(exprs: Seq[Expression]): ShingleArray = {
    val n = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"graft_shingles: n must be an INT literal, got $other")
    }
    val dist = exprs(2) match {
      case Literal(v: Boolean, BooleanType) => v
      case other => throw new IllegalArgumentException(
        s"graft_shingles: distinct must be a BOOLEAN literal, got $other")
    }
    ShingleArray(exprs.head, n, dist)
  }
}
