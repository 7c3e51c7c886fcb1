package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding dot product.
  *
  * The composable form (`aggregate(zip_with(...))`, Similarity.dot) is
  * correct but interpreted: higher-order functions evaluate a lambda per
  * array element, which dominates ANN scoring cost (dims × candidates
  * lambda invocations). This expression evaluates the whole array in one
  * tight loop and participates in whole-stage codegen via doGenCode —
  * preference order (b) from the build rules: a custom Expression before
  * any UDF.
  *
  * Semantics match Similarity.dot exactly: per-element widen-to-double,
  * multiply, sequential left-to-right sum — so results stay bit-identical
  * to the DuckDB list_reduce oracle.
  *
  * Input contract: DENSE vectors of EQUAL length — array elements must
  * be non-null and the two arrays the same dimension, and both halves
  * are ENFORCED with named errors instead of degrading silently. A null
  * element would read as 0.0 (SQL's `a[i] * b[i]` would propagate NULL);
  * a length mismatch would truncate to the common prefix — either way a
  * plausible-but-wrong score, the worst failure mode for a ranking
  * primitive (and the HOF form returns NULL on mismatch via zip_with's
  * null padding, so silent truncation would also diverge from
  * Similarity.dot). The null check compiles AWAY when the array type's
  * `containsNull` is false; the length check is one compare per row —
  * the hot loop stays effectively branch-free on well-formed data. */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** False when the schema PROVES density — the null check then costs
    * nothing (interpreted) / is not even emitted (codegen). */
  private def mayHaveNulls(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements())
      throw DotProduct.lengthMismatch(a.numElements(), b.numElements())
    val n = a.numElements()
    val (lf, rf) = (elemType(left) == FloatType, elemType(right) == FloatType)
    val (ln, rn) = (mayHaveNulls(left), mayHaveNulls(right))
    var s = 0.0
    var i = 0
    while (i < n) {
      if ((ln && a.isNullAt(i)) || (rn && b.isNullAt(i)))
        throw DotProduct.nullElement(i)
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def get(v: String, t: DataType, i: String): String = t match {
        case FloatType => s"(double) $v.getFloat($i)"
        case _ => s"$v.getDouble($i)"
      }
      val i = s"${ev.value}_i"
      val nullGuard = (if (mayHaveNulls(left)) Seq(s"$a.isNullAt($i)") else Nil) ++
        (if (mayHaveNulls(right)) Seq(s"$b.isNullAt($i)") else Nil) match {
        case Nil => ""
        case checks => s"""if (${checks.mkString(" || ")})
           |    throw graft.plans.DotProduct.nullElement($i);""".stripMargin
      }
      s"""
         |if ($a.numElements() != $b.numElements())
         |  throw graft.plans.DotProduct.lengthMismatch($a.numElements(), $b.numElements());
         |int ${ev.value}_n = $a.numElements();
         |double ${ev.value}_s = 0.0;
         |for (int $i = 0; $i < ${ev.value}_n; $i++) {
         |  $nullGuard
         |  ${ev.value}_s += ${get(a, elemType(left), i)}
         |    * ${get(b, elemType(right), i)};
         |}
         |${ev.value} = ${ev.value}_s;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The density-contract violation, named so callers (and generated
    * code) raise one consistent, greppable error. */
  def nullElement(i: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_dot: NULL array element at index $i — dense vectors required " +
        "(filter or impute sparse embeddings before scoring)")

  /** The dimension-contract violation — silent truncation to the common
    * prefix would return a plausible-but-wrong partial score. */
  def lengthMismatch(a: Int, b: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_dot: length mismatch ($a vs $b elements) — equal-dimension " +
        "vectors required (slice or re-embed before scoring)")
}
