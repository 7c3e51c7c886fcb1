package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression for the 63-bit SimHash signature over a
  * token array — preference order (b) from the build rules, same seam as
  * [[DotProduct]].
  *
  * The composable form (an `aggregate` fold of `zip_with` over a
  * per-token bit transform) is correct but interpreted: 63 lambda
  * invocations and two array allocations per TOKEN dominate signature
  * cost. This expression computes the whole signature in one compiled
  * loop per row — md5 once per token, per-bit counts in a flat int
  * array — and participates in whole-stage codegen via doGenCode.
  *
  * Bit grammar is identical to the fold (and the DuckDB oracle CTE):
  * bit b of the signature is the majority vote over tokens of bit b of
  * md5(token)'s leading 16 hex chars, where a hex char contributes its
  * 4 bits big-endian — which is exactly bit b of the raw digest's
  * big-endian bit stream (`(digest[b/8] >>> (7 - b%8)) & 1`). Majority:
  * `2 * count >= n` over NON-NULL tokens (null elements are skipped, not
  * hashed). An array with no non-null tokens signs as 0L — defined
  * explicitly; the naive majority test would vacuously set every bit.
  * Registered session-wide as SQL `graft_simhash`, so the input contract
  * is declared via ExpectsInputTypes: arbitrary SQL callers get an
  * analysis error on a non-ARRAY<STRING> argument instead of a runtime
  * ClassCastException. */
case class SimHash64(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  // no explicit annotation: AbstractDataType is private[sql]; the
  // inferred Seq[ArrayType] conforms to the inherited signature
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(v: Any): Any =
    SimHash64.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** One tight loop per row; called from both eval and generated code. */
  def compute(arr: ArrayData): Long = {
    val digest = md5.get()
    val n = arr.numElements()
    val counts = new Array[Int](63)
    var voters = 0 // non-null tokens only — null elements cast no vote
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        voters += 1
        digest.reset()
        val d = digest.digest(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 63) {
          counts(b) += (d(b >> 3) >>> (7 - (b & 7))) & 1
          b += 1
        }
      }
      i += 1
    }
    if (voters == 0) return 0L
    var sim = 0L
    var b = 0
    while (b < 63) {
      if (2 * counts(b) >= voters) sim |= 1L << b
      b += 1
    }
    sim
  }
}
