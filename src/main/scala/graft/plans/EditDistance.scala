package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Levenshtein edit distance — the
  * engine's one edit-distance implementation, same seam as
  * [[SimHash64]] and [[ShingleArray]] (one static kernel called from
  * both eval and generated code).
  *
  * Spark's `levenshtein` is `UTF8String.levenshteinDistance`: an
  * O(|a|·|b|) DP that walks bytes and allocates two int rows per call.
  * This kernel is Myers' bit-vector algorithm in Hyyrö's Levenshtein
  * form (J. ACM 1999; Hyyrö 2003): the DP column of the shorter string
  * (the pattern) is held as vertical +1/−1 delta bit-vectors, 64 rows
  * per long, and one text character advances a whole block in a dozen
  * word operations — O(⌈m/64⌉·n) with the horizontal delta carried
  * from block to block when the pattern exceeds 64 characters. The
  * common prefix and suffix are stripped first; they never change the
  * distance.
  *
  * Characters are split exactly as Spark splits them
  * (`UTF8String.numBytesForFirstByte`, so invalid UTF-8 counts one
  * character per stray byte), and two characters are equal iff their
  * bytes are, so the result equals `levenshtein(a, b)` on every input.
  * The one exception is a multi-byte lead truncated by the end of the
  * string, where Spark compares bytes past the end of the value; here
  * such a character equals only an identically truncated one.
  * NULL in gives NULL out (registered as SQL `graft_levenshtein`). */
case class EditDistance(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  // no explicit annotation: AbstractDataType is private[sql]
  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_levenshtein"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    EditDistance.distance(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.EditDistance.distance($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object EditDistance {

  /** Per-thread working memory, grown on demand and reused, so a row
    * allocates nothing once a thread has seen its longest input. The
    * match-vector tables are all-zero between calls. */
  private final class Scratch {
    var a = new Array[Int](256) // character keys of the two inputs
    var b = new Array[Int](256)
    var pv = new Array[Long](4) // vertical +1 / −1 deltas, one long per block
    var mv = new Array[Long](4)
    // match vectors: bit i of block k is set where pattern char 64k+i
    // equals the indexing char; ASCII chars index `ascii` directly,
    // other chars go through the open-addressing map to a row of `other`
    var ascii = new Array[Long](128 * 4)
    var other = new Array[Long](64 * 4)
    var mapKeys = new Array[Int](128)
    var mapRows = new Array[Int](128) // row + 1; 0 marks an empty cell
    var mapUsed = new Array[Int](64) // cells filled by this call
  }

  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** `levenshtein(x, y)`; called from both eval and generated code. */
  def distance(x: UTF8String, y: UTF8String): Int = {
    val s = scratch.get()
    if (s.a.length < x.numBytes()) s.a = new Array[Int](x.numBytes())
    if (s.b.length < y.numBytes()) s.b = new Array[Int](y.numBytes())
    val a = s.a
    val b = s.b
    var n = keys(x, a)
    var m = keys(y, b)
    var p = 0
    while (p < n && p < m && a(p) == b(p)) p += 1
    while (n > p && m > p && a(n - 1) == b(m - 1)) { n -= 1; m -= 1 }
    if (n == p) m - p
    else if (m == p) n - p
    else if (n - p <= m - p) myers(s, a, p, n - p, b, p, m - p)
    else myers(s, b, p, m - p, a, p, n - p)
  }

  /** Splits `u` into Spark's characters and writes one key per character:
    * its bytes packed big-endian. The lead byte fixes the width, so two
    * keys are equal iff the characters' bytes are. Returns the count. */
  private def keys(u: UTF8String, out: Array[Int]): Int = {
    val len = u.numBytes()
    var i = 0
    var k = 0
    while (i < len) {
      val lead = u.getByte(i)
      val w = UTF8String.numBytesForFirstByte(lead)
      var key = lead & 0xFF
      var j = 1
      while (j < w && i + j < len) { key = (key << 8) | (u.getByte(i + j) & 0xFF); j += 1 }
      out(k) = key
      k += 1
      i += w
    }
    k
  }

  private def isAscii(c: Int): Boolean = (c & ~0x7F) == 0

  private def cellOf(c: Int, mask: Int): Int = ((c * 0x9E3779B9) >>> 7) & mask

  /** Edit distance of pattern `pat[po, po+pm)` against text
    * `txt[to, to+tn)`, pm <= tn, both nonempty. */
  private def myers(s: Scratch, pat: Array[Int], po: Int, pm: Int,
                    txt: Array[Int], to: Int, tn: Int): Int = {
    val blocks = (pm + 63) >>> 6
    if (s.pv.length < blocks) {
      s.pv = new Array[Long](blocks)
      s.mv = new Array[Long](blocks)
      s.ascii = new Array[Long](128 * blocks)
    }
    if (s.mapKeys.length < 2 * pm) {
      val cap = Integer.highestOneBit(2 * pm - 1) << 1
      s.mapKeys = new Array[Int](cap)
      s.mapRows = new Array[Int](cap)
      s.mapUsed = new Array[Int](cap / 2)
    }
    val ascii = s.ascii
    val mapKeys = s.mapKeys
    val mapRows = s.mapRows
    val mask = mapKeys.length - 1

    // build the match vectors
    var rows = 0
    var i = 0
    while (i < pm) {
      val c = pat(po + i)
      val bit = 1L << (i & 63)
      val blk = i >>> 6
      if (isAscii(c)) ascii(c * blocks + blk) |= bit
      else {
        var cell = cellOf(c, mask)
        while (mapRows(cell) != 0 && mapKeys(cell) != c) cell = (cell + 1) & mask
        if (mapRows(cell) == 0) {
          mapKeys(cell) = c
          s.mapUsed(rows) = cell
          rows += 1
          mapRows(cell) = rows
          if (s.other.length < rows * blocks)
            s.other = java.util.Arrays.copyOf(s.other, math.max(2 * s.other.length, rows * blocks))
        }
        s.other((mapRows(cell) - 1) * blocks + blk) |= bit
      }
      i += 1
    }
    val other = s.other

    val pv = s.pv
    val mv = s.mv
    java.util.Arrays.fill(pv, 0, blocks, -1L)
    java.util.Arrays.fill(mv, 0, blocks, 0L)
    val last = blocks - 1
    val lastBit = 1L << ((pm - 1) & 63)
    var score = pm
    var j = 0
    while (j < tn) {
      val c = txt(to + j)
      // the match-vector row of c: `table(base + blk)`; base < 0 = no match
      var table = ascii
      var base = -1
      if (isAscii(c)) base = c * blocks
      else if (rows > 0) {
        var cell = cellOf(c, mask)
        while (mapRows(cell) != 0 && mapKeys(cell) != c) cell = (cell + 1) & mask
        if (mapRows(cell) != 0) { table = other; base = (mapRows(cell) - 1) * blocks }
      }
      // horizontal delta into the block's top row; row 0 of the DP is
      // D[0][j] = j, so the first block always receives +1
      var hin = 1
      var blk = 0
      while (blk < blocks) {
        var eq = if (base < 0) 0L else table(base + blk)
        val pvb = pv(blk)
        val mvb = mv(blk)
        val xv = eq | mvb
        if (hin < 0) eq |= 1L
        val xh = (((eq & pvb) + pvb) ^ pvb) | eq
        var ph = mvb | ~(xh | pvb)
        var mh = pvb & xh
        if (blk == last) {
          if ((ph & lastBit) != 0) score += 1
          else if ((mh & lastBit) != 0) score -= 1
        }
        val hout = if (ph < 0) 1 else if (mh < 0) -1 else 0
        ph <<= 1
        mh <<= 1
        if (hin < 0) mh |= 1L else if (hin > 0) ph |= 1L
        pv(blk) = mh | ~(xv | ph)
        mv(blk) = ph & xv
        hin = hout
        blk += 1
      }
      j += 1
    }

    // leave the tables all-zero for the next call
    i = 0
    while (i < pm) {
      val c = pat(po + i)
      if (isAscii(c)) ascii(c * blocks + (i >>> 6)) = 0L
      i += 1
    }
    java.util.Arrays.fill(other, 0, rows * blocks, 0L)
    i = 0
    while (i < rows) { mapRows(s.mapUsed(i)) = 0; i += 1 }
    score
  }

  /** Register `graft_levenshtein(a, b)` (idempotent, same discipline as
    * [[SimHash64.register]]). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(new FunctionIdentifier("graft_levenshtein")))
      reg.createOrReplaceTempFunction("graft_levenshtein", build, "built-in")
  }

  /** Expression builder shared by runtime registration and
    * [[GraftExtensions]] injection. */
  def build(exprs: Seq[Expression]): EditDistance = {
    if (exprs.length != 2) throw new IllegalArgumentException(
      s"graft_levenshtein: expected 2 arguments (a, b), got ${exprs.length}")
    EditDistance(exprs(0), exprs(1))
  }
}
