package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature as a custom typed aggregate (SURVEY.md §7.3:
  * `TypedImperativeAggregate` reserved for sketch aggregates).
  *
  * `graft_minhash(tokens)` aggregates a document's token rows into the
  * 16-wide signature sig_i = min(md5(i + '|' + token)) in ONE mutable
  * buffer — the sketch-aggregate shape (mergeable partial state,
  * map-side combine) that also fits streaming state stores. Values are
  * identical to TextDedup.minhashSignatures' wide groupBy form (same md5
  * grammar), which stays the declared-query path; this expression is the
  * extension point for sketches that have no built-in decomposition
  * (HLL unions, quantile sketches, SpaceSaving heavy hitters).
  *
  * Buffer = numHashes md5-hex strings; merge = elementwise min; output =
  * array<string> in seed order. */
case class MinHashAgg(
    child: Expression,
    numHashes: Int = 16,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[String]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def createAggregationBuffer(): Array[String] = Array.fill(numHashes)(null)

  // one digest per executor thread; seed prefixes ("0|", "1|", …) as
  // pre-encoded bytes — the per-(token, seed) work is two digest updates
  // and one hex render, no string concat or JCA lookup on the hot path
  @transient private lazy val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  @transient private lazy val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(numHashes)(i => s"$i|".getBytes("UTF-8"))
  private val hexChars = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(i * 2) = hexChars((bytes(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  override def update(buf: Array[String], input: InternalRow): Array[String] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr != null) {
      val md = md5Local.get()
      var t = 0
      while (t < arr.numElements()) {
        // null tokens cast no vote (same rule as SimHash64.compute) —
        // getUTF8String on a null slot is undefined behavior
        if (arr.isNullAt(t)) { t += 1 }
        else {
        val tokBytes = arr.getUTF8String(t).getBytes
        var i = 0
        while (i < numHashes) {
          md.reset()
          md.update(seedPrefixes(i))
          md.update(tokBytes)
          val h = hex(md.digest())
          if (buf(i) == null || h < buf(i)) buf(i) = h
          i += 1
        }
        t += 1
        }
      }
    }
    buf
  }

  override def merge(a: Array[String], b: Array[String]): Array[String] = {
    var i = 0
    while (i < numHashes) {
      if (a(i) == null || (b(i) != null && b(i) < a(i))) a(i) = b(i)
      i += 1
    }
    a
  }

  override def eval(buf: Array[String]): Any =
    new GenericArrayData(buf.map(s => UTF8String.fromString(if (s == null) "" else s)))

  override def serialize(buf: Array[String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach(s => out.writeUTF(if (s == null) "" else s))
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[String] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    Array.fill(n) { val s = in.readUTF(); if (s.isEmpty) null else s }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
