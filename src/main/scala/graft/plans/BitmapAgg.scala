package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** Exact-distinct BITMAP aggregate over a bounded integer sub-domain —
  * the OLAP-engine bitmap pattern (ClickHouse `groupBitmap`, Doris
  * BITMAP_UNION) as a Catalyst `TypedImperativeAggregate`.
  *
  * `graft_bitmap_card(offset)` sets bit `offset` (0 ≤ offset < 2^16) in a
  * fixed 8 KiB bitset and evaluates to the POPCOUNT — the exact number of
  * distinct offsets seen. The caller splits an unbounded id domain into
  * segments: group by `(key, id >> 16)` aggregating `id & 0xFFFF`, then
  * sum the per-segment cardinalities per key (segments partition the
  * domain, so the popcounts add exactly).
  *
  * Scale shape vs `count(DISTINCT id)`: the distinct-aggregate rewrite
  * shuffles one row per DISTINCT (key, id) pair and re-aggregates; the
  * bitmap buffer is a CONSTANT 8 KiB per (key, segment) however many ids
  * a segment holds, merges as a word-wise OR (mergeable partial state →
  * map-side combine, AQE-safe), and ships one popcount row per occupied
  * segment. At 100 TB the shuffle carries `keys × occupied segments`
  * fixed-size rows instead of `keys × distinct ids` — and unlike
  * `approx_count_distinct` the answer is exact.
  *
  * Nulls are skipped (COUNT DISTINCT semantics); an offset outside
  * [0, 2^16) fails loudly — a silent mask would return a WRONG exact
  * count, the one thing a bitmap exists to never do. */
case class BitmapAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ImplicitCastInputTypes {

  private val bits = 1 << 16
  private val words = bits / 64 // 1024 longs = 8 KiB

  // integral inputs coerce to BIGINT at analysis; a string/double/array
  // argument fails resolution cleanly instead of ClassCastException-ing
  // inside an executor task (same contract as ShingleArray.build)
  override def inputTypes = Seq(LongType)
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bitmap_card"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](words)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val off = v.asInstanceOf[Long]
      require(off >= 0 && off < bits,
        s"graft_bitmap_card offset $off outside [0, $bits) — segment the id " +
          "domain as group by (key, id >> 16) over (id & 65535)")
      buf((off >> 6).toInt) |= 1L << (off & 63)
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < words) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    var n = 0L
    var i = 0
    while (i < words) { n += java.lang.Long.bitCount(buf(i)); i += 1 }
    n
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(words * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](words)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
