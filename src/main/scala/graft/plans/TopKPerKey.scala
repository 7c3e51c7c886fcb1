package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension: per-key top-k selection.
  *
  * The built-in way to keep the first k rows per key is
  * `row_number() OVER (PARTITION BY key ORDER BY s)` + `filter(rn <= k)`,
  * which plans as Exchange + **full Sort of every partition** — at 100 TB
  * that sorts billions of rows to keep a handful each. This operator
  * replaces the sort with a bounded heap per key: one Exchange (the
  * planner inserts it via `requiredChildDistribution`), then a single
  * streaming pass holding at most k rows per key in memory —
  * O(n log k) comparisons, O(keys·k) memory, no spillable sort buffer.
  *
  * Preference order (c) from the build rules: a custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan`, because no composition of built-ins
  * expresses "group-local bounded selection without a sort". The
  * planner gets [[TopKPerKeyStrategy]] from [[GraftExtensions]]: injected
  * at session build, or installed by [[graft.ops.Ops.topKPerKey]] on a
  * session built without the extensions.
  *
  * Ties beyond the given sort columns keep an arbitrary row — pass a
  * unique final sort column (ids) for deterministic output, exactly as a
  * window top-k would need.
  */
case class TopKPerKey(
    partitionExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Plans [[TopKPerKey]] into [[TopKPerKeyExec]]; inert on every other node. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    partitionExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numKeys" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of distinct keys"))

  /** One hash Exchange on the keys, inserted by EnsureRequirements —
    * co-locates each key's rows without ordering them. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(partitionExprs) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = partitionExprs
    val sortOrder = order
    val limit = k
    val outRows = longMetric("numOutputRows")
    val outKeys = longMetric("numKeys")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord: Ordering[InternalRow] = RowOrdering.create(sortOrder, childOutput)
      // max-heap per key under the sort order: head = worst retained row.
      // Rows are only copied when they enter a heap (≤ k live per key);
      // rows that would rank below head are rejected without copying.
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(h) =>
            if (h.size < limit) h.enqueue(row.copy())
            else if (ord.compare(row, h.head) < 0) { h.dequeue(); h.enqueue(row.copy()) }
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](ord)
            h.enqueue(row.copy())
            heaps.put(key.copy(), h)
        }
      }
      // dequeueAll drains worst-first; reverse to emit each key's rows in
      // sort order (rank 1 first), matching the window-form row order.
      outKeys += heaps.size
      heaps.valuesIterator.flatMap { h =>
        outRows += h.size
        h.dequeueAll.reverseIterator
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}
