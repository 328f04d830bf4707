package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension demo (SURVEY §7.3 option (c)): top-k rows per
  * key as a first-class operator — logical node + planner strategy +
  * physical heap operator.
  *
  * Why not window row_number ≤ k? The window form SORTS every key group
  * in full (O(n log n) per partition, whole-partition spill surface) to
  * keep k rows. This operator keeps a bounded k-element heap per key:
  * O(n log k) compute and O(#keys·k) memory, no sort of the other
  * n − k rows — on a 100 TB fact table with k=3 that is the difference
  * between sorting everything and touching everything once. The
  * exchange still comes from Catalyst (requiredChildDistribution), so
  * AQE plans/coalesces it like any shuffle. */
case class TopKPerKeyNode(groupKeys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Physical top-k-per-key heap operator. Memory bound: O(#keys · k) rows
  * held on-heap per task with no spill path — correct for the bounded-k,
  * bounded-key-cardinality workloads it targets; a key-explosive input
  * should use the window form instead. */
case class TopKPerKeyExec(groupKeys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupKeys) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val gk = groupKeys
    val so = order
    val kk = k
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(gk, schema)
      // identity projection to UnsafeRow: the child may satisfy the
      // required distribution without a shuffle and emit plain
      // InternalRows — never assume the row class
      val toUnsafe = UnsafeProjection.create(schema, schema)
      def keep(r: InternalRow): UnsafeRow = r match {
        case u: UnsafeRow => u.copy()
        case other        => toUnsafe(other).copy()
      }
      // ascending `ordering` = the requested order; the queue's head is
      // the LARGEST kept row, i.e. the eviction candidate
      val ordering = new LazilyGeneratedOrdering(so, schema)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[UnsafeRow](
              ordering.asInstanceOf[Ordering[UnsafeRow]])
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < kk) {
          // iterator rows are reused buffers — copy what we keep
          heap.enqueue(keep(row))
        } else if (ordering.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(keep(row))
        }
      }
      heaps.iterator.flatMap { case (_, heap) =>
        heap.dequeueAll.reverseIterator // per-key rows in requested order
      }
    }
  }
}

/** Planner rule: one logical node → one physical operator. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Public API: `TopK.perKey(df, $"key", 3, $"value".desc, $"id".asc)`.
  * The order must be total (add unique tiebreakers) for deterministic
  * results. The frame's session must carry [[GraftExtensions]] (config
  * or `install`), whose strategy plans the node. */
object TopK {
  def perKey(df: DataFrame, key: Column, k: Int, order: Column*): DataFrame = {
    val session =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // session.expression eagerly converts the Connect-style ColumnNode into
    // a catalyst Expression (UnresolvedAttribute inside), which the
    // analyzer then resolves against the child like any other node
    val sortOrder = order.map(c => session.expression(c) match {
      case so: SortOrder => so
      case e             => SortOrder(e, Ascending)
    })
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      TopKPerKeyNode(Seq(session.expression(key)), sortOrder, k,
        df.queryExecution.analyzed))
  }
}
