package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator custom plan: bounded per-key top-k.
  *
  * Semantically equal to `row_number() OVER (PARTITION BY keys ORDER
  * BY order) <= k`, but the built-in plan SORTS every partition in
  * full — O(n log n) compare work and a complete materialization
  * (spill at scale) to keep k rows per key. This operator keeps a
  * size-k heap per key instead: one streaming pass, O(n log k)
  * compares, memory O(keys-per-partition × k) — at 100 TB with heavy
  * keys the difference between a sort-spill stage and a pipelined
  * scan. The exec demands `ClusteredDistribution(keys)`, so Spark
  * plans exactly the one hash exchange the window operator needs —
  * the win is the removed per-partition sort, not a removed shuffle.
  *
  * This is deliberately the (c) tier of the build rules — custom
  * LogicalPlan + Strategy + SparkPlan — used where built-ins express
  * the SEMANTICS but cannot express the EFFICIENT PLAN. The scored
  * `win_topk_native` query answers through it; its oracle is the
  * plain window SQL, so the operator is held to exact window
  * semantics (deterministic under a total order, same ranks).
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    rn: AttributeReference = AttributeReference("rn", LongType, nullable = false)())
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rn
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rn :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rn: Attribute,
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rn
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rn :: Nil)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val sortOrder = order
    val limit = k
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      // Codegen'd total-order comparator following the SortOrder
      // semantics; PriorityQueue's head is its LARGEST element, which
      // under this ordering is the row that sorts LAST — the one to
      // evict when a better row arrives.
      val ordering = GenerateOrdering.generate(sortOrder, childOutput)
      val heaps = scala.collection.mutable.LinkedHashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        heaps.get(key) match {
          case None =>
            val h = scala.collection.mutable.PriorityQueue
              .empty[InternalRow](ordering)
            h.enqueue(row.copy())
            heaps.put(key.copy(), h)
          case Some(h) =>
            if (h.size < limit) h.enqueue(row.copy())
            else if (ordering.compare(row, h.head) < 0) {
              h.dequeue()
              h.enqueue(row.copy())
            }
        }
      }
      val outProj = UnsafeProjection.create(output, childOutput :+ rn)
      val joined = new JoinedRow
      val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      heaps.valuesIterator.flatMap { heap =>
        val best: Seq[InternalRow] = heap.dequeueAll.reverse
        best.iterator.zipWithIndex.map { pair =>
          rankRow.update(0, (pair._2 + 1).toLong)
          outProj(joined(pair._1, rankRow))
        }
      }
    }, preservesPartitioning = true)
  }
}

/** Planner strategy mapping the logical node to the heap exec.
  * Installed per session or fleet-wide by [[PlannerExtensions]]. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child, rn) =>
      TopKPerKeyExec(keys, order, k, rn, planLater(child)) :: Nil
    case _ => Nil
  }
}
