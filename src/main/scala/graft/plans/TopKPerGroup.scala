package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** The tier-(c) custom operator (SURVEY §7.3): whole-operator top-k-per-
  * group semantics as a native `LogicalPlan` + `SparkStrategy` +
  * physical `SparkPlan`, planned like a built-in aggregation —
  * PARTIAL bounded selection before the exchange, FINAL merge after it.
  *
  * Why a physical operator instead of the window form: `row_number()
  * .over(partitionBy(g).orderBy(s))` + `rank <= k` shuffles EVERY input
  * row and sorts every shuffle partition. This operator's partial mode
  * reduces each input partition to ≤ k rows per group with a bounded
  * heap (O(n log k), no sort buffer), so the exchange carries at most
  * `partitions × groups × k` rows — at 100 TB the difference between
  * shuffling the corpus and shuffling the answer. It is the engine's
  * one top-k-per-group operator, reached through
  * [[graft.operators.TopK.perGroup]]: Catalyst plans the exchange via
  * `requiredChildDistribution` (AQE coalesces it like any aggregate
  * shuffle), `EXPLAIN` shows `TopKPerGroup(partial=...)`, and the
  * operator works over arbitrary expressions and input types.
  *
  * Semantics: keep the first k rows per group in `order`'s total order.
  * Callers must make the order total (trailing unique tiebreak) for
  * deterministic output — same contract as the window form it replaces.
  *
  * Memory bound (honest limitation): heaps hold
  * `groups-per-partition × k` row copies and do NOT spill. That is the
  * right trade for top-k's natural shape (many rows, bounded groups —
  * ANN queries, per-key heads); for group cardinality approaching the
  * row count prefer the window form, whose sort spills to disk.
  */
case class TopKPerGroupLogical(groupExprs: Seq[Expression],
    order: Seq[SortOrder], k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"top-k needs k > 0, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerGroupLogical = copy(child = newChild)
}

/** Physical bounded top-k selection. `partial = true` runs before the
  * exchange (map-side, any distribution); `partial = false` declares
  * `ClusteredDistribution(groupExprs)` so `EnsureRequirements` inserts
  * the hash exchange, then merges the ≤ k·partitions survivors per
  * group down to the final k. Both modes share one algorithm: a
  * per-group bounded max-heap whose head is the worst kept row (heap
  * ordered by the REQUESTED order, so "better" compares smaller). */
case class TopKPerGroupExec(groupExprs: Seq[Expression],
    order: Seq[SortOrder], k: Int, partial: Boolean, child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil
  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPerGroupExec = copy(child = newChild)
  override def nodeName: String = s"TopKPerGroup(partial=$partial, k=$k)"

  override protected def doExecute(): RDD[InternalRow] = {
    val (g, o, kk, out) = (groupExprs, order, k, child.output)
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(g, out)
      val toUnsafe = UnsafeProjection.create(out, out)
      val ord = RowOrdering.create(o, out)
      // max-heap in the requested order: head = worst kept row
      val heapOrd: Ordering[UnsafeRow] = (a, b) => ord.compare(a, b)
      val heaps = mutable.HashMap
        .empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      iter.foreach { row =>
        val u = toUnsafe(row) // projection reuses its buffer → copy on keep
        heaps.get(keyProj(u)) match {
          case Some(h) =>
            if (h.size < kk) h.enqueue(u.copy())
            else if (ord.compare(u, h.head) < 0) {
              h.dequeue(); h.enqueue(u.copy())
            }
          case None =>
            val h = mutable.PriorityQueue.empty[UnsafeRow](heapOrd)
            h.enqueue(u.copy())
            heaps.put(keyProj(u).copy(), h)
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }
}

/** Plans [[TopKPerGroupLogical]] as final-over-partial, mirroring how
  * Spark plans hash aggregation; the exchange between the two is
  * Catalyst's job (`EnsureRequirements`), not ours. Floating-point group
  * keys are normalized first (the optimizer does this for aggregate and
  * window keys, but never sees this node's): the heaps and the exchange
  * key on binary rows, so -0.0 and 0.0, or two NaN bit patterns, would
  * otherwise form two groups and return up to 2k rows for one. */
case class TopKStrategy() extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupLogical(g, o, k, child) =>
      val keys = g.map(org.apache.spark.sql.graft.bridge.normalizedKey)
      TopKPerGroupExec(keys, o, k, partial = false,
        TopKPerGroupExec(keys, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}
