package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed `Aggregator` top-k: `topk_by(id, score, k)` keeps the k best
  * `(score desc, id asc)` pairs per group as a bounded buffer — the
  * aggregate-function tier of SURVEY §7.3 (custom `TypedColumn` /
  * aggregate functions), complementing [[VecDot]] (expression
  * tier) and [[graft.plans.ChainHeadsRule]] (plan-rewrite tier).
  *
  * Unlike the window top-k, the buffer merges in ANY combine order to
  * the same result (selection over a total order is
  * associative+commutative), so Spark runs it as a normal two-phase
  * aggregation: partial top-k per partition, merge of k-bounded
  * buffers — state per group is O(k), never O(rows).
  */
class TopKByAgg(k: Int)
    extends Aggregator[(Long, Double), Seq[(Double, Long)], Seq[Long]] {

  // buffer invariant: sorted best-first by (score desc, id asc), ≤ k
  private def best(buf: Seq[(Double, Long)]): Seq[(Double, Long)] =
    buf.sortBy { case (score, id) => (-score, id) }.take(k)

  override def zero: Seq[(Double, Long)] = Seq.empty

  override def reduce(buf: Seq[(Double, Long)],
      in: (Long, Double)): Seq[(Double, Long)] =
    best(buf :+ ((in._2, in._1)))

  override def merge(a: Seq[(Double, Long)],
      b: Seq[(Double, Long)]): Seq[(Double, Long)] = best(a ++ b)

  override def finish(buf: Seq[(Double, Long)]): Seq[Long] =
    buf.map(_._2)

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

object TopKByAgg {

  /** Untyped column form usable in `agg(...)` and registered SQL. */
  def topkBy(id: Column, score: Column, k: Int): Column = {
    val agg = udaf(new TopKByAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Double)]())
    agg(id, score)
  }
}
