package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed `Aggregator` for the KMV (k-minimum-values) sketch: keeps
  * the k smallest DISTINCT 60-bit hash values per group as a bounded
  * sorted buffer — the aggregate-function tier of SURVEY §7.3
  * (custom `TypedColumn` / aggregate functions), complementing
  * [[VecDot]] (expression tier) and [[graft.plans.TopKPerGroupExec]]
  * (physical-operator tier).
  *
  * Selection of the k smallest distinct values over a total order is
  * associative + commutative, so Spark runs it as a normal two-phase
  * aggregation: partial bottom-k per partition, merge of k-bounded
  * buffers — the exchange carries ≤ partitions × groups × k longs
  * whatever the corpus size, and NO corpus-wide distinct ever
  * shuffles (the whole point of the sketch: `distinct().orderBy.limit`
  * would move every distinct value to get the same k numbers).
  *
  * Buffer invariant: sorted ascending, distinct, ≤ k. The common hot
  * path — a full buffer rejecting a hash ≥ its max — is O(1); an
  * accepted hash binary-searches its slot (O(log k); a duplicate is
  * detected by the same probe) and pays one O(k) copy for the
  * insertion — r18 verdict: the previous `contains` +
  * `distinct.sorted.take(k)` rebuild was O(k log k) per accepted
  * value, pure warm-up tax on an already-sorted buffer.
  */
class KmvAgg(k: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {

  /** First index with `buf(i) >= h` (== buf.size when h > max) —
    * the buffer is sorted-distinct, so `buf(i) == h` iff present. */
  private def lowerBound(buf: Seq[Long], h: Long): Int = {
    var lo = 0
    var hi = buf.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (buf(mid) < h) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def zero: Seq[Long] = Vector.empty

  override def reduce(buf: Seq[Long], h: Long): Seq[Long] =
    if (buf.size == k && h >= buf(buf.size - 1)) buf
    else {
      val i = lowerBound(buf, h)
      if (i < buf.size && buf(i) == h) buf
      else ((buf.take(i) :+ h) ++ buf.drop(i)).take(k)
    }

  /** Single-pass sorted merge of two sorted-distinct buffers, bounded
    * at k (r19 verdict residual #3: the old `(a ++ b).distinct.sorted
    * .take(k)` rebuild was O(2k log 2k) + a transient 2k array per
    * partition-pair merge; both inputs already carry the buffer
    * invariant, so one linear zip with duplicate-skip suffices). */
  override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      val out = Vector.newBuilder[Long]
      var i = 0
      var j = 0
      var n = 0
      while (n < k && (i < a.size || j < b.size)) {
        val takeA = j >= b.size || (i < a.size && a(i) <= b(j))
        val v = if (takeA) a(i) else b(j)
        if (takeA) i += 1
        if (j < b.size && b(j) == v) j += 1 // duplicate across shards
        out += v
        n += 1
      }
      out.result()
    }

  override def finish(buf: Seq[Long]): Seq[Long] = buf

  override def bufferEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

object KmvAgg {

  /** Untyped column form usable in `agg(...)`: the sorted-ascending
    * array of the group's k smallest distinct hash values. */
  def kmv(h: Column, k: Int): Column = {
    val agg = udaf(new KmvAgg(k),
      org.apache.spark.sql.Encoders.scalaLong)
    agg(h)
  }
}
