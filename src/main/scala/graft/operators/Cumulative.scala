package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GLOBAL cumulative sums in two passes — the remedy for
  * `Window.orderBy` with no `partitionBy` (guide §2: an unpartitioned
  * window moves the whole frame to ONE task, which is fine for frames
  * bounded by construction but a single-partition sort for frames
  * that grow with data variety — the r21 verdict's `WindowExec: No
  * Partition Defined` flood; applied to the genuinely-growing frames,
  * heaps_law's bucket curve and session_stats' µs-grain span
  * histogram).
  *
  * Shape: bucket by the house HDR log-bucket
  * ([[Sketches.hdrBucketSql]] — MONOTONE in the key and ≤ 960 buckets
  * for any non-negative long, a pure per-row expression, so no extent
  * aggregate, no sampled `repartitionByRange` boundaries that could
  * diverge between plan references — an earlier cut did exactly that
  * and de-synchronized the local cums from their prefixes), run the
  * running sum INSIDE each bucket (a partitioned window — streams,
  * never buffers), then add each bucket's exclusive prefix, computed
  * with one window over the ≤ 960-row per-bucket totals (no partition
  * key: a bounded frame evaluated in one task, so WindowExec still
  * logs its `No Partition Defined` warning, but the frame cannot grow
  * with the data).
  * Global cum = local cum + prefix for ANY monotone bucketing, so the
  * result is bit-equal to the single-partition window it replaces.
  *
  * The bound is a constant factor, not a removal: a bucket holds the
  * keys within a 1/16-octave of the value range, so for dense integer
  * keys `0 until n` the densest bucket (the top octave's sixteenth)
  * holds ~n/32 of the rows. The in-bucket window still sorts that one
  * bucket in one task; it is ~32× smaller than the single-partition
  * sort it replaces, not bounded by a constant.
  *
  * Contract: `df` must be UNIQUE on `orderCol` (the histogram frames
  * these rows feed are groupBy outputs keyed by the order column) and
  * `orderCol` must be a NON-NEGATIVE integral — uniqueness makes
  * RANGE- and ROWS-framed running sums identical, and the HDR bucket
  * is monotone only over non-negative values.
  */
object Cumulative {

  /** Appends one running-sum column per `(valueCol, outName)` in
    * `sums`, ordered by `orderCol`, plus one GLOBAL-total column per
    * `(valueCol, outName)` in `totals` (computed on the per-bucket
    * totals frame and carried through the same broadcast prefix join
    * — never a second pass over `df`). */
  def rangeCumSum(df: DataFrame, orderCol: String,
      sums: Seq[(String, String)],
      totals: Seq[(String, String)] = Nil): DataFrame = {
    val parted = df.withColumn("_pid",
      expr(Sketches.hdrBucketSql(s"CAST(`$orderCol` AS BIGINT)")))
    val w = Window.partitionBy("_pid").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sums.foldLeft(parted) { case (acc, (v, out)) =>
      acc.withColumn(out, sum(col(v)).over(w))
    }
    val aggCols =
      sums.map { case (v, out) => sum(col(v)).as(s"_t_$out") } ++
        totals.map { case (v, out) => sum(col(v)).as(s"_g_$out") }
    // per-bucket totals derive from `local` (the WINDOW output), not
    // from `df`: both branches then share the window's own
    // hashpartitioning(_pid) exchange, the upstream lineage (for the
    // consumer rows: a session-window or corpus aggregate) executes
    // exactly ONCE, and the groupBy needs no exchange of its own —
    // deriving them from the pre-window frame instead re-ran the
    // upstream final aggregates per branch (measured ~2x the row on
    // session_stats)
    val partTotals = local.groupBy("_pid")
      .agg(aggCols.head, aggCols.tail: _*)
    // exclusive prefix per bucket + global totals in ONE window pass
    // over the ≤ 960-row totals frame, evaluated in one task
    val wp = Window.orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = partTotals.select(
      (col("_pid") +:
        (sums.map { case (_, out) =>
          coalesce(sum(col(s"_t_$out")).over(wp), lit(0L))
            .as(s"_p_$out") } ++
          totals.map { case (_, out) =>
            sum(col(s"_g_$out")).over().as(out) })): _*)
    val joined = local.join(broadcast(prefix), Seq("_pid"))
    val bumped = sums.foldLeft(joined) { case (acc, (_, out)) =>
      acc.withColumn(out, col(out) + col(s"_p_$out"))
    }
    bumped.drop(
      ("_pid" +: sums.map { case (_, out) => s"_p_$out" }): _*)
  }
}
