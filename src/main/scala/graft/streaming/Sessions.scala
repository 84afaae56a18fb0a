package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gap-based sessionization on Spark's native `session_window` — ONE
  * definition serving both batch backfill and live streams, so a
  * deployment's historical sessions and its real-time ones can never
  * drift (the classic lambda-architecture bug this avoids).
  *
  * Semantics: a session extends while the next event arrives within
  * `gap` of the previous one, INCLUSIVE — an event exactly `gap` later
  * (at the open session's end) still merges, and only a strictly
  * larger gap splits; session end = last event + gap (pinned by
  * `SessionizeSpec`, mirrored relationally by the `sessionize`
  * oracle's `diff > gap` break rule).
  *
  * Scale shape: `session_window` merges sessions MAP-SIDE before the
  * exchange (partial aggregation over mergeable windows), so the
  * shuffle carries per-session partials, not raw events; the exchange
  * hashes on the user key only — 10× events per user means bigger
  * partials, not more shuffle rows per session.
  *
  * Streaming: the caller watermarks the input
  * (`df.withWatermark(timeCol, ...)`) and runs the query in append
  * mode — a session emits once the watermark passes its end (no
  * further event can extend it), and its state is evicted; state is
  * bounded by the watermark horizon, never corpus-sized.
  */
object Sessions {

  /** @param df        input rows (batch or streaming)
    * @param timeCol   event-time column name (TimestampType)
    * @param keyCol    session key column name
    * @param gap       session gap, e.g. "6 hours"
    * @param aggs      per-session aggregates (beyond the window itself)
    */
  def gapSessions(
      df: DataFrame, timeCol: String, keyCol: String, gap: String,
      aggs: Seq[Column]): DataFrame =
    df
      .groupBy(col(keyCol), session_window(col(timeCol), gap).as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("w.start"))
      .withColumn("session_end", col("w.end"))
      .drop("w")
}
