package graft.streaming

import org.apache.spark.sql.Dataset

/** Live per-window top-k: for each closed hour, the k busiest event
  * types with counts and ranks — the "what is the traffic made of
  * RIGHT NOW" panel next to [[StreamingSkew]]'s "where is it going".
  * A batch window-function top-k cannot run on a stream (ranking
  * needs the window's complete counts); the streaming form holds the
  * per-type counts as keyed state and ranks ONCE, at close.
  *
  * The [[ClosedHours]] fold with group key = hour bucket and state =
  * one count per event type seen in that hour (types-bounded —
  * event-type alphabets are small by design): emission is EXACTLY
  * ONCE per closed hour, and the top-k ranking (count desc, type asc
  * — total order, deterministic) is computed from final counts only,
  * so a dashboard never sees a provisional ranking that later
  * reshuffles. State is (open hours in the horizon) × (types) longs.
  */
object StreamingTopK {

  case class TypedEvent(eventType: String, tsUs: Long)

  case class TopKRow(hourBucket: Long, rank: Int, eventType: String,
      nEvents: Long)

  /** Checkpointed per-open-hour state (product-encoded, so the state
    * schema is checked on restart and can evolve). */
  private[streaming] case class TopKState(counts: Map[String, Long])

  val HourUs: Long = ClosedHours.HourUs

  def report(events: Dataset[TypedEvent], k: Int = 3,
      maxDelay: String = "1 hour"): Dataset[TopKRow] =
    ClosedHours.fold(events, maxDelay,
      ClosedHours.byHour[TypedEvent])(TopKState(Map.empty))((s, e) =>
      TopKState(s.counts.updated(e.eventType,
        s.counts.getOrElse(e.eventType, 0L) + 1L))) { (hour, s) =>
      s.counts.toSeq.sortBy { case (t, n) => (-n, t) }
        .take(k).zipWithIndex.iterator
        .map { case ((t, n), i) => TopKRow(hour, i + 1, t, n) }
    }
}
