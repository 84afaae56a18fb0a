package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming half of the `shard_skew_report` stream-health
  * diagnostic: per-(hour, shard) event counts with an integer-permille
  * share of the hour's traffic, emitted LIVE as each hour closes — the
  * alert that tells an on-call a partition key needs re-salting while
  * the hot shard is still hot, where the batch query reports it after
  * the fact.
  *
  * The permille needs the hour's TOTAL across shards, so the group key
  * is the hour bucket (not the shard): state per open hour is one
  * count per shard seen. Counts are commutative, so no
  * event-time-ordered buffer is needed — stragglers inside the
  * watermark horizon just increment, regardless of arrival order.
  *
  * Emission is the [[ClosedHours]] fold: EXACTLY ONCE per (hour,
  * shard), when the watermark reaches the hour end, so the closed
  * totals — and the permilles derived from them — are final.
  *
  * Scale shape: state is (open hours within the lateness horizon) ×
  * (shards) longs, so a deep backfill replaying months of data holds
  * only the horizon's worth of hour groups at a time.
  */
object StreamingSkew {

  case class SkewEvent(shardId: String, tsUs: Long)

  case class SkewRow(hourBucket: Long, shardId: String, nEvents: Long,
      permille: Long)

  /** Checkpointed per-open-hour state: events seen per shard.
    * Product-encoded, so the state schema is checked on restart. */
  private[streaming] case class SkewState(counts: Map[String, Long])

  val HourUs: Long = ClosedHours.HourUs

  /** @param maxDelay watermark delay — how far behind the max seen
    *   event time a straggler may arrive and still count toward its
    *   hour (also how long after an hour's last event its row waits
    *   to emit) */
  def report(events: Dataset[SkewEvent],
      maxDelay: String = "1 hour"): Dataset[SkewRow] =
    ClosedHours.fold(events, maxDelay,
      ClosedHours.byHour[SkewEvent])(SkewState(Map.empty))((s, e) =>
      SkewState(s.counts.updated(e.shardId,
        s.counts.getOrElse(e.shardId, 0L) + 1L))) { (hour, s) =>
      val total = s.counts.values.sum
      s.counts.toSeq.sortBy(_._1).iterator.map { case (shard, n) =>
        SkewRow(hour, shard, n, n * 1000L / total)
      }
    }
}
