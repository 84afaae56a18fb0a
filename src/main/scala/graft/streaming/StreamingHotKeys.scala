package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, lit, pmod}

/** Streaming half of the `hot_keys` heavy-hitter report: LIVE hot-key
  * CANDIDATES per hour, with state bounded at any key cardinality —
  * the alert feed an on-call watches while the batch two-pass
  * (operators.HeavyHitters.hotKeys) confirms exact counts offline.
  *
  * Why candidates and not exact counts: exact per-key streaming
  * counts need state proportional to the number of distinct keys in
  * the lateness horizon — unbounded for high-cardinality partition
  * keys (the exact regime heavy hitters exist for). Instead each
  * group keeps a Misra-Gries summary of fixed `capacity`, so state is
  * (open hours × `buckets` salt groups) × (capacity counters + one
  * total) — independent of both event volume and key cardinality.
  *
  * Grouping is (hour, key-salt bucket): a key hashes to exactly ONE
  * bucket, so its in-bucket frequency IS its hour frequency, and the
  * per-bucket MG undercount bound (bucketTotal / capacity) applies to
  * the key's true hour count. Every key with hour frequency above
  * that bound survives its bucket's sketch (same argument as the
  * batch operator — HeavyHittersSpec pins fold-equivalence of the
  * streaming update to the batch summary), so the candidate feed has
  * NO false negatives above the bound; emitted `minCount` is the MG
  * lower bound, and `bucketTotal` lets the consumer compute the bound
  * itself. False positives are possible (that is what the exact
  * recount is for) — the feed is the trigger, not the verdict.
  *
  * Emission is the [[ClosedHours]] fold: exactly once per (hour,
  * bucket), when the watermark passes the hour end; MG counts fold
  * stragglers inside the horizon in, regardless of arrival order.
  */
object StreamingHotKeys {

  case class KeyEvent(key: Long, tsUs: Long)

  /** One candidate hot key: `minCount` is the Misra-Gries lower bound
    * on the key's count in `hourBucket`; the true count is within
    * `bucketTotal / capacity` above it. */
  case class HotKeyCandidate(hourBucket: Long, key: Long,
      minCount: Long, bucketTotal: Long)

  /** Checkpointed per-(open hour, salt bucket) state: the MG counter
    * map (≤ capacity entries by construction) and the bucket's event
    * total (the quantity the undercount bound is stated in).
    * Product-encoded — schema-ful, evolvable state. */
  private[streaming] case class HotKeyState(counts: Map[Long, Long],
      total: Long)

  val HourUs: Long = ClosedHours.HourUs

  /** @param buckets   salt-bucket fan-out (state parallelism knob;
    *   groups per open hour)
    * @param capacity  MG counters per bucket — the no-false-negative
    *   line sits at bucketTotal/capacity occurrences
    * @param maxDelay  watermark delay (straggler horizon) */
  def candidates(events: Dataset[KeyEvent], buckets: Int = 16,
      capacity: Int = 256,
      maxDelay: String = "1 hour"): Dataset[HotKeyCandidate] = {
    val byBucket =
      ClosedHours.bySalt[KeyEvent](pmod(col("key"), lit(buckets.toLong)))
    ClosedHours.fold(events, maxDelay, byBucket)(HotKeyState(Map.empty, 0L))(
      (s, e) => HotKeyState(graft.operators.HeavyHitters.mgUpdate(
        s.counts, e.key, capacity), s.total + 1L)) { case ((hour, _), s) =>
      s.counts.toSeq.sortBy(_._1).iterator.map {
        case (k, c) => HotKeyCandidate(hour, k, c, s.total)
      }
    }
  }
}
