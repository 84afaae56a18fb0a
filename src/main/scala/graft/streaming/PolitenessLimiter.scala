package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Per-host POLITENESS rate limiter — the missing half of the crawl
  * scheduler next to [[StreamingUrlFrontier]] (admits each URL once
  * per refresh) and the batch `frontier_refresh_plan` (sets each
  * domain's revisit interval): a crawler must also SPACE its fetches
  * against any one host (robots crawl-delay etiquette), whatever mix
  * of URLs the frontier releases.
  *
  * The limiter is a token bucket in GCRA form (the virtual-scheduling
  * variant of the leaky bucket, Turner's algorithm from ATM traffic
  * shaping): per host one THEORETICAL ARRIVAL TIME `tatUs`; a request
  * at event time t with burst tolerance τ = (burst − 1)·gapUs is
  *  - CONFORMING when max(t, tat) − t ≤ τ → "fetch" NOW (releaseUs =
  *    t), tat ← max(t, tat) + gapUs — so a fresh host allows `burst`
  *    back-to-back fetches, then one per gapUs;
  *  - else DEFERRED to releaseUs = max(t, tat) − τ (the earliest
  *    conforming instant — successive deferrals land exactly gapUs
  *    apart), parked in state and emitted as "release" when the
  *    WATERMARK passes releaseUs (event-time timer, the
  *    [[StreamingUrlFrontier]] discipline — deterministic in tests
  *    and on checkpoint replay);
  *  - else, when `maxPending` deferrals are already parked, "drop"
  *    (shed back-pressure the upstream frontier re-offers next
  *    refresh; a dropped request consumes no token).
  *
  * Scale shape: state per host is ONE (tatUs, nPending) pair plus at
  * most `maxPending` parked requests — bounded by configuration, not
  * by traffic — and an idle host's state CLEARS once the watermark
  * passes its tat (a full bucket is indistinguishable from no state:
  * max(t, tat) = t for every future t, so the clear is
  * semantics-exact). Hosts hash-partition across executors; RocksDB
  * pages cold buckets to disk.
  */
object PolitenessLimiter {

  /** A fetch request released by the frontier (event time epoch µs). */
  case class FetchRequest(url: String, tsUs: Long)

  private[streaming] case class HostReq(url: String, tsUs: Long,
      host: String, eventTime: java.sql.Timestamp,
      allowed: Boolean, reason: String)

  /** kind = "fetch" (conforming, releaseUs = tsUs), "release"
    * (deferred; releaseUs > tsUs is the spaced slot), "drop"
    * (maxPending exceeded, releaseUs = tsUs, reason =
    * "queue_overflow") or "disallowed" (a gated-out request passed
    * through by [[limitGated]]; reason names the robots rule). The
    * dead-letter kinds carry a non-empty `reason` — the reference's
    * nothing-vanishes-without-an-envelope discipline (DRQ/DMQ
    * reasonRejected, kinesis-processing.js:608-746). */
  case class FetchDecision(host: String, url: String, tsUs: Long,
      releaseUs: Long, kind: String, reason: String = "")

  /** Lowercased registered host — the politeness key (scheme and port
    * do not change whose server we are hammering). */
  def host(url: Column): Column =
    lower(regexp_extract(url, "^https?://([^/:#]+)", 1))

  /** BATCH twin of the streaming limiter for burst = 1 — the crawl
    * PLAN auditor ("given this request log, when would each fetch
    * go out, and how long would it wait?"), the url_dedup-vs-frontier
    * pairing applied to politeness. The GCRA recurrence
    * s_i = max(t_i, s_(i-1) + gap) has the CLOSED FORM
    * s_i = gap·i + max_(j ≤ i)(t_j − gap·j), so the whole schedule is
    * one per-host cumulative-max window — exact integer arithmetic,
    * SQL-expressible, hence ORACLE-CHECKABLE where the streaming
    * operator is spec-pass only; PolitenessLimiterSpec pins the two
    * equal decision-for-decision on identical input. burst > 1 has no
    * such prefix-max form (the tolerance couples into the max), so
    * the audit twin fixes burst = 1 — the common crawl-etiquette
    * setting — and the streaming operator remains the general path.
    *
    * `reqs` must carry `host`, `tsUs`, and the `orderCols` that make
    * the per-host order total (ties would make the schedule
    * nondeterministic). Adds `slot_us` (the fetch instant), `wait_us`
    * and `deferred`. Scale shape: one hash exchange on host + a
    * per-host ordered window — no corpus-global window, and hosts
    * are the natural parallelism unit. */
  def batchSchedule(reqs: org.apache.spark.sql.DataFrame, gapUs: Long,
      orderCols: Seq[Column]): org.apache.spark.sql.DataFrame = {
    require(gapUs >= 1000, s"gapUs must be >= 1000 (1 ms), got $gapUs")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("host").orderBy(orderCols: _*)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    reqs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("slot_us",
        lit(gapUs) * col("rn") +
          max(col("tsUs") - lit(gapUs) * col("rn")).over(cum))
      .withColumn("wait_us", col("slot_us") - col("tsUs"))
      .withColumn("deferred", col("wait_us") > 0L)
      .drop("rn")
  }

  /** @param reqs       released fetch requests
    * @param gapUs      minimum spacing between fetches to one host
    *                   (≥ 1000: event-time timers have ms granularity)
    * @param burst      bucket depth: fetches a fresh host accepts
    *                   back-to-back before spacing kicks in
    * @param maxPending deferral queue bound per host; beyond it,
    *                   requests drop (re-offered by the next refresh)
    * @param maxDelay   watermark delay for late requests; ignored when
    *                   the lineage already defines a watermark (see
    *                   [[limitGated]]) */
  def limit(reqs: Dataset[FetchRequest], gapUs: Long, burst: Int = 1,
      maxPending: Int = 64,
      maxDelay: String = "10 minutes"): Dataset[FetchDecision] =
    limitGated(reqs.toDF("url", "tsUs")
        .withColumn("allowed", lit(true))
        .withColumn("reason", lit("")),
      gapUs, burst, maxPending, maxDelay)

  /** [[limit]] over a PRE-GATED frame carrying `url, tsUs, allowed,
    * reason`: rows with `allowed = false` pass straight through as
    * `kind = "disallowed"` envelopes (no token consumed, no state
    * touched) — the [[CrawlScheduler]] dead-letter path, kept inside
    * the one stateful operator so the composed pipeline stays a
    * single streaming query and exactly-once covers the envelopes.
    *
    * Watermark: when the limiter sits DOWNSTREAM of another stateful
    * operator in the same query (the [[CrawlScheduler]] composition),
    * the lineage already carries a watermark and Spark forbids
    * redefining it, so the limiter reuses it (event-time timers fire
    * off the propagated watermark). Otherwise it defines one on the
    * request time with `maxDelay`. */
  private[streaming] def limitGated(reqs: DataFrame, gapUs: Long,
      burst: Int, maxPending: Int,
      maxDelay: String): Dataset[FetchDecision] = {
    require(gapUs >= 1000, s"gapUs must be >= 1000 (1 ms), got $gapUs")
    require(burst >= 1, s"burst must be >= 1, got $burst")
    require(maxPending >= 0, s"maxPending must be >= 0, got $maxPending")
    implicit val outEnc = Encoders.product[FetchDecision]
    val timed = reqs
      .withColumn("host", host(col("url")))
      .withColumn("eventTime", timestamp_micros(col("tsUs")))
    val upstream = timed.queryExecution.analyzed.exists {
      case _: EventTimeWatermark => true
      case _ => false
    }
    val src = if (upstream) timed
      else timed.withWatermark("eventTime", maxDelay)
    src
      .as[HostReq](Encoders.product[HostReq])
      .groupByKey(_.host)(Encoders.STRING)
      .transformWithState(
        new PolitenessProcessor(gapUs, burst, maxPending),
        TimeMode.EventTime(), OutputMode.Update())
  }
}

/** Per-host bucket: GCRA theoretical arrival time + parked-deferral
  * count (the count mirrors the MapState size so the overflow check
  * is O(1), not an iterator walk). */
private[streaming] case class HostBucket(tatUs: Long, nPending: Long)

/** A parked deferral, keyed in MapState by its releaseUs (strictly
  * increasing per host — tat advances gapUs per accepted request, so
  * release slots never collide). */
private[streaming] case class ParkedReq(url: String, tsUs: Long)

private[streaming] class PolitenessProcessor(gapUs: Long, burst: Int,
    maxPending: Int)
  extends StatefulProcessor[String, PolitenessLimiter.HostReq,
    PolitenessLimiter.FetchDecision] {

  import PolitenessLimiter.FetchDecision

  private val tolUs = (burst - 1L) * gapUs

  @transient private var bucket: ValueState[HostBucket] = _
  @transient private var parked: MapState[Long, ParkedReq] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    bucket = getHandle.getValueState[HostBucket]("bucket",
      Encoders.product[HostBucket], TTLConfig.NONE)
    parked = getHandle.getMapState[Long, ParkedReq]("parked",
      Encoders.scalaLong, Encoders.product[ParkedReq], TTLConfig.NONE)
  }

  /** Timers fire when the WATERMARK (ms) passes the registered time;
    * ceil-divide so a µs release slot is never serviced early. */
  private def ceilMs(us: Long): Long = (us + 999) / 1000

  /** The GC rendezvous re-arms at the same ms across batches when tat
    * is unchanged; registering a duplicate is a no-op but logs a WARN
    * per occurrence, so check membership first (the timer list is
    * release-slots + one GC entry — maxPending-bounded). */
  private def armOnce(ms: Long): Unit =
    if (!getHandle.listTimers().contains(ms)) getHandle.registerTimer(ms)

  override def handleInputRows(hostKey: String,
      rows: Iterator[PolitenessLimiter.HostReq],
      timers: TimerValues): Iterator[FetchDecision] = {
    // deterministic under scrambled arrival: event-time order, URL
    // tie-break — the frontier spec's (tsUs, url) discipline
    val rs = rows.toSeq.sortBy(r => (r.tsUs, r.url))
    var b = if (bucket.exists()) bucket.get()
      else HostBucket(Long.MinValue, 0L)
    var out = List.empty[FetchDecision]
    rs.foreach { r =>
      lazy val tat1 = math.max(r.tsUs, b.tatUs)
      if (!r.allowed) {
        // gated-out pass-through: envelope only, no token, no state
        out ::= FetchDecision(hostKey, r.url, r.tsUs, r.tsUs,
          "disallowed", r.reason)
      } else if (tat1 - r.tsUs <= tolUs) {
        out ::= FetchDecision(hostKey, r.url, r.tsUs, r.tsUs, "fetch")
        b = b.copy(tatUs = tat1 + gapUs)
      } else if (b.nPending >= maxPending) {
        out ::= FetchDecision(hostKey, r.url, r.tsUs, r.tsUs, "drop",
          "queue_overflow")
      } else {
        val releaseUs = tat1 - tolUs
        parked.updateValue(releaseUs, ParkedReq(r.url, r.tsUs))
        getHandle.registerTimer(ceilMs(releaseUs))
        b = HostBucket(tat1 + gapUs, b.nPending + 1)
      }
    }
    bucket.update(b)
    // idle-host GC rendezvous: once the watermark passes tat a full
    // bucket equals no bucket, so park a timer there to reclaim the
    // state (re-armed per batch; firing on cleared state is a no-op)
    if (b.nPending == 0L) armOnce(ceilMs(b.tatUs))
    out.reverse.iterator
  }

  override def handleExpiredTimer(hostKey: String, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[FetchDecision] = {
    if (!bucket.exists()) return Iterator.empty
    val nowMs = expired.getExpiryTimeInMs()
    val due = parked.iterator().toSeq
      .filter { case (rel, _) => ceilMs(rel) <= nowMs }
      .sortBy { case (rel, p) => (rel, p.url) }
    due.foreach { case (rel, _) => parked.removeKey(rel) }
    val b0 = bucket.get()
    val b = b0.copy(nPending = b0.nPending - due.size)
    if (b.nPending == 0L && nowMs >= ceilMs(b.tatUs)) {
      bucket.clear() // full bucket ≡ no state (see scaladoc)
    } else {
      bucket.update(b)
      if (b.nPending == 0L) armOnce(ceilMs(b.tatUs))
    }
    due.iterator.map { case (rel, p) =>
      FetchDecision(hostKey, p.url, p.tsUs, rel, "release")
    }
  }
}
