package graft.streaming

import org.apache.spark.sql.{Column, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Live URL-FRONTIER dedup — the streaming sibling of the batch
  * `url_dedup` query (WebQueries): a crawl scheduler must admit each
  * canonical URL ONCE per refresh interval, swallowing the re-crawl
  * storm of raw variants (host case, explicit default port, fragment)
  * in between, then make the URL eligible again so content freshness
  * is bounded.
  *
  * Semantics per canonical URL:
  *  - first arrival ADMITS (kind = "admit"; within one micro-batch the
  *    (tsUs, rawUrl)-least row wins — deterministic under scrambled
  *    arrival);
  *  - later arrivals while the admit is live are SUPPRESSED (counted,
  *    not emitted);
  *  - when the watermark passes admitTs + ttl the entry RETIRES
  *    (kind = "retire" carries the suppressed-count audit row) and
  *    state is cleared — the next arrival re-admits (a re-crawl).
  *
  * TTL'd state via EVENT-TIME timers rather than `TTLConfig`'s
  * processing-time TTL: expiry is then watermark-driven —
  * deterministic in tests and identical on a checkpoint replay, which
  * wall-clock TTL is not. The admit contract is arrival-order (first
  * fetch wins — frontier semantics), not global min-event-time across
  * batches.
  *
  * Scale shape: state is ONE long + ONE counter per canonical URL
  * currently inside its refresh interval — bounded by the live
  * frontier, not the crawl history (the [[StreamingDedup]] watermark
  * argument, with per-key TTL instead of one global horizon). Keys
  * hash-partition across executors; RocksDB pages cold entries to
  * disk. A duplicate arriving AFTER retirement re-emits by design
  * (that is the refresh), and the at-rest batch `url_dedup` remains
  * the global collapse.
  */
object StreamingUrlFrontier {

  /** A raw URL sighting (event time in epoch µs). */
  case class SeenUrl(rawUrl: String, tsUs: Long)

  private[streaming] case class CanonSeen(rawUrl: String, tsUs: Long,
      canonicalUrl: String, eventTime: java.sql.Timestamp)

  /** "admit" rows carry the admitted sighting; "retire" rows carry the
    * audit count of sightings suppressed during the admit's lifetime
    * (tsUs = the original admit time). */
  case class FrontierEvent(canonicalUrl: String, rawUrl: String,
      tsUs: Long, kind: String, nSuppressed: Long)

  /** The url_dedup canonicalization chain (host lowercased, explicit
    * :443 dropped, fragment cut) — shared shape so the live frontier
    * and the batch collapse name the same canonical entities. */
  def canonicalize(raw: Column): Column = concat(lit("https://"),
    lower(regexp_replace(
      regexp_extract(raw, "^https://([^/#]+)", 1), ":443$", "")),
    regexp_extract(raw, "^https://[^/#]+(/[^#]*)", 1))

  /** @param urls     raw sightings
    * @param ttlUs    refresh interval: a canonical URL re-admits once
    *                 the watermark passes admitTs + ttlUs
    * @param maxDelay watermark delay for late sightings */
  def frontier(urls: Dataset[SeenUrl], ttlUs: Long,
      maxDelay: String = "10 minutes"): Dataset[FrontierEvent] = {
    require(ttlUs > 0, s"ttlUs must be positive, got $ttlUs")
    implicit val outEnc = Encoders.product[FrontierEvent]
    urls.toDF("rawUrl", "tsUs")
      .withColumn("canonicalUrl", canonicalize(col("rawUrl")))
      .withColumn("eventTime", timestamp_micros(col("tsUs")))
      .withWatermark("eventTime", maxDelay)
      .as[CanonSeen](Encoders.product[CanonSeen])
      .groupByKey(_.canonicalUrl)(Encoders.STRING)
      .transformWithState(new UrlFrontierProcessor(ttlUs),
        TimeMode.EventTime(), OutputMode.Update())
  }
}

/** Per-canonical-URL state: the admit (rawUrl, tsUs) and the count of
  * suppressed sightings since. Product-encoded (schema-ful, evolvable
  * — like PolitenessLimiter's `HostBucket`). */
private[streaming] case class AdmitState(rawUrl: String, tsUs: Long,
    nSuppressed: Long)

private[streaming] class UrlFrontierProcessor(ttlUs: Long)
  extends StatefulProcessor[String, StreamingUrlFrontier.CanonSeen,
    StreamingUrlFrontier.FrontierEvent] {

  import StreamingUrlFrontier.FrontierEvent

  @transient private var admit: ValueState[AdmitState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    admit = getHandle.getValueState[AdmitState]("admit",
      Encoders.product[AdmitState], TTLConfig.NONE)

  override def handleInputRows(canonical: String,
      rows: Iterator[StreamingUrlFrontier.CanonSeen],
      timers: TimerValues): Iterator[FrontierEvent] = {
    val rs = rows.toSeq.sortBy(r => (r.tsUs, r.rawUrl))
    var out = List.empty[FrontierEvent]
    rs.foreach { r =>
      if (!admit.exists()) {
        admit.update(AdmitState(r.rawUrl, r.tsUs, 0L))
        // event-time timer: fires once the WATERMARK reaches
        // admit + ttl (ms granularity — the timer API's unit)
        getHandle.registerTimer(r.tsUs / 1000 + ttlUs / 1000)
        out ::= FrontierEvent(canonical, r.rawUrl, r.tsUs, "admit", 0L)
      } else {
        val a = admit.get()
        admit.update(a.copy(nSuppressed = a.nSuppressed + 1))
      }
    }
    out.reverse.iterator
  }

  override def handleExpiredTimer(canonical: String,
      timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[FrontierEvent] = {
    // retire: emit the audit row and clear — the next sighting
    // re-admits. Guard exists(): a timer can outlive its state only
    // if a future variant clears state elsewhere; today it always
    // exists, but a silent no-op beats a null deref on evolution.
    if (!admit.exists()) Iterator.empty
    else {
      val a = admit.get()
      admit.clear()
      Iterator.single(FrontierEvent(canonical, a.rawUrl, a.tsUs,
        "retire", a.nSuppressed))
    }
  }
}
