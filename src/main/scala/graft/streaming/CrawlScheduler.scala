package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The crawl scheduler END-TO-END (r16 verdict task #5) — the three
  * crawl-side operators composed into one streaming pipeline, the
  * reference's pipeline-of-phases shape (initiate → process →
  * finalise, kinesis-consumer.js:197-206):
  *
  *  1. FRONTIER ([[StreamingUrlFrontier]]): each canonical URL admits
  *     once per refresh interval; variant storms suppress in state.
  *  2. ROBOTS GATE ([[verdicts]]): admitted URLs receive the RFC 9309
  *     most-specific-match verdict against a static rules frame —
  *     the `robots_wildcard` semantics (patterns with `*`/`$`,
  *     specificity = 2·length + allow-bit, no-rule → allow).
  *  3. POLITENESS ([[PolitenessLimiter]]): allowed admits space out
  *     per host — fetch now, defer to the GCRA slot, or drop on
  *     queue overflow.
  *
  * NOTHING VANISHES SILENTLY (r17 verdict task #3) — the reference's
  * dead-letter discipline (every unusable record gets a DRQ/DMQ
  * envelope with a reason, kinesis-processing.js:608-746) applied to
  * the crawl pipeline: a robots-disallowed admit is not filtered away
  * but emitted as a `kind = "disallowed"` decision row whose `reason`
  * names the winning rule (`robots:<pattern>`), and a queue-overflow
  * drop carries `reason = "queue_overflow"`. Disallowed rows ride
  * through the politeness operator as stateless pass-throughs (no
  * token consumed, no state touched), so the pipeline stays ONE
  * streaming query with exactly two stateful phases and the
  * exactly-once emission contract covers the envelopes too
  * (CrawlSchedulerSpec's restart test pins no double-write).
  *
  * The gate deliberately carries NO streaming aggregation and no join:
  * the rules frame (batch-side, domains-sized) is collected once into
  * the broadcast rule map of the compiled [[graft.functions.RobotsMatch]]
  * kernel — the matcher the batch robots rows use — and the verdict is
  * one row-local kernel call per URL, so the stream stays a chain of
  * stateful transforms + maps that Spark can run in ONE query, however
  * fast the frontier admits.
  *
  * Scale shape: each phase keeps its own bound — frontier state is
  * the live admit window, gate state is zero, limiter state is one
  * bucket + ≤ maxPending parked rows per host. Watermarks propagate
  * through both stateful operators, so releases stay deterministic
  * under replay (CrawlSchedulerSpec pins the composed admit / gate /
  * fetch / release / drop / disallow counts on one scripted schedule).
  */
object CrawlScheduler {

  /** Rules frame columns: domain, pattern (RFC 9309 grammar), allow.
    * Attaches each rule's specificity `spec = 2·length(pattern) +
    * allow-bit` — the rules side [[graft.functions.RobotsMatch.decide]]
    * reads. The kernel matches the RFC grammar directly, so `_` and
    * `%` in a robots path stay literal. */
  def compileRules(rules: DataFrame): DataFrame =
    rules.withColumn("spec",
      expr("CAST(length(pattern) * 2 + IF(allow, 1, 0) AS BIGINT)"))

  /** Attaches the RFC 9309 verdict to a frame carrying `canonicalUrl`:
    * adds `robots_allowed` and `robots_rule` (the winning pattern;
    * null when no rule applied — RFC 9309 default allow). `compiled`
    * is [[compileRules]]' output, collected once when the verdict
    * column is built. Equal-spec ties resolve to the lexicographically
    * smallest pattern, the batch robots rows' rule. Works on streams
    * (a per-row kernel call, no join, no aggregation) and on batch
    * frames alike. A path-less canonical URL (`https://a.com`) matches
    * as path `/` — RFC 9309 treats the empty path as the root, so a
    * domain-wide `Disallow: /` blocks it (r17 ADVICE). */
  def verdicts(frame: DataFrame, compiled: DataFrame): DataFrame =
    frame
      .withColumn("host",
        lower(regexp_extract(col("canonicalUrl"),
          "^https?://([^/:#]+)", 1)))
      .withColumn("domain",
        regexp_replace(col("host"), "^(www|cdn)\\.", ""))
      .withColumn("path",
        regexp_extract(col("canonicalUrl"),
          "^https?://[^/#]+(/[^#]*)", 1))
      .withColumn("path",
        when(col("path") === "", lit("/")).otherwise(col("path")))
      .withColumn("rv", graft.functions.RobotsMatch.decide(compiled,
        col("domain"), col("path")))
      .withColumn("robots_allowed", coalesce(col("rv.allow"), lit(true)))
      .withColumn("robots_rule", col("rv.pat"))
      .drop("rv", "host")

  /** Filters a frame carrying `canonicalUrl` down to robots-allowed
    * rows — [[verdicts]] without the envelope, for batch callers that
    * only want the survivors. */
  def gate(admits: DataFrame, compiled: DataFrame): DataFrame =
    verdicts(admits, compiled)
      .filter(col("robots_allowed"))
      .drop("robots_allowed", "robots_rule", "path")

  /** The scheduler's dead-letter rows as the reference's versioned
    * `DM|K|2.0` envelopes (`kinesis-processing.js:708-724` via
    * [[graft.operators.DeadLetters.deadMessageEnvelope]]): the bridge
    * from decision rows to an actual dead-letter QUEUE. A pure
    * projection — compose it onto the streaming decision output
    * (then write via any sink) or onto a batch decision table alike.
    * `discardedAt` is caller-supplied (current_timestamp in
    * production, a literal in tests) per the DeadLetters replay
    * discipline; the politeness host doubles as shardOrEventID (it
    * IS the partition key of the crawl pipeline). */
  def deadLetters(decisions: DataFrame, consumerId: Column,
      discardedAt: Column): DataFrame =
    decisions
      .filter(col("kind").isin("disallowed", "drop"))
      .select(graft.operators.DeadLetters.deadMessageEnvelope(
        consumerId, col("host"),
        struct(col("url"), col("tsUs"), col("kind")), col("reason"),
        discardedAt).as("envelope"))

  /** The composed scheduler: raw sightings in, fetch decisions out —
    * including the dead-letter rows (`kind = "disallowed"` /
    * `"drop"`, each with a `reason`). See the object scaladoc for the
    * three phases and their bounds. */
  def schedule(urls: Dataset[StreamingUrlFrontier.SeenUrl],
      rules: DataFrame, ttlUs: Long, gapUs: Long, burst: Int = 1,
      maxPending: Int = 64, maxDelay: String = "10 minutes")
      : Dataset[PolitenessLimiter.FetchDecision] = {
    val compiled = compileRules(rules)
    val admits = StreamingUrlFrontier.frontier(urls, ttlUs, maxDelay)
      .toDF()
      .filter(col("kind") === "admit")
    val judged = verdicts(admits, compiled)
      .select(col("canonicalUrl").as("url"), col("tsUs"),
        col("robots_allowed").as("allowed"),
        when(col("robots_allowed"), lit(""))
          .otherwise(concat(lit("robots:"), col("robots_rule")))
          .as("reason"))
    PolitenessLimiter.limitGated(judged, gapUs, burst, maxPending,
      maxDelay)
  }
}
