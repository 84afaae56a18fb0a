package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{CrawlScheduler, PolitenessLimiter, StreamingUrlFrontier}
import graft.streaming.PolitenessLimiter.FetchDecision
import graft.streaming.StreamingUrlFrontier.SeenUrl

/** Pins [[CrawlScheduler]] — the frontier → robots gate → politeness
  * pipeline composed into ONE streaming query — on a single scripted
  * event-time schedule: variant storms suppress before the gate,
  * disallowed paths never reach the limiter, a wildcard re-allow
  * pierces a literal disallow, ruleless domains default to allowed,
  * and the politeness phase fetches/defers/drops exactly as if driven
  * alone. The batch-side [[CrawlScheduler.gate]] verdict is also
  * pinned equal to the robots_wildcard most-specific-match rule. */
class CrawlSchedulerSpec extends SparkSpec {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val g = 10000000L // 10 s politeness spacing

  private def rulesDf = {
    import spark.implicits._
    Seq(
      ("a.com", "/", true),
      ("a.com", "/private/", false),
      ("a.com", "/private/pub*", true), // wildcard pierce (longer)
      ("b.net", "/", true))
      .toDF("domain", "pattern", "allow")
  }

  test("end-to-end scripted schedule: suppress -> gate -> " +
      "fetch/defer/drop/disallow counts come out exactly right, with " +
      "the deferral releasing at its GCRA slot on the watermark and " +
      "every dead-letter row carrying its reason envelope") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val t0 = 3000000000L
    val input = MemoryStream[SeenUrl]
    val out = CrawlScheduler.schedule(input.toDS(), rulesDf,
      ttlUs = 3600000000L, gapUs = g, burst = 1, maxPending = 1,
      maxDelay = "1 second")
    val q = out.writeStream.format("memory").queryName("crawl_out")
      .outputMode("update").start()
    def decisions(): Seq[FetchDecision] =
      spark.table("crawl_out").as[FetchDecision].collect().toSeq
        .filterNot(_.host == "d.org") // watermark-flush traffic
    try {
      input.addData(
        // admit + allow + token available -> fetch
        SeenUrl("https://a.com/page1", t0),
        // same canonical (case/port/fragment variants) -> frontier
        // suppresses it BEFORE the gate: no second decision row
        SeenUrl("https://A.COM:443/page1#f", t0 + 1000),
        // admit, robots-disallowed -> dead-letter decision row naming
        // the winning rule; consumes NO politeness token
        SeenUrl("https://a.com/private/secret", t0 + 2000),
        // admit, wildcard re-allow pierces the /private/ disallow;
        // a.com's token is spent -> parks at slot t0 + g
        SeenUrl("https://a.com/private/pub1", t0 + 3000),
        // admit, allowed, queue full (maxPending = 1) -> drop
        SeenUrl("https://a.com/page2", t0 + 4000),
        // independent host -> fetch
        SeenUrl("https://b.net/q", t0 + 5000),
        // no rules for c.org -> RFC default allow -> fetch
        SeenUrl("https://c.org/x", t0 + 6000))
      q.processAllAvailable()
      val d1 = decisions()
      assert(d1.filter(_.kind == "fetch")
        .map(e => (e.url, e.releaseUs)).sorted === Seq(
          ("https://a.com/page1", t0),
          ("https://b.net/q", t0 + 5000),
          ("https://c.org/x", t0 + 6000)),
        s"wrong immediate fetches: $d1")
      assert(d1.filter(_.kind == "drop").map(e => (e.url, e.reason)) ===
        Seq(("https://a.com/page2", "queue_overflow")),
        s"wrong drops: $d1")
      assert(d1.filter(_.kind == "disallowed")
        .map(e => (e.url, e.reason)) ===
        Seq(("https://a.com/private/secret", "robots:/private/")),
        s"wrong disallowed envelopes: $d1")
      assert(!d1.exists(e => e.url.contains("secret") &&
        e.kind != "disallowed"),
        "a robots-disallowed URL consumed a politeness decision")
      assert(d1.count(_.url == "https://a.com/page1") === 1,
        "a suppressed frontier variant produced a second decision")
      assert(d1.size === 5, s"unexpected extra decisions: $d1")
      // the disallowed pass-through consumed no token: page2 dropped
      // because the ONE pending slot held the pierce, not the secret
      assert(d1.filter(e => e.kind == "fetch" || e.kind == "release")
        .forall(_.reason == ""),
        s"a conforming decision carried a dead-letter reason: $d1")

      // advance the watermark past t0 + g on an unrelated host: the
      // parked pierce releases at EXACTLY its GCRA slot, once
      input.addData(SeenUrl("https://d.org/f1", t0 + g + 2000000))
      q.processAllAvailable()
      input.addData(SeenUrl("https://d.org/f2", t0 + g + 3000000))
      q.processAllAvailable()
      val rel = decisions().filter(_.kind == "release")
      assert(rel.map(e => (e.url, e.releaseUs)) ===
        Seq(("https://a.com/private/pub1", t0 + g)),
        s"wrong releases: $rel")
      assert(decisions().size === 6,
        s"decision set drifted: ${decisions()}")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("checkpoint restart of the COMPOSED pipeline: both stateful " +
      "phases recover from one checkpoint — the frontier keeps " +
      "suppressing variants of a pre-restart admit, and the limiter " +
      "defers new work against the restored tat and releases parked " +
      "work exactly once at its original slot") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import CrawlSchedulerSpec.restartOut
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-crawl-restart").toString
    restartOut.clear()
    val input = MemoryStream[SeenUrl]
    def startQuery() =
      CrawlScheduler.schedule(input.toDS(), rulesDf,
          ttlUs = 3600000000L, gapUs = g, burst = 1, maxPending = 4,
          maxDelay = "1 second")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[FetchDecision],
            _: Long) =>
          df.collect().foreach(restartOut.add)
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    def aCom() = restartOut.asScala.toSeq.filter(_.host == "a.com")
    val t0 = 5000000000L
    try {
      val q1 = startQuery()
      try {
        input.addData(
          SeenUrl("https://a.com/page1", t0),
          // robots-disallowed: its dead-letter envelope must be
          // emitted exactly ONCE across the restart below
          SeenUrl("https://a.com/private/secret", t0 + 500),
          SeenUrl("https://a.com/page2", t0 + 1000))
        q1.processAllAvailable()
        // /page1 fetched; /secret enveloped; /page2 parked at slot
        // t0+g (only in the checkpoint once we stop)
        assert(aCom().map(e => (e.url, e.kind)).sorted === Seq(
          ("https://a.com/page1", "fetch"),
          ("https://a.com/private/secret", "disallowed")),
          s"pre-restart decisions wrong: ${aCom()}")
      } finally { q1.stop(); q1.awaitTermination() }

      val q2 = startQuery()
      try {
        input.addData(
          // variant of the pre-restart admit: the FRONTIER's state
          // must suppress it — a lost admit would re-admit and emit a
          // spurious second decision for page1's canonical
          SeenUrl("https://A.COM:443/page1#frag", t0 + 2000),
          // variant of the pre-restart DISALLOWED admit: suppressed
          // the same way — a lost admit would double its envelope
          SeenUrl("https://A.COM/private/secret#z", t0 + 2500),
          // new URL: the LIMITER's restored tat (t0+2g) must defer it
          SeenUrl("https://a.com/page3", t0 + 3000))
        q2.processAllAvailable()
        assert(aCom().count(_.kind == "fetch") === 1,
          s"frontier or limiter state lost across restart: ${aCom()}")
        assert(aCom().count(_.kind == "disallowed") === 1,
          s"dead-letter envelope double-written across restart: " +
            s"${aCom()}")

        input.addData(SeenUrl("https://d.org/f1", t0 + 2 * g + 2000000))
        q2.processAllAvailable()
        input.addData(SeenUrl("https://d.org/f2", t0 + 2 * g + 3000000))
        q2.processAllAvailable()
        val rel = aCom().filter(_.kind == "release")
          .map(e => (e.url, e.releaseUs)).sorted
        assert(rel === Seq(
          ("https://a.com/page2", t0 + g),
          ("https://a.com/page3", t0 + 2 * g)),
          s"releases did not survive the restart intact: $rel")
        assert(aCom().map(_.url).distinct.size === aCom().size,
          s"a decision was emitted twice across the restart: ${aCom()}")
      } finally q2.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("gate() on a batch frame applies robots_wildcard's " +
      "most-specific-match: literal block, wildcard pierce, anchored " +
      "patterns, ruleless default-allow") {
    import spark.implicits._
    val urls = Seq(
      "https://a.com/ok.html",
      "https://a.com/private/secret",
      "https://a.com/private/pub7",
      "https://www.a.com/private/x", // www strips to a.com
      "https://c.org/anything")
      .toDF("canonicalUrl")
      .withColumn("tsUs", lit(0L))
    val got = CrawlScheduler.gate(urls,
        CrawlScheduler.compileRules(rulesDf))
      .select("canonicalUrl").as[String].collect().toSeq.sorted
    assert(got === Seq(
      "https://a.com/ok.html",
      "https://a.com/private/pub7",
      "https://c.org/anything"), s"gate verdicts wrong: $got")
  }

  test("deadLetters() wraps exactly the dead-letter decision kinds " +
      "in the reference's DM|K|2.0 envelope, round-trippable through " +
      "DeadLetters.parseEnvelope with the reason intact") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val decisions = Seq(
      FetchDecision("a.com", "https://a.com/ok", 1000L, 1000L, "fetch"),
      FetchDecision("a.com", "https://a.com/private/x", 2000L, 2000L,
        "disallowed", "robots:/private/"),
      FetchDecision("b.net", "https://b.net/burst", 3000L, 3000L,
        "drop", "queue_overflow"),
      FetchDecision("a.com", "https://a.com/later", 4000L, 9000L,
        "release")).toDS().toDF()
    val msgType = StructType(Seq(StructField("url", StringType),
      StructField("tsUs", LongType), StructField("kind", StringType)))
    val parsed = CrawlScheduler.deadLetters(decisions,
        lit("crawler-1"), lit("2026-08-15T00:00:00Z"))
      .select(graft.operators.DeadLetters.parseEnvelope(col("envelope"),
        StringType, msgType).as("e"))
      .select("e.ver", "e.shardOrEventID", "e.message.url",
        "e.message.kind", "e.reasonRejected")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3), r.getString(4))).toSeq.sorted
    assert(parsed === Seq(
      ("DM|K|2.0", "a.com", "https://a.com/private/x", "disallowed",
        "robots:/private/"),
      ("DM|K|2.0", "b.net", "https://b.net/burst", "drop",
        "queue_overflow")),
      s"envelopes wrong or conforming decisions leaked in: $parsed")
  }

  // RFC 9309: an empty path matches as '/'
  test("robots patterns match _ and % literally, and a path-less URL " +
      "as path '/'") {
    import spark.implicits._
    val rules = Seq(
      ("e.io", "/", true),
      ("e.io", "/wp_admin/", false),     // '_' must stay literal
      ("e.io", "/cache%20dir/", false),  // '%' must stay literal
      ("f.co", "/", false))              // domain-wide disallow
      .toDF("domain", "pattern", "allow")
    val urls = Seq(
      "https://e.io/wp_admin/x",   // literal match -> disallowed
      "https://e.io/wpXadmin/x",   // '_' as wildcard would block this
      "https://e.io/cache%20dir/y", // literal match -> disallowed
      "https://e.io/cacheXXXdir/y", // '%' as wildcard would block this
      "https://f.co",              // path-less: empty path means '/'
      "https://f.co/x")
      .toDF("canonicalUrl")
      .withColumn("tsUs", lit(0L))
    val got = CrawlScheduler.gate(urls,
        CrawlScheduler.compileRules(rules))
      .select("canonicalUrl").as[String].collect().toSeq.sorted
    assert(got === Seq(
      "https://e.io/cacheXXXdir/y",
      "https://e.io/wpXadmin/x"), s"gate verdicts wrong: $got")
  }

  // the dead-letter reason string cannot drift across runs or replays
  test("equal-specificity robots ties resolve to the smallest matching " +
      "pattern") {
    import spark.implicits._
    // each domain has two disallow rules of EQUAL spec (2·3 + 0 = 6)
    // that both match its URL; '/' allow is the lower-spec default.
    // The lexicographically smallest pattern wins: '*' < 'b' and
    // '%' < '*'.
    val rules = Seq(
      ("g.com", "/ab", false),
      ("g.com", "/a*", false),
      ("g.com", "/", true),
      ("h.com", "/a*", false),
      ("h.com", "/a%", false),
      ("h.com", "/", true)).toDF("domain", "pattern", "allow")
    val urls = Seq("https://g.com/ab/x", "https://h.com/a%25x")
      .toDF("canonicalUrl")
      .withColumn("tsUs", lit(0L))
    (1 to 5).foreach { _ =>
      val got = CrawlScheduler.verdicts(urls,
          CrawlScheduler.compileRules(rules))
        .select("canonicalUrl", "robots_allowed", "robots_rule")
        .as[(String, Boolean, String)].collect().sorted.toSeq
      assert(got === Seq(
        ("https://g.com/ab/x", false, "/a*"),
        ("https://h.com/a%25x", false, "/a%")),
        s"tie verdict or winner drifted: $got")
    }
  }
}

object CrawlSchedulerSpec {
  // decisions collected by the restart test's foreachBatch sink —
  // static so the closure survives serialization AND query restarts
  val restartOut = new java.util.concurrent.ConcurrentLinkedQueue[
    graft.streaming.PolitenessLimiter.FetchDecision]()
}
