package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.PolitenessLimiter
import graft.streaming.PolitenessLimiter.{FetchDecision, FetchRequest}

/** Pins [[PolitenessLimiter]] on a deterministic event-time schedule:
  * burst-depth immediate fetches, deferred requests released exactly
  * gapUs apart by watermark-driven timers, queue-overflow drops,
  * per-host independence, and bucket refill after idle. */
class PolitenessLimiterSpec extends SparkSpec {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val g = 10000000L // 10 s spacing

  test("GCRA politeness: burst=2 fetches immediately, deferrals " +
      "release exactly gapUs apart on the watermark, the maxPending+1th " +
      "request drops, hosts are independent, and an idle host's bucket " +
      "refills (event-time timers, RocksDB transformWithState)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[FetchRequest]
    val out = PolitenessLimiter.limit(input.toDS(), gapUs = g,
      burst = 2, maxPending = 2, maxDelay = "1 second")
    val q = out.writeStream.format("memory").queryName("polite_out")
      .outputMode("update").start()
    def events(): Seq[FetchDecision] =
      spark.table("polite_out").as[FetchDecision].collect().toSeq
    def forHost(h: String) = events().filter(_.host == h)
    val t0 = 1000000000L
    try {
      // batch 1: five a.com requests (µs apart — far inside the 10 s
      // gap) + one b.net request, scrambled arrival order
      input.addData(
        FetchRequest("https://a.com/4", t0 + 3000),
        FetchRequest("https://a.com/1", t0),
        FetchRequest("https://b.net/x", t0),
        FetchRequest("https://a.com/5", t0 + 4000),
        FetchRequest("https://a.com/2", t0 + 1000),
        FetchRequest("https://a.com/3", t0 + 2000))
      q.processAllAvailable()
      val a1 = forHost("a.com")
      // burst 2 → /1 and /2 fetch at their own event times
      assert(a1.filter(_.kind == "fetch").map(_.url).sorted ===
        Seq("https://a.com/1", "https://a.com/2"))
      assert(a1.filter(_.kind == "fetch").forall(e => e.releaseUs == e.tsUs))
      // maxPending 2 → /3 and /4 parked (nothing emitted yet), /5 drops
      assert(a1.filter(_.kind == "drop").map(_.url) ===
        Seq("https://a.com/5"))
      assert(a1.size === 3, s"parked deferral emitted early: $a1")
      // b.net is untouched by a.com's queue
      assert(forHost("b.net").map(e => (e.url, e.kind)) ===
        Seq(("https://b.net/x", "fetch")))

      // batches 2-3: watermark past t0 + g (+1 s delay) → /3 releases
      // at its spaced slot t0 + g; /4 (slot t0 + 2g) still parked
      // (two pushes so the timer batch definitely runs)
      input.addData(FetchRequest("https://flush1.net/a", t0 + g + 2000000))
      q.processAllAvailable()
      input.addData(FetchRequest("https://flush1.net/b", t0 + g + 3000000))
      q.processAllAvailable()
      val rel1 = forHost("a.com").filter(_.kind == "release")
      assert(rel1.map(e => (e.url, e.releaseUs)) ===
        Seq(("https://a.com/3", t0 + g)),
        s"expected exactly /3 released at t0+g: $rel1")

      // batches 4-5: watermark past t0 + 2g → /4 releases one full
      // gap after /3 — the spacing contract
      input.addData(FetchRequest("https://flush2.net/a", t0 + 2 * g + 2000000))
      q.processAllAvailable()
      input.addData(FetchRequest("https://flush2.net/b", t0 + 2 * g + 3000000))
      q.processAllAvailable()
      val rel2 = forHost("a.com").filter(_.kind == "release")
      assert(rel2.map(e => (e.url, e.releaseUs)).sorted === Seq(
        ("https://a.com/3", t0 + g), ("https://a.com/4", t0 + 2 * g)))
      assert(rel2.map(_.releaseUs).sorted.sliding(2).forall {
        case Seq(x, y) => y - x == g
        case _ => true
      }, "released slots not gapUs apart")

      // batch 6: after a long idle the bucket has refilled — two
      // back-to-back a.com requests fetch immediately again
      val t1 = t0 + 100 * g
      input.addData(
        FetchRequest("https://a.com/6", t1),
        FetchRequest("https://a.com/7", t1 + 1000))
      q.processAllAvailable()
      val fresh = forHost("a.com").filter(_.tsUs >= t1)
      assert(fresh.map(e => (e.url, e.kind)).sorted === Seq(
        ("https://a.com/6", "fetch"), ("https://a.com/7", "fetch")),
        s"bucket did not refill after idle: $fresh")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("checkpoint restart: parked deferrals and the GCRA tat " +
      "survive a cold stop — a FRESH query over the SAME checkpoint " +
      "defers new work against the restored tat and releases each " +
      "parked request exactly once at its original slot (no " +
      "double-release), the at-least-once contract every stateful " +
      "operator here owes") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import PolitenessLimiterSpec.restartOut
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-polite-restart").toString
    restartOut.clear()
    val input = MemoryStream[FetchRequest]
    // the memory sink refuses checkpoint recovery; collect through
    // foreachBatch into a static buffer (the MultiTaskStreamingSpec
    // restart discipline)
    def startQuery() =
      PolitenessLimiter.limit(input.toDS(), gapUs = g, burst = 1,
          maxPending = 4, maxDelay = "1 second")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[FetchDecision],
            _: Long) =>
          df.collect().foreach(restartOut.add)
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    def aCom() = restartOut.asScala.toSeq.filter(_.host == "a.com")
    val t0 = 2000000000L
    try {
      val q1 = startQuery()
      try {
        // burst 1: /1 fetches (tat -> t0+g); /2 and /3 park at slots
        // t0+g and t0+2g, far beyond the watermark — nothing releases
        // before the stop, so the parked queue lives ONLY in the
        // checkpoint
        input.addData(
          FetchRequest("https://a.com/1", t0),
          FetchRequest("https://a.com/2", t0 + 1000),
          FetchRequest("https://a.com/3", t0 + 2000))
        q1.processAllAvailable()
        assert(aCom().map(e => (e.url, e.kind)) ===
          Seq(("https://a.com/1", "fetch")),
          s"pre-restart emissions wrong: ${aCom()}")
      } finally { q1.stop(); q1.awaitTermination() }

      val q2 = startQuery()
      try {
        // restored tat = t0+3g, so /4 must DEFER to that slot — a
        // lost bucket would fetch it immediately
        input.addData(FetchRequest("https://a.com/4", t0 + 3000))
        q2.processAllAvailable()
        assert(aCom().count(_.kind == "fetch") === 1,
          s"tat lost across restart — a post-restart request " +
            s"fetched inside the spacing window: ${aCom()}")

        // watermark past every slot: /2, /3, /4 release at their
        // ORIGINAL spaced slots, each exactly once
        input.addData(FetchRequest("https://flush.net/a",
          t0 + 3 * g + 2000000))
        q2.processAllAvailable()
        input.addData(FetchRequest("https://flush.net/b",
          t0 + 3 * g + 3000000))
        q2.processAllAvailable()
        val rel = aCom().filter(_.kind == "release")
          .map(e => (e.url, e.releaseUs)).sorted
        assert(rel === Seq(
          ("https://a.com/2", t0 + g),
          ("https://a.com/3", t0 + 2 * g),
          ("https://a.com/4", t0 + 3 * g)),
          s"parked deferrals did not survive restart intact: $rel")
        assert(aCom().map(_.url).distinct.size === aCom().size,
          s"a request was emitted twice across the restart: ${aCom()}")
      } finally q2.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("batchSchedule (closed-form prefix-max GCRA) equals the " +
      "streaming limiter decision-for-decision on identical burst=1 " +
      "input — the audit twin is the SAME schedule, not an " +
      "approximation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val t0 = 4000000000L
    // two hosts, arrivals straddling the 10 s gap: back-to-back
    // bursts (cascading deferrals), a conforming arrival after a
    // quiet stretch, and an arrival landing exactly on the tat
    val script = Seq(
      ("https://a.com/1", t0),
      ("https://a.com/2", t0 + 1000),        // defer -> t0+g
      ("https://a.com/3", t0 + 2000),        // defer -> t0+2g
      ("https://a.com/4", t0 + 3 * g),       // conforming (t >= tat)
      ("https://a.com/5", t0 + 4 * g - 1000),// defer by 1 ms
      ("https://b.net/1", t0 + 500),
      ("https://b.net/2", t0 + 2 * g))       // conforming
    val input = MemoryStream[FetchRequest]
    val q = PolitenessLimiter.limit(input.toDS(), gapUs = g,
        burst = 1, maxPending = 64, maxDelay = "1 second")
      .writeStream.format("memory").queryName("polite_parity")
      .outputMode("update").start()
    try {
      input.addData(script.map { case (u, t) => FetchRequest(u, t) }: _*)
      q.processAllAvailable()
      input.addData(FetchRequest("https://flush.org/x", t0 + 10 * g))
      q.processAllAvailable()
      input.addData(FetchRequest("https://flush.org/y", t0 + 11 * g))
      q.processAllAvailable()
      val streamed = spark.table("polite_parity").as[FetchDecision]
        .collect().toSeq
        .filter(d => d.host == "a.com" || d.host == "b.net")
        .map(d => d.url -> d.releaseUs).toMap
      val batch = PolitenessLimiter.batchSchedule(
          script.toDF("url", "tsUs")
            .withColumn("host", PolitenessLimiter.host(col("url"))),
          gapUs = g, Seq(col("tsUs"), col("url")))
        .select("url", "slot_us").as[(String, Long)]
        .collect().toMap
      assert(streamed.size === script.size,
        s"not every request decided: $streamed")
      assert(streamed === batch,
        s"batch audit diverged from the streaming schedule:\n" +
          s"stream $streamed\nbatch  $batch")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("host() extracts the lowercased politeness key: scheme, port " +
      "and path are not who we are hammering") {
    import spark.implicits._
    val got = Seq(
        "https://A.COM/x", "http://a.com:8080/y#f", "https://b.net/z")
      .toDF("url")
      .select(PolitenessLimiter.host(col("url")).as("h"))
      .as[String].collect().toSeq
    assert(got === Seq("a.com", "a.com", "b.net"))
  }
}

object PolitenessLimiterSpec {
  // decisions collected by the restart test's foreachBatch sink —
  // static so the closure survives serialization AND query restarts
  val restartOut = new java.util.concurrent.ConcurrentLinkedQueue[
    graft.streaming.PolitenessLimiter.FetchDecision]()
}
