package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingSkew
import graft.streaming.StreamingSkew.{HourUs, SkewEvent}

/** Pins the streaming skew report against the batch
  * `shard_skew_report` formulation on the same events: every
  * (hour, shard, n_events, permille) row emitted by the live path
  * must equal the batch aggregate's on the sf0.001 events table — fed
  * through a MemoryStream in chunks whose arrival order scrambles
  * event time across triggers (counts are commutative, so the pin is
  * that watermark-driven CLOSE, not arrival order, decides when a row
  * finalizes), with each row emitted exactly once.
  */
class StreamingSkewSpec extends SparkSpec {

  test("streaming skew rows equal the batch per-(hour, shard) " +
      "aggregate on sf0.001 events, exactly once, across " +
      "event-time-scrambled triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(concat(lit("S|"), pmod(col("user_id"), lit(4))).as("shard"),
        expr("ts div 1000").as("ts_us"))
      .as[(String, Long)].collect()
      .map(e => SkewEvent(e._1, e._2))
    assert(ev.nonEmpty)

    val src = MemoryStream[SkewEvent]
    val q = StreamingSkew.report(src.toDS())
      .writeStream.format("memory").queryName("sskew_out")
      .outputMode("update").start()
    try {
      // time-sorted chunks, reversed within each chunk: arrival order
      // is locally scrambled but every event stays inside the 1h
      // watermark horizon
      val sorted = ev.sortBy(_.tsUs)
      val chunks = sorted.grouped(math.max(1, sorted.length / 5 + 1))
        .map(_.reverse).toSeq
      chunks.foreach { c => src.addData(c.toSeq); q.processAllAvailable() }
      // flush: advance the watermark far past the last real hour end
      val flushTs = ev.map(_.tsUs).max + 5 * HourUs
      src.addData(SkewEvent("S|flush", flushTs))
      q.processAllAvailable()
      src.addData(SkewEvent("S|flush", flushTs + 5 * HourUs))
      q.processAllAvailable()

      val streamed = spark.table("sskew_out")
        .filter(col("shardId") =!= "S|flush")
        .select("hourBucket", "shardId", "nEvents", "permille")
        .as[(Long, String, Long, Long)].collect()

      val byHourShard = ev.groupBy(e => (e.tsUs / HourUs, e.shardId))
        .view.mapValues(_.length.toLong).toMap
      val hourTotals = byHourShard.groupBy(_._1._1)
        .view.mapValues(_.values.sum).toMap
      val batch = byHourShard.map { case ((hour, shard), n) =>
        (hour, shard, n, n * 1000L / hourTotals(hour))
      }.toSet

      assert(batch.size > 4, "degenerate fixture: a single hour bucket " +
        "would not exercise multi-hour close")
      assert(streamed.toSet === batch,
        s"missing=${(batch -- streamed.toSet).take(3)} " +
          s"extra=${(streamed.toSet -- batch).take(3)}")
      // exactly-once: every (hour, shard) row emitted on close, never
      // re-emitted on a later trigger
      assert(streamed.length === batch.size,
        s"rows re-emitted or dropped: ${streamed.length} vs ${batch.size}")
    } finally q.stop()
  }

  test("an hour emits only when the watermark passes its end, and " +
      "in-horizon stragglers still count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[SkewEvent]
    val q = StreamingSkew.report(src.toDS(), maxDelay = "1 hour")
      .writeStream.format("memory").queryName("sskew_late")
      .outputMode("update").start()
    val h0 = 1000000L * HourUs // hour bucket 1000000
    try {
      src.addData(SkewEvent("a", h0), SkewEvent("a", h0 + 1L),
        SkewEvent("b", h0 + 2L))
      q.processAllAvailable()
      assert(spark.table("sskew_late").count() === 0,
        "emitted before the watermark closed the hour")
      // straggler for the SAME hour, inside the horizon (watermark is
      // h0+2 − 1h, far below h0): must fold into the final counts
      src.addData(SkewEvent("b", h0 + 3L))
      q.processAllAvailable()
      // push the watermark past the hour end: close + emit
      src.addData(SkewEvent("c", h0 + 3 * HourUs))
      q.processAllAvailable()
      src.addData(SkewEvent("c", h0 + 6 * HourUs))
      q.processAllAvailable()
      val rows = spark.table("sskew_late")
        .filter(col("hourBucket") === 1000000L)
        .select("shardId", "nEvents", "permille")
        .as[(String, Long, Long)].collect().toSet
      assert(rows === Set(("a", 2L, 500L), ("b", 2L, 500L)),
        s"closed-hour rows wrong: $rows")
    } finally q.stop()
  }
}
