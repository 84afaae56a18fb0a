package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Sessions

/** Pins [[Sessions.gapSessions]] on a live stream: sessions emit in
  * append mode only once the watermark passes their end (no further
  * event can extend them), within-gap events merge across micro-batches,
  * and session state is evicted rather than accumulating — the shared
  * batch/streaming definition the `sessionize` query uses. */
object StreamingSessionSpec {
  /** foreachBatch target for the restart case — static so the closure
    * stays serializable and both query incarnations append here. */
  val restartOut = new java.util.concurrent.ConcurrentLinkedQueue[
    (Long, Long, Long, Long)]()
}

class StreamingSessionSpec extends SparkSpec {

  test("sessions merge across micro-batches and emit on watermark close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user, epoch-second)
    val events = input.toDS().toDF("user", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
      .withWatermark("ts", "5 seconds")
    val out = Sessions.gapSessions(
      events, timeCol = "ts", keyCol = "user", gap = "10 seconds",
      aggs = Seq(count(lit(1)).as("n_events")))
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    def emitted(): Seq[(Long, Long, Long, Long)] =
      spark.table("sess_out")
        .select(col("user"), unix_timestamp(col("session_start")),
          unix_timestamp(col("session_end")), col("n_events"))
        .as[(Long, Long, Long, Long)].collect().toSeq
    try {
      val t0 = 1000000L
      // batch 1: two events 4s apart — one open session, nothing emits
      // (watermark still before its end)
      input.addData((1L, t0), (1L, t0 + 4))
      q.processAllAvailable()
      assert(emitted().isEmpty)

      // batch 2: an event 8s after the last one extends the SAME
      // session across the micro-batch boundary (8 < 10 gap)
      input.addData((1L, t0 + 12))
      q.processAllAvailable()
      assert(emitted().isEmpty)

      // batch 3: a far-future event pushes the watermark past the
      // session end → the merged 3-event session emits, end = last+gap
      input.addData((2L, t0 + 100))
      q.processAllAvailable()
      assert(emitted() === Seq((1L, t0, t0 + 12 + 10, 3L)))
    } finally q.stop()
  }

  test("checkpoint restart: an OPEN session resumes from state and " +
      "merges a post-restart event (simulated JVM restart)") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-sess-restart").toString
    StreamingSessionSpec.restartOut.clear()
    def startQuery() = {
      val events = input.toDS().toDF("user", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
        .withWatermark("ts", "5 seconds")
      Sessions.gapSessions(
          events, timeCol = "ts", keyCol = "user", gap = "10 seconds",
          aggs = Seq(count(lit(1)).as("n_events")))
        .select(col("user"), unix_timestamp(col("session_start")).as("s"),
          unix_timestamp(col("session_end")).as("e"), col("n_events"))
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.as[(Long, Long, Long, Long)].collect()
              .foreach(StreamingSessionSpec.restartOut.add)
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    }
    val t0 = 2000000L
    val q1 = startQuery()
    try {
      // an OPEN 2-event session, nothing emitted yet
      input.addData((1L, t0), (1L, t0 + 4))
      q1.processAllAvailable()
      assert(StreamingSessionSpec.restartOut.isEmpty)
    } finally { q1.stop(); q1.awaitTermination() }

    // cold restart: only the checkpoint (offsets + session state)
    // survives. The post-restart event lands 8s after the last
    // pre-restart one — it can only merge into a 3-event session if
    // the open session was RECOVERED; a fresh query would emit a
    // 1-event session instead.
    val q2 = startQuery()
    try {
      input.addData((1L, t0 + 12), (2L, t0 + 100))
      q2.processAllAvailable()
      assert(StreamingSessionSpec.restartOut.asScala.toSet ===
        Set((1L, t0, t0 + 22, 3L)))
    } finally q2.stop()
  }
}
