package graft

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{StreamingCms, StreamingHdr, StreamingTopK}

/** Pins the state release of the closed-hour fold behind the hourly
  * streaming operators, read from the state operator's progress: while
  * an hour is open and nothing has been emitted the store holds one
  * row per open group; once the watermark passes the hour end and the
  * groups emit, their rows are gone. The hour can only close on a
  * later event, which opens a group of its own, so "released" is
  * pinned as: after the close the store holds exactly that one flush
  * group. One case per grouping shape: by hour, by (hour, salt) and
  * by (key, hour, salt). */
class ClosedHoursSpec extends SparkSpec {

  private val HourUs = StreamingTopK.HourUs

  private def stateRows(q: StreamingQuery): Long =
    q.lastProgress.stateOperators(0).numRowsTotal

  /** Feeds `open` (one hour), checks the store holds its groups and
    * nothing was emitted, then feeds the two `flush` rows (one later
    * group) one trigger apart and checks every open group emitted and
    * only the flush group's row is left. `groupOf` names an emitted
    * row's group. */
  private def releases[I: Encoder, O](name: String,
      mk: Dataset[I] => Dataset[O], open: Seq[I], flush: Seq[I],
      groupOf: O => Any): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[I]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[O]()
    val q = mk(input.toDS()).writeStream
      .foreachBatch { (df: Dataset[O], _: Long) =>
        df.collect().foreach(emitted.add)
      }
      .outputMode("update").start()
    try {
      input.addData(open: _*)
      q.processAllAvailable()
      val openRows = stateRows(q)
      assert(emitted.isEmpty, s"$name: open hour emitted $emitted")
      assert(openRows > 0, s"$name: open hour holds no state")
      flush.foreach { f =>
        input.addData(f)
        q.processAllAvailable()
      }
      import scala.jdk.CollectionConverters._
      val groups = emitted.asScala.map(groupOf).toSet
      assert(groups.size.toLong === openRows,
        s"$name: $openRows open groups but ${groups.size} emitted")
      assert(stateRows(q) === 1L,
        s"$name: closed hour's state rows were not released")
    } finally q.stop()
  }

  test("by-hour groups (StreamingTopK.report) hold state while open " +
      "and release it when the hour closes and emits") {
    import spark.implicits._
    import StreamingTopK.{TopKRow, TypedEvent}
    val t0 = 3000000L * HourUs
    releases[TypedEvent, TopKRow]("topk",
      StreamingTopK.report(_, k = 2, maxDelay = "1 second"),
      Seq("a", "b", "a", "c").map(t => TypedEvent(t, t0 + 1000)),
      Seq(TypedEvent("z", t0 + HourUs + 2000000),
        TypedEvent("z", t0 + HourUs + 3000000)),
      _.hourBucket)
  }

  test("(hour, salt) groups (StreamingCms.cells) hold state while " +
      "open and release it when the hour closes and emits") {
    import spark.implicits._
    import StreamingCms.{KeyedEvent, SaltedCell}
    val t0 = 3000010L * HourUs
    releases[KeyedEvent, SaltedCell]("cms",
      StreamingCms.cells(_, salts = 4, maxDelay = "1 second"),
      (1 to 200).map(i => KeyedEvent(s"k-$i", t0 + 1000)),
      Seq(KeyedEvent("flush", t0 + HourUs + 2000000),
        KeyedEvent("flush", t0 + HourUs + 3000000)),
      c => (c.hourBucket, c.salt))
  }

  test("(key, hour, salt) groups (StreamingHdr.keyedCells) hold state " +
      "while open and release it when the hour closes and emits") {
    import spark.implicits._
    import StreamingHdr.{KeyedMeasured, KeyedSaltedBucket}
    val t0 = 3000020L * HourUs
    releases[KeyedMeasured, KeyedSaltedBucket]("hdr",
      StreamingHdr.keyedCells(_, salts = 4, maxDelay = "1 second"),
      (1 to 200).map(i =>
        KeyedMeasured(s"src-${i % 3}", i.toLong * 977L, t0 + 1000)),
      Seq(KeyedMeasured("flush", 1L, t0 + HourUs + 2000000),
        KeyedMeasured("flush", 1L, t0 + HourUs + 3000000)),
      b => (b.key, b.hourBucket, b.salt))
  }
}
