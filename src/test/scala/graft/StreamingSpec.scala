package graft

import java.nio.file.Files
import java.util.Base64

import scala.util.Try

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.{ConsumerConfig, TaskStatus}
import graft.streaming.{ConsumerPipeline, MsgState, ResumableConsumer, StreamMsg,
  TaskDef}

class StreamingSpec extends SparkSpec {

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  test("executeChain: order, resume, block-on-failure, discard-at-cap") {
    val msgs = Seq(
      StreamMsg("c", "m2", 2, "{}"), StreamMsg("c", "m1", 1, "{}"),
      StreamMsg("c", "m3", 3, "{}"))
    val failM1: String => Try[Unit] = _ => Try(())
    // prior: m1 completed → skipped; m2 fails → m3 blocked
    val out = ResumableConsumer.executeChain(
      Map("m1" -> MsgState("c", "m1", TaskStatus.Completed, 1)),
      msgs, p => Try(()), maxAttempts = 3)
    assert(out.map(_.msgId) === Seq("m1", "m2", "m3"))
    assert(out.map(_.state) === Seq(TaskStatus.Completed,
      TaskStatus.Completed, TaskStatus.Completed))
    assert(out(0).attempts === 1) // skipped, not re-run

    val failing: String => Try[Unit] =
      p => if (p == "poison") scala.util.Failure(new RuntimeException("boom"))
           else Try(())
    val poisoned = Seq(StreamMsg("c", "m1", 1, "poison"),
      StreamMsg("c", "m2", 2, "{}"))
    val r1 = ResumableConsumer.executeChain(Map.empty, poisoned, failing, 2)
    assert(r1.map(_.state) === Seq(TaskStatus.Failed, TaskStatus.Unstarted))
    val r2 = ResumableConsumer.executeChain(
      r1.map(s => s.msgId -> s).toMap, poisoned, failing, 2)
    assert(r2.map(_.state) === Seq(TaskStatus.Failed, TaskStatus.Unstarted))
    assert(r2.head.attempts === 2)
    val r3 = ResumableConsumer.executeChain(
      r2.map(s => s.msgId -> s).toMap, poisoned, failing, 2)
    // retry budget burned: m1 Discarded stops blocking, m2 completes
    assert(r3.map(_.state) === Seq(TaskStatus.Discarded, TaskStatus.Completed))
  }

  test("foreachBatch pipeline: replay with prior state until discard (e2e)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pipe").toString
    val statePath = s"$dir/batch_state"
    val dlqPath = s"$dir/dead_letters"
    val cfg = ConsumerConfig(maxNumberOfAttempts = 2)

    val batch = Seq(
      ("e1", "shard-0", "pk1", b64("""{"v":1}""")),
      ("e2", "shard-0", "pk2", b64("""{"v":2,"poison":true}""")),
      ("e3", "shard-0", "pk3", b64("""{"v":3}""")),
      ("e4", "shard-1", "pk4", b64("""{"v":4}""")),
      ("e5", "shard-1", "pk5", "%%%not-base64%%%")
    ).toDF("eventID", "shardId", "partitionKey", "data")

    val task: String => Try[Unit] = p =>
      if (p.contains("poison")) scala.util.Failure(new RuntimeException("boom"))
      else Try(())

    // trigger 1: e1 completes, e2 fails, e3 blocked behind it (same
    // shard chain), e4 completes (other shard unaffected), e5 → DRQ
    val r1 = ConsumerPipeline(cfg, task, statePath, dlqPath)(batch, 1L)
    assert(r1.completed === 2 && r1.failed === 1 && r1.blocked === 1)
    assert(r1.unusable === 1 && r1.replay)

    // trigger 2 (replay): e1/e4 skipped (prior state), e2 fails again
    val r2 = ConsumerPipeline(cfg, task, statePath, dlqPath)(batch, 2L)
    assert(r2.failed === 1 && r2.replay)

    // trigger 3: e2 over the cap → Discarded → DMQ; e3 unblocks; done
    val r3 = ConsumerPipeline(cfg, task, statePath, dlqPath)(batch, 3L)
    assert(r3.discarded === 1 && r3.completed === 3 && !r3.replay)

    val letters = spark.read.parquet(dlqPath)
    assert(letters.filter(col("kind") === "DR").count() === 1)
    assert(letters.filter(col("kind") === "DM" &&
      col("envelope").contains("poison")).count() === 1)

    // throwOnReplay: streaming mode fails the trigger
    val fresh = s"$dir/state2"
    intercept[ConsumerPipeline.ReplayBatchException] {
      ConsumerPipeline(cfg, task, fresh, s"$dir/dl2",
        throwOnReplay = true)(batch, 9L)
    }
  }

  test("processAll master task: per-batch execution, resume, replay") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pall").toString
    val cfg = ConsumerConfig(maxNumberOfAttempts = 2)
    val batch = Seq(
      ("e1", "shard-0", "pk1", b64("""{"v":1}""")),
      ("e2", "shard-0", "pk2", b64("""{"v":2}""")),
      ("e3", "shard-1", "pk3", b64("""{"v":3}"""))
    ).toDF("eventID", "shardId", "partitionKey", "data")
    val ok: String => Try[Unit] = _ => Try(())
    StreamingSpec.masterRuns.clear()
    val master: (String, Seq[String]) => Try[Unit] = (soid, msgs) => {
      StreamingSpec.masterRuns.merge(soid, 1, (a, b) => a + b)
      if (soid == "S|shard-0" &&
          StreamingSpec.masterRuns.get("S|shard-0") <= 1)
        scala.util.Failure(new RuntimeException("master boom"))
      else { assert(msgs.nonEmpty); Try(()) }
    }
    val p = ConsumerPipeline(cfg, ok, s"$dir/state", s"$dir/dlq",
      processAll = Some(master)) _
    val r1 = p(batch, 1L)
    assert(r1.processAllFailed === 1 && r1.processAllCompleted === 1)
    assert(r1.replay) // messages all fine, master failure forces replay
    val r2 = p(batch, 2L)
    assert(r2.processAllFailed === 0 && !r2.replay)
    // shard-0 master ran twice (fail+retry); shard-1's completed master
    // was resumed from state on trigger 2, not re-run
    assert(StreamingSpec.masterRuns.get("S|shard-0") === 2)
    assert(StreamingSpec.masterRuns.get("S|shard-1") === 1)
  }

  test("processAll runs only the groups a delivery carries: another " +
      "shard's failed master neither runs nor replays the batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pall-groups").toString
    val cfg = ConsumerConfig(maxNumberOfAttempts = 3)
    def batch(rows: (String, String)*) = rows.map { case (e, shard) =>
      (e, shard, "pk", b64(s"""{"v":"$e"}"""))
    }.toDF("eventID", "shardId", "partitionKey", "data")
    StreamingSpec.masterRuns.clear()
    def runs(soid: String): Int =
      Option(StreamingSpec.masterRuns.get(soid)).fold(0)(_.intValue)
    val master: (String, Seq[String]) => Try[Unit] = (soid, msgs) => {
      StreamingSpec.masterRuns.merge(soid, 1, (a, b) => a + b)
      assert(msgs.nonEmpty)
      if (soid == "S|shard-0" &&
          StreamingSpec.masterRuns.get("S|shard-0") <= 1)
        scala.util.Failure(new RuntimeException("master boom"))
      else Try(())
    }
    val p = ConsumerPipeline(cfg, _ => Try(()), s"$dir/state", s"$dir/dlq",
      processAll = Some(master)) _
    def shard0Master() = spark.read.parquet(s"$dir/state")
      .filter(col("chainKey") === "ALL|S|shard-0")
      .select("state", "attempts").as[(String, Int)].collect().toSeq

    val r1 = p(batch(("e1", "shard-0"), ("e2", "shard-0")), 1L)
    assert(r1.processAllFailed === 1 && r1.replay)
    // shard-1 alone: only its own master runs, and the batch completes
    val r2 = p(batch(("e3", "shard-1")), 2L)
    assert(r2.processAllCompleted === 1 && r2.processAllFailed === 0)
    assert(!r2.replay)
    assert(runs("S|shard-0") === 1 && runs("S|shard-1") === 1)
    assert(shard0Master() === Seq((TaskStatus.Failed, 1)))
    // shard-0 redelivered: its master retries on attempt 2
    val r3 = p(batch(("e1", "shard-0"), ("e2", "shard-0")), 3L)
    assert(r3.processAllCompleted === 1 && r3.processAllFailed === 0)
    assert(!r3.replay)
    assert(runs("S|shard-0") === 2 && runs("S|shard-1") === 1)
    assert(shard0Master() === Seq((TaskStatus.Completed, 2)))
  }

  test("real writeStream.foreachBatch wiring: trigger runs the pipeline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-fb").toString
    val input = MemoryStream[(String, String, String, String)]
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      ConsumerPipeline.BatchResult]()
    val q = input.toDF()
      .toDF("eventID", "shardId", "partitionKey", "data")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        results.add(ConsumerPipeline(ConsumerConfig(), _ => Try(()),
          s"$dir/state", s"$dir/dlq")(batch, id))
        ()
      }
      .start()
    try {
      input.addData(("e1", "s0", "pk", b64("""{"v":1}""")),
        ("e2", "s0", "pk", b64("""{"v":2}""")))
      q.processAllAvailable()
      assert(results.size === 1)
      val r = results.peek()
      assert(r.completed === 2 && !r.replay)
      assert(spark.read.parquet(s"$dir/state").count() === 2)
    } finally q.stop()
  }

  test("pipeline at volume: full sf0.001 events table, clean completion") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vol").toString
    val batch = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_id").cast("string").as("eventID"),
        pmod(col("user_id"), lit(8)).cast("string").as("shardId"),
        col("user_id").cast("string").as("partitionKey"),
        base64(encode(col("props"), "UTF-8")).as("data"))
    val n = batch.count()
    val r = ConsumerPipeline(ConsumerConfig(), _ => Try(()),
      s"$dir/state", s"$dir/dlq")(batch, 1L)
    assert(r.messages === n && r.completed === n)
    assert(r.unusable === 0 && !r.replay)
    // second trigger (redelivery): everything resumes, nothing re-runs
    val r2 = ConsumerPipeline(ConsumerConfig(), _ =>
      scala.util.Failure(new RuntimeException("must not run")),
      s"$dir/state", s"$dir/dlq")(batch, 2L)
    assert(r2.completed === n && !r2.replay)
  }

  test("flatMapGroupsWithState stream: state survives across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamMsg]
    StreamingSpec.flakyCount.set(0)
    // counter lives in a static object: closures are serialized per task,
    // so instance state would be a fresh copy on every executor thread
    val task: String => Try[Unit] = p => {
      if (p == "flaky" && StreamingSpec.flakyCount.incrementAndGet() <= 1)
        scala.util.Failure(new RuntimeException("first try fails"))
      else Try(())
    }
    val out = ResumableConsumer.streamTasks(input.toDS(),
      Seq(TaskDef("processOne", task)), maxAttempts = 5)
    val q = out.writeStream.format("memory").queryName("outcomes")
      .outputMode("update").start()
    try {
      input.addData(StreamMsg("c1", "m1", 1, "flaky"),
        StreamMsg("c1", "m2", 2, "ok"))
      q.processAllAvailable()
      val t1 = spark.table("outcomes").as[MsgState].collect()
        .map(s => s.msgId -> s.state).toMap
      assert(t1("m1") === TaskStatus.Failed)
      assert(t1("m2") === TaskStatus.Unstarted) // blocked behind m1
      // redelivery trigger: m1 retries (succeeds), m2 unblocks
      input.addData(StreamMsg("c1", "m1", 1, "flaky"),
        StreamMsg("c1", "m2", 2, "ok"))
      q.processAllAvailable()
      // update-mode memory sink appends per trigger; the second
      // trigger's rows are everything after the first two
      val t2 = spark.table("outcomes").as[MsgState].collect().drop(2)
        .map(s => s.msgId -> s.state).toMap
      assert(t2("m1") === TaskStatus.Completed)
      assert(t2("m2") === TaskStatus.Completed)
    } finally q.stop()
  }
}

object StreamingSpec {
  val flakyCount = new java.util.concurrent.atomic.AtomicInteger(0)
  val masterRuns = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}
