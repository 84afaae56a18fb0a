package graft

import java.nio.file.Files
import java.util.Base64

import scala.util.{Failure, Try}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.{ConsumerConfig, TaskStatus}
import graft.streaming.{ConsumerPipeline, MsgState, ResumableConsumer, StreamMsg, TaskDef, TaskRun}

/** The reference's CENTRAL multi-task scenario, end-to-end across
  * replays: a 2-root registry (one root with a sub-task) where one task
  * hits the attempts cap while a sibling still has budget — the message
  * must NOT discard yet and the batch must keep replaying
  * (`/root/reference/test/kinesis-consumer.test.js:2761-2878`), with
  * revive/resume round-trips per node
  * (`/root/reference/test/batch.test.js:301-731`). */
class MultiTaskStreamingSpec extends SparkSpec {
  import MultiTaskStreamingSpec._
  import scala.jdk.CollectionConverters._

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def registry: Seq[TaskDef] = Seq(
    TaskDef("t1", counted("t1", p => p.contains("t1bad")),
      Seq(TaskDef("c1", counted("c1", p =>
        p.contains("flaky") && runs.get("c1|" + p) <= 1)))),
    TaskDef("t2", counted("t2", p => p.contains("t2bad"))))

  test("multi-task registry across 3 replays: partial-over-limit keeps " +
      "replaying, completed nodes skip, carried nodes never run under a " +
      "rejected parent") {
    import spark.implicits._
    runs.clear()
    val dir = Files.createTempDirectory("graft-multi").toString
    val cfg = ConsumerConfig(maxNumberOfAttempts = 2)
    // m1: t1 ok, c1 flaky (fails once then succeeds), t2 ALWAYS fails
    //     ⇒ t2 alone burns its budget while c1 still has budget
    // m2: t1 ALWAYS fails ⇒ Discarded at cap; its sub-task c1 must stay
    //     carried (never executed) under the rejected parent
    val batch = Seq(
      ("e1", "shard-0", "pk1", b64("""{"v":"m1 flaky t2bad"}""")),
      ("e2", "shard-1", "pk2", b64("""{"v":"m2 t1bad"}"""))
    ).toDF("eventID", "shardId", "partitionKey", "data")
    val p = ConsumerPipeline.multi(cfg, registry, s"$dir/state",
      s"$dir/dlq") _

    // trigger 1: every root runs; m1's c1 and t2 fail, m2's t1 fails
    val r1 = p(batch, 1L)
    assert(r1.failed === 2 && r1.replay)
    // trigger 2 (replay): finalised nodes resume, failed nodes retry —
    // m1's c1 now succeeds, t2 fails again (attempts 2 = cap)
    val r2 = p(batch, 2L)
    assert(r2.failed === 2 && r2.replay)
    // trigger 3: m1's t2 is at-cap ⇒ Discarded; ALL m1 nodes finalised
    // with one rejected ⇒ message Discarded → DMQ. m2's t1 is at-cap ⇒
    // Discarded but its carried c1 stays Unstarted ⇒ m2 remains blocked
    // and keeps the batch replaying (must NOT discard m2).
    val r3 = p(batch, 3L)
    assert(r3.discarded === 1 && r3.blocked === 1 && r3.replay)

    // completed work never re-ran: m1's t1 once, c1 exactly twice
    // (fail + success); t2 twice (its budget); m2's t1 twice; m2's c1
    // NEVER (carried under its rejected parent)
    assert(runs.get("t1|" + payload1) === 1)
    assert(runs.get("c1|" + payload1) === 2)
    assert(runs.get("t2|" + payload1) === 2)
    assert(runs.get("t1|" + payload2) === 2)
    assert(!runs.containsKey("c1|" + payload2))

    // exactly one DMQ envelope (m1), with t2's REAL failure reason
    val dm = spark.read.parquet(s"$dir/dlq").filter(col("kind") === "DM")
    assert(dm.count() === 1)
    assert(dm.filter(col("envelope").contains("m1") &&
      col("envelope").contains("t2 failed")).count() === 1)

    // per-node state rows: m2's tree is Discarded-parent + Unstarted
    // carried child, m1's nodes all finalised
    val state = spark.read.parquet(s"$dir/state")
    val m2 = state.filter(col("msgId") === "e2")
      .select("task", "state").as[(String, String)].collect().toMap
    assert(m2("t1") === TaskStatus.Discarded)
    assert(m2("t1/c1") === TaskStatus.Unstarted)
    assert(m2("t2") === TaskStatus.Completed)
    val m1 = state.filter(col("msgId") === "e1")
      .select("task", "state").as[(String, String)].collect().toMap
    assert(m1 === Map("t1" -> TaskStatus.Completed,
      "t1/c1" -> TaskStatus.Completed, "t2" -> TaskStatus.Discarded))
  }

  test("streamTasks: registry with sub-task across triggers via " +
      "flatMapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    runs.clear()
    val input = MemoryStream[StreamMsg]
    val out = ResumableConsumer.streamTasks(input.toDS(), registry,
      maxAttempts = 2)
    val q = out.writeStream.format("memory").queryName("mt_outcomes")
      .outputMode("update").start()
    try {
      // c1 fails on first attempt, t1/t2 succeed
      input.addData(StreamMsg("c0", "m1", 1, "streamy flaky"))
      q.processAllAvailable()
      val t1 = spark.table("mt_outcomes").as[MsgState].collect()
      assert(t1.map(s => s.msgId -> s.state).toMap === Map(
        "m1" -> TaskStatus.Failed))
      // redelivery: completed t1/t2 resume from GroupState (not re-run),
      // c1 retries and succeeds ⇒ verdict Completed
      input.addData(StreamMsg("c0", "m1", 1, "streamy flaky"))
      q.processAllAvailable()
      val t2 = spark.table("mt_outcomes").as[MsgState].collect().drop(1)
      assert(t2.map(s => s.msgId -> s.state).toMap === Map(
        "m1" -> TaskStatus.Completed))
      assert(runs.get("t1|streamy flaky") === 1)
      assert(runs.get("t2|streamy flaky") === 1)
      assert(runs.get("c1|streamy flaky") === 2)
    } finally q.stop()
  }

  test("streamTasks on RocksDB: registry with flaky sub-task resumes " +
      "from store state across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    runs.clear()
    val input = MemoryStream[StreamMsg]
    val out = ResumableConsumer.streamTasks(input.toDS(), registry,
      maxAttempts = 2)
    val q = out.writeStream.format("memory").queryName("mt_rocks_outcomes")
      .outputMode("update").start()
    try {
      // trigger 1: t1/t2 succeed, c1 fails once ⇒ verdict Failed
      input.addData(StreamMsg("c0", "m1", 1, "rocks flaky"))
      q.processAllAvailable()
      val t1 = spark.table("mt_rocks_outcomes").as[MsgState].collect()
      assert(t1.map(s => s.msgId -> s.state).toMap ===
        Map("m1" -> TaskStatus.Failed))
      // trigger 2 (redelivery): completed t1/t2 resume from the RocksDB
      // store (not re-run), c1 retries and succeeds ⇒ Completed
      input.addData(StreamMsg("c0", "m1", 1, "rocks flaky"))
      q.processAllAvailable()
      val t2 = spark.table("mt_rocks_outcomes").as[MsgState].collect()
        .drop(1)
      assert(t2.map(s => s.msgId -> s.state).toMap ===
        Map("m1" -> TaskStatus.Completed))
      assert(runs.get("t1|rocks flaky") === 1)
      assert(runs.get("t2|rocks flaky") === 1)
      assert(runs.get("c1|rocks flaky") === 2)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streamTasks checkpoint restart: a FRESH query over the SAME " +
      "checkpoint dir resumes attempts and completed roots (simulated " +
      "JVM restart)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    runs.clear()
    val ckpt = Files.createTempDirectory("graft-mt-restart").toString
    // t1 always succeeds; c1 fails on its first attempt only — so the
    // ONLY way trigger 2 can flip m1 to Completed without re-running t1
    // is by reloading both task states from the checkpoint, exactly the
    // reference's prior-DynamoDB-state-honored-after-cold-start
    // contract (kinesis-consumer.test.js:746-847)
    val restartRegistry = Seq(
      TaskDef("t1", counted("t1", _ => false),
        Seq(TaskDef("c1", counted("c1", p =>
          p.contains("flaky") && runs.get("c1|" + p) <= 1)))))
    val input = MemoryStream[StreamMsg]
    // the memory sink refuses checkpoint recovery, so collect verdicts
    // through foreachBatch (recoverable) into a static buffer — the
    // same sink family ConsumerPipeline itself targets
    restartOut.clear()
    def startQuery() =
      ResumableConsumer.streamTasks(input.toDS(), restartRegistry,
          maxAttempts = 2)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[MsgState],
            _: Long) =>
          df.collect().foreach(restartOut.add)
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    val q1 = startQuery()
    try {
      input.addData(StreamMsg("c0", "m1", 1, "restart flaky"))
      q1.processAllAvailable()
      assert(restartOut.asScala.map(s => s.msgId -> s.state).toMap ===
        Map("m1" -> TaskStatus.Failed))
    } finally {
      // cold stop — the in-memory operator state dies with the query;
      // only the checkpoint (offsets + state store snapshots) survives
      q1.stop()
      q1.awaitTermination()
    }
    val q2 = startQuery()
    try {
      input.addData(StreamMsg("c0", "m1", 1, "restart flaky"))
      q2.processAllAvailable()
      val out = restartOut.asScala.toSeq
      val fin = out.filter(s => s.msgId == "m1" &&
        s.state == TaskStatus.Completed)
      assert(fin.nonEmpty, "no Completed verdict after restart: " +
        out.mkString(", "))
      // attempts CONTINUED from the pre-restart store (1 → 2), and
      // the completed root was resumed, not re-executed
      assert(fin.map(_.attempts).max === 2)
      assert(runs.get("t1|restart flaky") === 1)
      assert(runs.get("c1|restart flaky") === 2)
    } finally q2.stop()
  }

  test("streamTasks store-state eviction: finalised entries drop after " +
      "retainTriggers, unfinalised survive, post-eviction redelivery " +
      "re-executes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    runs.clear()
    // "m1 ok" completes (finalised ⇒ evictable once untouched past the
    // window); "stuck bad" keeps failing under a high cap (Failed ⇒
    // unfinalised ⇒ must NEVER evict)
    val input = MemoryStream[StreamMsg]
    val out = ResumableConsumer.streamTasks(input.toDS(),
      Seq(TaskDef("t1", counted("t1", p => p.contains("bad")))),
      maxAttempts = 100, retainTriggers = 2)
    val q = out.writeStream.format("memory").queryName("mt_evict")
      .outputMode("update").start()
    try {
      input.addData(StreamMsg("c0", "m1", 1, "m1 ok"),
        StreamMsg("c0", "stuck", 2, "stuck bad"))
      q.processAllAvailable()
      assert(runs.get("t1|m1 ok") === 1)
      assert(runs.get("t1|stuck bad") === 1)
      // four more triggers on the same chain advance the generation;
      // m1 and stuck are not redelivered, so m1 (finalised) ages out of
      // the retainTriggers=2 window while stuck must survive eviction
      (2 to 5).foreach { i =>
        input.addData(StreamMsg("c0", s"f$i", 10L + i, s"f$i ok"))
        q.processAllAvailable()
      }
      // redeliver both: m1's state was evicted ⇒ it re-executes from
      // scratch (the documented at-least-once trade); stuck's state
      // survived ⇒ its attempts CONTINUE from the stored count
      input.addData(StreamMsg("c0", "m1", 1, "m1 ok"),
        StreamMsg("c0", "stuck", 2, "stuck bad"))
      q.processAllAvailable()
      assert(runs.get("t1|m1 ok") === 2)
      assert(runs.get("t1|stuck bad") === 2)
      val stuckAttempts = spark.table("mt_evict").as[MsgState].collect()
        .filter(_.msgId == "stuck").map(_.attempts).max
      assert(stuckAttempts === 2) // prior attempt retained, not reset
    } finally q.stop()
  }

  test("bounded streaming state: evictFinalised caps entries across " +
      "150+ triggers, unfinalised never evicted") {
    val retain = 10L
    def node(id: String, state: String) =
      Map("t" -> TaskRun("c", id, "t", state, 1))
    // one permanently-blocked message from gen 1 (Unstarted node —
    // e.g. carried under a discarded parent) + one finalised message
    // per trigger, never redelivered again
    var entries = Map("stuck" -> (Map(
      "t1" -> TaskRun("c", "stuck", "t1", TaskStatus.Discarded, 2),
      "t1/c1" -> TaskRun("c", "stuck", "t1/c1", TaskStatus.Unstarted, 0)),
      1L))
    (1L to 160L).foreach { gen =>
      entries += (s"done-$gen" -> (node(s"done-$gen", TaskStatus.Completed),
        gen))
      entries = ResumableConsumer.evictFinalised(entries, gen, retain)
      // bound: the one live message + at most retain+1 recent finalised
      assert(entries.size <= retain + 2,
        s"gen $gen: ${entries.size} entries exceeds bound")
      assert(entries.contains("stuck"), s"gen $gen evicted a live message")
    }
    // steady state: exactly retain+1 finalised generations survive
    assert(entries.size === retain + 2)
    assert(entries.contains("done-160") && !entries.contains("done-100"))
  }
}

object MultiTaskStreamingSpec {
  val payload1 = """{"v":"m1 flaky t2bad"}"""
  val payload2 = """{"v":"m2 t1bad"}"""
  // task-execution counters keyed by "task|payload" — static because
  // closures serialize per task, so instance state would be a fresh
  // copy on every executor thread
  val runs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  // verdicts collected by the restart test's foreachBatch sink — static
  // so the closure survives serialization AND query restarts
  val restartOut =
    new java.util.concurrent.ConcurrentLinkedQueue[MsgState]()

  /** A task fn that counts its executions and fails when `bad(payload)`
    * (evaluated AFTER the count, so flakiness can key off attempt #). */
  def counted(name: String, bad: String => Boolean): String => Try[Unit] =
    p => {
      runs.merge(s"$name|$p", 1, (a, b) => a + b)
      if (bad(p)) Failure(new RuntimeException(s"$name failed"))
      else Try(())
    }
}
