package graft

import java.nio.file.Files
import java.util.Base64

import scala.util.{Failure, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{ConsumerConfig, TaskStatus}
import graft.streaming.{ConsumerPipeline, TaskDef, TaskRun}
import graft.streaming.ConsumerPipeline.{BatchResult, ChainMsg}

/** What one `ConsumerPipeline` delivery reports and what it costs: every
  * `BatchResult` field across a first delivery, its replay and the
  * discarding delivery; a Spark-job ceiling per delivery route; no
  * compiled class once the routes are warm; and no cached frame left
  * behind when a delivery throws. */
class ConsumerPipelineSpec extends SparkSpec {

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  // per-key chains with payload ids, keys and seqNos
  private val cfg = ConsumerConfig(sequencingRequired = true,
    sequencingPerKey = true, idPropertyNames = Seq("id"),
    keyPropertyNames = Seq("key"), seqNoPropertyNames = Seq("seq"),
    maxNumberOfAttempts = 2)

  private val poisonTask: String => Try[Unit] = p =>
    if (p.contains("poison")) Failure(new RuntimeException("poison message"))
    else Try(())

  private def batch(rows: (String, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("eventID", "shardId", "partitionKey", "data")
  }

  private def msg(id: String, key: String, seq: Int, extra: String = "") =
    b64(s"""{"id":"$id","key":"$key","seq":$seq$extra}""")

  // m2 is poison and m3 follows it on k1, so m3 stays blocked until m2 is
  // discarded; m4 is on another key; e5 is not base64; m6 has no key.
  private val mixed = Seq(
    ("e1", "shard-0", "k1", msg("m1", "k1", 1)),
    ("e2", "shard-0", "k1", msg("m2", "k1", 2, ""","poison":true""")),
    ("e3", "shard-0", "k1", msg("m3", "k1", 3)),
    ("e4", "shard-1", "k2", msg("m4", "k2", 1)),
    ("e5", "shard-1", "k2", "%%not-base64%%"),
    ("e6", "shard-1", "k3", b64("""{"id":"m6","seq":1}""")))

  private val clean = Seq(
    ("c1", "shard-0", "k1", msg("n1", "k1", 1)),
    ("c2", "shard-0", "k1", msg("n2", "k1", 2)),
    ("c3", "shard-1", "k2", msg("n3", "k2", 1)))

  test("every BatchResult field across the first delivery, the replay " +
      "and the discarding delivery of one mixed batch") {
    val dir = Files.createTempDirectory("graft-result").toString
    val deliver = ConsumerPipeline.multi(cfg,
      Seq(TaskDef("process", poisonTask)),
      s"$dir/state", s"$dir/dlq") _
    val b = batch(mixed: _*)

    // m1, m4 complete; m2 fails; m3 waits behind it
    assert(deliver(b, 1L) === BatchResult(messages = 4, unusable = 1,
      completed = 2, failed = 1, discarded = 0, blocked = 1, replay = true,
      rejected = 1))
    // replay: m1, m4 resume as completed; m2 fails at the cap
    assert(deliver(b, 2L) === BatchResult(messages = 4, unusable = 1,
      completed = 2, failed = 1, discarded = 0, blocked = 1, replay = true,
      rejected = 1))
    // m2 over the cap is discarded, which unblocks m3
    assert(deliver(b, 3L) === BatchResult(messages = 4, unusable = 1,
      completed = 3, failed = 0, discarded = 1, blocked = 0, replay = false,
      rejected = 1))

    // one envelope per bad record or message across the three deliveries
    val letters = spark.read.parquet(s"$dir/dlq")
    assert(letters.filter(col("kind") === "DR").count() === 1)
    val dm = letters.filter(col("kind") === "DM")
      .select("envelope").collect().map(_.getString(0))
    assert(dm.length === 2)
    assert(dm.count(_.contains("poison message")) === 1)
    assert(dm.count(_.contains("m6")) === 1)
  }

  test("batches keyed on eventID: a poison payload delivered twice is " +
      "two chains under one state key, each discarded with one DM") {
    val dir = Files.createTempDirectory("graft-event-keyed").toString
    val deliver = ConsumerPipeline.multi(
      cfg.copy(batchKeyedOnEventID = true),
      Seq(TaskDef("process", poisonTask)),
      s"$dir/state", s"$dir/dlq") _
    // p1 and p2 carry the same payload (a producer retry): the same
    // state key, but each record is its own chain E|<eventID>|k1
    val poison = msg("m2", "k1", 2, ""","poison":true""")
    val b = batch(("p1", "shard-0", "k1", poison),
      ("p2", "shard-0", "k1", poison),
      ("g1", "shard-1", "k2", msg("m4", "k2", 1)))
    def dmCount(): Long =
      if (!Files.exists(java.nio.file.Paths.get(s"$dir/dlq"))) 0L
      else spark.read.parquet(s"$dir/dlq").filter(col("kind") === "DM")
        .count()

    val failing = BatchResult(messages = 3, unusable = 0, completed = 1,
      failed = 2, discarded = 0, blocked = 0, replay = true)
    val discarding = failing.copy(failed = 0, discarded = 2, replay = false)
    assert(deliver(b, 1L) === failing)
    assert(dmCount() === 0)
    assert(deliver(b, 2L) === failing)
    assert(dmCount() === 0)
    // the discarding delivery writes one envelope per chain
    assert(deliver(b, 3L) === discarding)
    assert(dmCount() === 2)
    // a redelivery of the discarded chains writes none
    assert(deliver(b, 4L) === discarding)
    assert(dmCount() === 2)
    val dm = spark.read.parquet(s"$dir/dlq").select("envelope").collect()
      .map(_.getString(0))
    assert(dm.forall(_.contains("poison message")))
    // each chain's envelope names its own batch key
    assert(dm.count(_.contains("\"E|p1\"")) === 1)
    assert(dm.count(_.contains("\"E|p2\"")) === 1)
  }

  test("the chain fold settles verdicts: first rejected reason in " +
      "execution order, newly discarded only on the discarding delivery, " +
      "a repeated message counted once") {
    val registry = Seq(TaskDef("a", _ => Try(())),
      TaskDef("b", _ => Failure(new RuntimeException("b failed"))))
    val m = ChainMsg("S|0", "m1", 1L, "payload", "S|0")
    def fold(prior: Seq[TaskRun], msgs: Seq[ChainMsg]) =
      ConsumerPipeline.foldChain(prior, msgs, registry, maxAttempts = 1)
        .flatMap(_.msg)
    val atCap = Seq(TaskRun("S|0", "m1", "a", TaskStatus.Completed, 1),
      TaskRun("S|0", "m1", "b", TaskStatus.Failed, 1, "b failed"))
    // b is at the cap: the message is discarded on this delivery
    val v = fold(atCap, Seq(m, m))
    assert(v.map(x => (x.verdict, x.reasonRejected, x.newlyDiscarded,
      x.payload, x.first)) === Seq(
      (TaskStatus.Discarded, "b failed", true, "payload", true),
      (TaskStatus.Discarded, "b failed", true, "payload", false)))
    // once discarded, a redelivery is not discarded again
    val discarded = atCap.map(r => if (r.task == "b")
      r.copy(state = TaskStatus.Discarded) else r)
    assert(fold(discarded, Seq(m)).map(x => (x.verdict, x.newlyDiscarded,
      x.payload)) === Seq((TaskStatus.Discarded, false, null)))
    // fresh messages are never discarded on their first delivery
    assert(fold(Nil, Seq(m)).map(_.verdict) === Seq(TaskStatus.Failed))
  }

  /** Spark jobs one delivery runs, counted by job group. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, s"ConsumerPipeline job-count pin: $group", false)
    try body finally sc.clearJobGroup()
    // job data reaches the status store through the async listener bus
    val deadline = System.nanoTime() + 10000000000L
    def jobs() = sc.statusTracker.getJobIdsForGroup(group).length
    var n = jobs()
    var last = -1
    while ((n == 0 || n != last) && System.nanoTime() < deadline) {
      last = n
      Thread.sleep(200)
      n = jobs()
    }
    n
  }

  test("job ceiling per delivery route: clean batch, first delivery " +
      "writing DR and DM letters, replay") {
    val dir = Files.createTempDirectory("graft-jobs").toString
    val registry = Seq(TaskDef("process", poisonTask))
    def deliver(state: String, b: DataFrame, id: Long) =
      ConsumerPipeline.multi(cfg, registry, s"$dir/$state",
        s"$dir/$state-dlq")(b, id)
    // warm the plans once so the pins measure steady-state deliveries
    deliver("warm", batch(mixed: _*), 0L)
    deliver("warm", batch(mixed: _*), 0L)

    val cleanB = batch(clean: _*)
    val mixedB = batch(mixed: _*)
    val cleanJobs = jobsOf("pipeline-clean")(deliver("clean", cleanB, 1L))
    val firstJobs = jobsOf("pipeline-first")(deliver("mixed", mixedB, 1L))
    val replayJobs = jobsOf("pipeline-replay")(deliver("mixed", mixedB, 2L))
    info(s"jobs: clean $cleanJobs, first $firstJobs, replay $replayJobs")
    assert(spark.read.parquet(s"$dir/mixed-dlq").count() === 2,
      "the first delivery should have written one DR and one DM letter")
    // these deliveries run 14, 15 and 16 jobs; each ceiling allows two
    // more, so a changed AQE choice passes but a re-run plan does not
    assert(cleanJobs >= 1 && firstJobs >= 1 && replayJobs >= 1)
    assert(cleanJobs <= 16, s"clean batch ran $cleanJobs jobs")
    assert(firstJobs <= 17, s"first delivery ran $firstJobs jobs")
    assert(replayJobs <= 18, s"replay ran $replayJobs jobs")
  }

  test("a third delivery cycle over the four routes reuses its compiled " +
      "classes (generated code is cached for the life of the JVM)") {
    val root = Files.createTempDirectory("graft-codegen").toString
    val registry = Seq(TaskDef("process", poisonTask))
    // fresh state per cycle: first delivery writing DR and DM letters,
    // its replay, the discarding delivery, and a clean batch
    def cycle(dir: String): Seq[BatchResult] = {
      def deliver(state: String, b: DataFrame, id: Long) =
        ConsumerPipeline.multi(cfg, registry, s"$dir/$state",
          s"$dir/$state-dlq")(b, id)
      val mixedB = batch(mixed: _*)
      Seq(deliver("mixed", mixedB, 1L), deliver("mixed", mixedB, 2L),
        deliver("mixed", mixedB, 3L), deliver("clean", batch(clean: _*), 1L))
    }
    val warm = (1 to 2).map(i => cycle(s"$root/c$i"))
    var third: Seq[BatchResult] = Nil
    val n = compiledDuring { third = cycle(s"$root/c3") }
    assert(third === warm.head, "the cycles took different routes")
    // usually 0. AQE re-plans a delivery from whichever stages finished
    // first, so now and then a cycle meets a plan variant it has not
    // compiled yet (3-4 classes seen). At Spark's default cache size of
    // 100 this cycle compiles 248-283.
    assert(n <= 24L, s"the warm cycle compiled $n classes")
  }

  test("a delivery whose task throws leaves no cached frame behind") {
    val dir = Files.createTempDirectory("graft-leak").toString
    val throwing: String => Try[Unit] =
      _ => throw new IllegalStateException("task threw")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    intercept[Exception] {
      ConsumerPipeline(cfg, throwing, s"$dir/state", s"$dir/dlq")(
        batch(mixed: _*), 1L)
    }
    assert(sc.getPersistentRDDs.size === before,
      "a thrown delivery leaked cached frames")
  }
}
