package perfbench

import java.util.Base64
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model.ConsumerConfig
import graft.streaming.{ConsumerPipeline, TaskDef}

/** One generated batch and its ground truth. */
final case class Batch(index: Int, rows: Seq[Row], normal: Set[String],
    poison: Set[String], invalidEvents: Set[String],
    keylessEvents: Set[String], keylessIds: Set[String])

/** Seeded generator of consumer_small's deliveries: 10 records on 2
  * shards and 4 keys. Every other batch, starting with the first,
  * carries one invalid-base64 record, one keyless message (rejected by
  * identify) and one poison message (its task always fails, so the batch
  * is redelivered until the message is discarded); the other batch is
  * clean. The seed picks keys, positions and payloads, so every seed
  * sends the same mix of routes. Batches must be drawn in order: per-key
  * sequence numbers continue across batches, as on a real stream. */
final class Gen(seed: Long) {
  import Gen._
  private val seqs = new Array[Long](keys)
  private val b64 = Base64.getEncoder

  def batch(b: Int): Batch = {
    val rnd = new Random(seed * 1000003L + b)
    // 0 normal, 1 invalid, 2 keyless, 3 poison
    val kind = new Array[Int](records)
    if (b % cycle == 0)
      rnd.shuffle((0 until records).toVector).take(3).zipWithIndex
        .foreach { case (i, k) => kind(i) = k + 1 }
    val normal, poison, invalid, keylessEv, keylessId =
      mutable.Set.empty[String]
    val rows = (0 until records).map { i =>
      val k = rnd.nextInt(keys)
      seqs(k) += 1
      val id = s"b$b-m$i"
      val eventID = s"b$b-e$i"
      val body = s""""id":"$id","seq":${seqs(k)},"amount":${rnd.nextInt(100000)}"""
      val json = kind(i) match {
        case 2 => s"{$body}"
        case 3 => s"""{$body,"key":"k$k","poison":true}"""
        case _ => s"""{$body,"key":"k$k"}"""
      }
      val data = kind(i) match {
        case 1 => s"%%not-base64-$i"
        case _ => b64.encodeToString(json.getBytes("UTF-8"))
      }
      kind(i) match {
        case 0 => normal += id
        case 1 => invalid += eventID
        case 2 => keylessEv += eventID; keylessId += id
        case 3 => poison += id
      }
      Row(eventID, f"shardId-${k % shards}%012d", s"k$k", data)
    }
    Batch(b, rows, normal.toSet, poison.toSet, invalid.toSet,
      keylessEv.toSet, keylessId.toSet)
  }
}

object Gen {
  val records = 10
  val shards = 2
  val keys = 4
  val cycle = 2
}

/** The benchmark's task: counts its calls; fails on poison messages. */
object Task {
  val calls = new AtomicLong
  val useful = new AtomicLong

  val run: String => Try[Unit] = payload => {
    calls.incrementAndGet()
    if (payload.contains("\"poison\":true"))
      Failure(new RuntimeException("poison message"))
    else {
      useful.incrementAndGet()
      Success(())
    }
  }

  val registry: Seq[TaskDef] = Seq(TaskDef("process", run))
}

/** One delivery's outcome. `finalised` counts records of the batch that
  * this delivery finalised (completed, discarded, dead-lettered); `work`
  * is the Spark work of a traced delivery. */
final case class Call(batch: Int, seconds: Double, finalised: Long,
    threw: Boolean, work: Option[Work])

/** Closed loop of deliveries over one state and dead-letter directory: a
  * batch is redelivered while the pipeline asks for a replay. */
final class Loop(spark: SparkSession, cfg: ConsumerConfig, gen: Gen,
    val stateDir: String, val deadDir: String) {
  val batches = mutable.ArrayBuffer.empty[Batch]
  private var current: Option[(Batch, DataFrame)] = None
  private var done = 0L
  private var deliveries = 0
  private val maxDeliveries = cfg.maxNumberOfAttempts + 2

  def inBatch: Boolean = current.isDefined

  /** Sends the next delivery and times the pipeline call alone, with a
    * listener attached when `traced`. */
  def next(traced: Boolean = false): Call = {
    val (b, df) = current.getOrElse {
      val b = gen.batch(batches.size)
      batches += b
      val df = spark.createDataFrame(b.rows.asJava, Consumer.schema)
      current = Some((b, df))
      done = 0L
      deliveries = 0
      (b, df)
    }
    deliveries += 1
    def send() = ConsumerPipeline.multi(cfg, Task.registry, stateDir,
      deadDir)(df, b.index.toLong)
    Try(Meter.measure(spark.sparkContext, traced)(send())) match {
      case Success((res, secs, work)) =>
        val fin = res.completed + res.discarded + res.unusable + res.rejected
        val call = Call(b.index, secs, fin - done, threw = false, work)
        System.err.println(f"perfbench: batch ${b.index} delivery $deliveries: $secs%.3f s" +
          (if (res.replay) ", replay" else ""))
        done = fin
        if (!res.replay || deliveries >= maxDeliveries) current = None
        call
      case Failure(e) =>
        System.err.println(s"perfbench: delivery of batch ${b.index} threw: $e")
        e.printStackTrace()
        current = None
        Call(b.index, 0.0, 0, threw = true, None)
    }
  }
}

object Consumer {
  val schema: StructType = StructType(Seq("eventID", "shardId",
    "partitionKey", "data").map(StructField(_, StringType)))

  val cfg: ConsumerConfig = ConsumerConfig(
    sequencingRequired = true, sequencingPerKey = true,
    idPropertyNames = Seq("id"), keyPropertyNames = Seq("key"),
    seqNoPropertyNames = Seq("seq"), maxNumberOfAttempts = 2)

  /** Whether the `i`-th delivery of a traced window carries the
    * listener. The window starts on the clean batch, so a cycle is four
    * deliveries: the clean batch, then the first delivery, the replay
    * and the discarding delivery of the batch with the poison message.
    * The pattern repeats over two cycles: traced, traced, untraced,
    * untraced | untraced, untraced, traced, traced. Each route is traced
    * once and sent untraced once, and both halves sit at the same mean
    * position, so a steady drift cancels out of the overhead. */
  private def tracedAt(i: Int): Boolean = {
    val j = i % (2 * 4)
    j < 2 || j >= 6
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
      work: String, windowStart: () => Unit): Outcome = {
    val loop = new Loop(spark, cfg, new Gen(seed),
      s"$work/state", s"$work/dead")
    // Warm-up: the first batch, on the same loop. It sends every route
    // but the clean batch, whose plans are a subset of a first
    // delivery's, so each plan is compiled before timing starts.
    val w0 = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Call]
    while (loop.batches.isEmpty || loop.inBatch)
      warm += loop.next()
    System.err.println(f"perfbench: warm-up ${(System.nanoTime() - w0) / 1e9}%.1f s")
    val warmBatches = loop.batches.size
    val calls = mutable.ArrayBuffer.empty[Call]
    val calls0 = Task.calls.get
    val useful0 = Task.useful.get
    // a traced window ends on a pair of cycles, an untraced one on a
    // cycle, so every run sends the same mix of routes
    val period = Gen.cycle * (if (trace) 2 else 1)
    windowStart()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || loop.inBatch ||
        (loop.batches.size - warmBatches) % period != 0)
      calls += loop.next(traced = trace && tracedAt(calls.size))
    val taskCalls = Task.calls.get - calls0
    val usefulCalls = Task.useful.get - useful0

    val badBatches = check(spark, loop.stateDir, loop.deadDir, loop.batches.toSeq)
    // warm-up deliveries are checked too, so they count as attempted
    val failed = (warm ++ calls).count(c => c.threw || badBatches(c.batch))
    val (traced, untraced) = calls.toSeq.partition(_.work.isDefined)
    val rep = summary(new Report, untraced)
    if (trace) {
      rep.putOverhead(summary(new Report, traced), rep)
      val ws = traced.flatMap(_.work)
      val n = ws.size.toDouble
      rep.put("pipeline.jobs_per_call", ws.map(_.jobs).sum / n)
      rep.put("pipeline.stages_per_call", ws.map(_.stages).sum / n)
      rep.put("pipeline.tasks_per_call", ws.map(_.tasks).sum / n)
      rep.put("pipeline.shuffle_write_bytes_per_call",
        ws.map(_.shuffleWriteBytes).sum / n)
      rep.put("pipeline.executor_run_s_per_call",
        ws.map(_.executorRunS).sum / n)
      rep.put("pipeline.driver_gap_s_per_call",
        traced.map(c => math.max(0.0, c.seconds - c.work.get.jobBusyS)).sum / n)
      rep.put("execute.task_calls", taskCalls.toDouble / calls.size)
      rep.put("execute.useful_ratio",
        if (taskCalls == 0) 0.0 else usefulCalls.toDouble / taskCalls)
      rep.put("replay.deliveries_per_batch",
        calls.size.toDouble / (loop.batches.size - warmBatches))
      val msgs = loop.batches.map(_.rows.size).sum
      rep.put("state.bytes_per_msg", Files.bytes(loop.stateDir) / msgs)
      Layers.run(spark, cfg, seed, work, rep, loop)
    }
    Outcome(warm.size + calls.size, failed, rep)
  }

  private def summary(rep: Report, cs: Seq[Call]): Report = {
    val ok = cs.filterNot(_.threw)
    rep.putCalls(ok.map(_.seconds), ok.map(_.finalised).sum.toDouble)
    rep
  }

  /** Ground truth against what the pipeline persisted; returns the
    * batches that violate it. Each message ends in one state row per
    * task (Completed, or Discarded for poison), each invalid record
    * leaves one Discarded marker and one DR envelope, each keyless
    * message one Rejected marker and one DM envelope, each poison
    * message one DM envelope; nothing else is written. */
  def check(spark: SparkSession, stateDir: String, deadDir: String,
      batches: Seq[Batch]): Set[Int] = {
    val bad = mutable.Set.empty[Int]
    val idOf = """id:(b\d+-m\d+)""".r
    val (states, letters) = persisted(spark, stateDir, deadDir)
    def expectOnce(b: Int, got: Seq[String], want: Set[String], what: String): Unit =
      if (got.size != want.size || got.toSet != want) {
        bad += b
        System.err.println(s"perfbench: batch $b: $what: got ${got.size} " +
          s"(${got.toSet.size} distinct), want ${want.size}")
      }
    val rowsByBatch = states.groupBy(r => batchOf(r._2))
    val lettersByBatch = letters.groupBy(r => batchOf(r._2))
    (rowsByBatch.keySet ++ lettersByBatch.keySet)
      .filterNot(b => b >= 0 && b < batches.size).foreach { b =>
        System.err.println(s"perfbench: rows for unknown batch $b")
        bad += -1
      }
    batches.foreach { bt =>
      val rows = rowsByBatch.getOrElse(bt.index, Array.empty).toSeq
      val ls = lettersByBatch.getOrElse(bt.index, Array.empty).toSeq
      def tasksIn(task: String, state: String) = rows
        .filter(r => r._3 == task && r._4 == state)
        .map(r => idOf.findFirstMatchIn(r._2).map(_.group(1)).getOrElse(r._2))
      expectOnce(bt.index, tasksIn("process", "Completed"), bt.normal, "completed")
      expectOnce(bt.index, tasksIn("process", "Discarded"), bt.poison, "discarded")
      expectOnce(bt.index, tasksIn("unusableRecord", "Discarded"),
        bt.invalidEvents, "unusable markers")
      expectOnce(bt.index, tasksIn("rejectedMessage", "Rejected"),
        bt.keylessEvents, "rejected markers")
      val expectedRows = bt.normal.size + bt.poison.size +
        bt.invalidEvents.size + bt.keylessEvents.size
      if (rows.size != expectedRows) {
        bad += bt.index
        System.err.println(s"perfbench: batch ${bt.index}: ${rows.size} " +
          s"state rows, want $expectedRows")
      }
      expectOnce(bt.index, ls.filter(_._1 == "DR").map(_._2),
        bt.invalidEvents, "DR envelopes")
      expectOnce(bt.index, ls.filter(_._1 == "DM").map(_._2),
        bt.keylessIds ++ bt.poison, "DM envelopes")
    }
    if (bad.contains(-1)) batches.map(_.index).toSet else bad.toSet
  }

  /** Batch index in a generated message or event id, or -1. */
  def batchOf(s: String): Int = Option(s).flatMap("""b(\d+)-""".r
    .findFirstMatchIn(_)).map(_.group(1).toInt).getOrElse(-1)

  /** What a state and a dead-letter directory hold: state rows as
    * (chainKey, msgId, task, state, attempts), letters as (kind, the
    * record's eventID or the message's id). */
  def persisted(spark: SparkSession, stateDir: String, deadDir: String)
      : (Array[(String, String, String, String, Int)], Array[(String, String)]) = {
    val states = spark.read.parquet(stateDir)
      .select("chainKey", "msgId", "task", "state", "attempts").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4)))
    val letters = if (Files.bytes(deadDir) == 0) Array.empty[(String, String)]
      else spark.read.parquet(deadDir)
        .select(col("kind"), coalesce(
          get_json_object(get_json_object(col("envelope"), "$.record"),
            "$.eventID"),
          get_json_object(get_json_object(col("envelope"), "$.message"),
            "$.id")))
        .collect().map(r => (r.getString(0), r.getString(1)))
    (states, letters)
  }
}

/** Filesystem helpers for the run's scratch directories. */
object Files {
  def bytes(path: String): Double = {
    val f = new java.io.File(path)
    if (!f.exists()) 0.0
    else if (f.isFile) f.length().toDouble
    else Option(f.listFiles()).toSeq.flatten
      .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
      .map(c => bytes(c.getPath)).sum
  }
}
