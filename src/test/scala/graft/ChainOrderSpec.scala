package graft

import java.nio.file.Files
import java.util.Base64
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.ConsumerConfig
import graft.operators.{Batching, Decode, Identify}
import graft.streaming.{ConsumerPipeline, TaskDef}

/** The consumer's chain fold sorts each chain itself, by
  * [[Identify.chainOrder]]. It must run every chain's messages in the
  * order `Identify.sequence`'s `seq_rn` gives the same rows, with ties on
  * `seq_rn` (every message of an unsequenced chain) broken by msgId. */
class ChainOrderSpec extends SparkSpec {

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  // Every Q1 sort type, with equal sort keys under distinct spellings
  // (zero-padded integers, trailing float zeros, a date and its midnight)
  // and values that repeat, so eventID has ties to break.
  private val seqValues = Seq("3000", "0003000", "20000000000000000000002",
    "12345678901234567890123456789012345678901234567890123456", "-30",
    "-5", "-0005", "0", "1.5", "1.50", "-2.25", "1e3", "2017-01-02",
    "2017-01-02T00:00:00Z", "2017-01-02T10:00:00Z", "2016-12-31", "abc",
    "Abc", "zZz", "7", "007", "0.5", "3000", "-5", "1.5", "abc")

  private val configs = Seq(
    "per-key" -> ConsumerConfig(sequencingRequired = true,
      sequencingPerKey = true, keyPropertyNames = Seq("key"),
      seqNoPropertyNames = Seq("seq")),
    "per-shard" -> ConsumerConfig(sequencingRequired = true,
      seqNoPropertyNames = Seq("seq", "sub")),
    "unsequenced" -> ConsumerConfig(sequencingRequired = false),
    // the event seqNo is the eventID, so the eventIDs carry the values
    "default event seqNo" -> ConsumerConfig(sequencingRequired = true))

  /** A batch of `n` messages over two shards and three keys (no key
    * holds `|`, so every key tuple is its own chain). */
  private def batch(rnd: Random, n: Int, eventSeqNo: Boolean): DataFrame = {
    import spark.implicits._
    val ids =
      if (eventSeqNo) rnd.shuffle(seqValues.distinct).take(n)
      else rnd.shuffle((0 until n).map(i => f"e$i%03d"))
    ids.map { e =>
      def pick = seqValues(rnd.nextInt(seqValues.length))
      (e, s"shard-${rnd.nextInt(2)}", "pk", b64(
        s"""{"tag":"$e","key":"k${rnd.nextInt(3)}","seq":"$pick",""" +
          s""""sub":"$pick"}"""))
    }.toDF("eventID", "shardId", "partitionKey", "data")
  }

  /** Each chain's eventIDs in `Identify.sequence`'s order. */
  private def expected(cfg: ConsumerConfig, b: DataFrame): Seq[Seq[String]] = {
    import spark.implicits._
    val recordJson = to_json(struct(col("eventID"), col("shardId"),
      col("partitionKey"), col("data")))
    val decoded = Decode.extractJsonMessages(b, col("data"))
      .withColumn("shardOrEventID",
        Batching.shardOrEventID(cfg, col("shardId"), col("eventID")))
    val usable = Identify.idsKeysSeqNos(cfg, decoded, col("message"),
        lit(null).cast("string"), recordJson, col("eventID"),
        lit(null).cast("int"))
      .filter(col("reason_unusable").isNull && col("reason_rejected").isNull)
    val chain = if (cfg.sequencingPerKey) Seq("shardOrEventID", "key")
      else Seq("shardOrEventID")
    Identify.sequence(cfg, usable, col("shardOrEventID"), col("message"),
        lit(null).cast("string"), recordJson, col("eventID"), col("eventID"))
      .select(concat_ws("/", chain.map(col): _*), col("seq_rn"),
        col("eventID"))
      .as[(String, Int, String)].collect().toSeq.groupBy(_._1).values
      .map(_.sortBy(r => (r._2, r._3)).map(_._3)).toSeq
  }

  for ((name, cfg) <- configs)
    test(s"$name: the fold runs each chain in Identify.sequence's order") {
      val rnd = new Random(name.hashCode)
      val tag = "\"tag\":\"([^\"]*)\"".r.unanchored
      val eventSeqNo = cfg.sequencingRequired && cfg.seqNoPropertyNames.isEmpty
      (1 to 4).foreach { round =>
        val b = batch(rnd, 20, eventSeqNo)
        val dir = Files.createTempDirectory("graft-chain-order").toString
        ChainOrderSpec.ran.clear()
        val r = ConsumerPipeline.multi(cfg,
          Seq(TaskDef("record", ChainOrderSpec.record)),
          s"$dir/state", s"$dir/dlq")(b, round.toLong)
        assert(r.completed === 20 && !r.replay)
        val ran = ChainOrderSpec.ran.asScala.toSeq.map {
          case tag(e) => e
        }
        // one chain runs in one task, so the shared log keeps its order
        expected(cfg, b).foreach { chain =>
          val members = chain.toSet
          assert(ran.filter(members) === chain, s"round $round")
        }
        assert(ran.length === 20)
      }
    }
}

object ChainOrderSpec {
  /** Payloads in the order the tasks ran them: in local mode every task
    * runs in this JVM. */
  val ran = new ConcurrentLinkedQueue[String]()

  val record: String => Try[Unit] = p => Try { ran.add(p); () }
}
