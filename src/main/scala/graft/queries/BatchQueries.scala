package graft.queries

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.model.ConsumerConfig
import graft.operators.{Batching, DeadLetters, Sequencing, TaskStates}
import graft.sources.{StateStore, Tables}
import graft.streaming.{ResumableConsumer, StreamMsg, TaskDef, TaskRun}

/** Output row of the `task_multi` oracle query — the encoder the final
  * select is checked against: one row per (message, task-tree node)
  * after a multi-task execution pass, plus the message-level verdict. */
final case class TaskMultiRow(event_id: Long, task: String, state: String,
    attempts: Int, verdict: String)

/** Deterministic scaffolding for `task_multi`: a 2-root registry (one
  * root with a sub-task) whose run outcomes and PRIOR persisted node
  * states derive purely from the message payload `"k|u"`, so a SQL
  * oracle can re-derive the post-execution states independently. */
private[queries] object TaskMulti {
  import graft.model.TaskStatus._

  private def ku(p: String): (Long, Long) = {
    val a = p.split('|')
    require(a.length == 2, s"task_multi payload must be 'k|u', got '$p'")
    (a(0).toLong, a(1).toLong)
  }
  val run1: String => Try[Unit] = p => {
    val (k, _) = ku(p)
    if (k % 17 == 0) Failure(new RuntimeException("t1 boom")) else Success(())
  }
  val runC: String => Try[Unit] = p => {
    val (_, u) = ku(p)
    if (u % 13 == 0) Failure(new RuntimeException("c1 boom")) else Success(())
  }
  val run2: String => Try[Unit] = p => {
    val (k, u) = ku(p)
    if ((k + u) % 19 == 0) Failure(new RuntimeException("t2 boom"))
    else Success(())
  }

  /** Synthesized prior state per node (the replayed-batch scenario):
    * covers finalised-success, finalised-rejected, retryable-failure,
    * at-cap, in-flight and absent priors across the three paths. */
  def prior(m: StreamMsg): Map[String, TaskRun] = {
    val (k, u) = ku(m.payload)
    var out = Map.empty[String, TaskRun]
    def t(path: String, st: String, at: Int): Unit =
      out += path -> TaskRun(m.chainKey, m.msgId, path, st, at)
    (k % 5) match {
      case 1 => t("t1", Completed, 1)
      case 2 => t("t1", Failed, 1)
      case 3 => t("t1", Rejected, 1)
      case 4 => t("t1", Failed, 2)
      case _ => ()
    }
    (u % 4) match {
      case 1 => t("t1/c1", Completed, 1)
      case 2 => t("t1/c1", Failed, 1)
      case 3 => t("t1/c1", Started, 0)
      case _ => ()
    }
    ((k + u) % 4) match {
      case 1 => t("t2", Succeeded, 1)
      case 2 => t("t2", Failed, 2)
      case 3 => t("t2", TimedOut, 1)
      case _ => ()
    }
    out
  }
}

/** Queries for batch identity (Q7/S6), the task-state machine
  * (T2/T6/T7/T8), set-splitting counts (§2.5/§2.7), dead-letter
  * envelopes (S4/S5) and state upsert (S2/S3).
  *
  * Task states are SYNTHESIZED deterministically from events columns so
  * the DuckDB oracle can derive the expected post-transition states
  * independently — the oracle re-implements the state machine in SQL
  * and must land on byte-identical results.
  */
object BatchQueries {

  private val cfg = ConsumerConfig()

  private val finalised = graft.model.TaskStatus.finalisedFamily.toSeq
    .map(s => s"'$s'").sorted.mkString("(", ",", ")")
  private val rejectedF = graft.model.TaskStatus.rejectedFamily.toSeq
    .map(s => s"'$s'").sorted.mkString("(", ",", ")")

  val all: Map[String, Q] = Map(

    // Q7 + S6: batch key strings and partition-key fallback chain
    // (blank record key falls back to the streamConsumerId).
    "batch_key" -> { (s, dir) =>
      val scid = Batching.streamConsumerId(lit("events"), lit("graft:dev"))
      val soid = Batching.shardOrEventID(cfg,
        pmod(col("user_id"), lit(4)).cast("string"), col("event_id"))
      val recordKey = when(col("event_type") === "error", lit(""))
        .otherwise(col("user_id").cast("string"))
      Tables.events(s, dir)
        .select(col("event_id"),
          scid.as("streamConsumerId"),
          soid.as("shardOrEventID"),
          Batching.partitionKey(recordKey, scid).as("partition_key"))
        .orderBy("event_id")
    },

    // T2+T8 revive/abandon, T6 discard-over-limit, T7 timeout rollback:
    // two synthesized tasks per message ('legacyTask' is absent from the
    // registry), swept revive → discard → timeout.
    "task_lifecycle" -> { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("int")
      def mk(name: org.apache.spark.sql.Column,
          state: org.apache.spark.sql.Column,
          attempts: org.apache.spark.sql.Column) = struct(
        name.as("name"), name.as("path"), lit("processOne").as("kind"),
        state.as("state"),
        lit(null).cast("string").as("error"),
        lit(null).cast("string").as("reason"),
        attempts.as("attempts"), attempts.as("totalAttempts"),
        lit(null).cast("string").as("began"),
        lit(null).cast("long").as("took"))
      val t1 = mk(lit("processOne"),
        element_at(array(lit("Unstarted"), lit("Started"), lit("Failed"),
          lit("Succeeded"), lit("Rejected"), lit("TimedOut")),
          pmod(k, lit(6)) + 1),
        pmod(k, lit(12)))
      val t2 = mk(
        when(pmod(col("user_id"), lit(2)) === 0, lit("legacyTask"))
          .otherwise(lit("processAll")),
        element_at(array(lit("Started"), lit("Completed"), lit("Failed")),
          pmod(col("user_id"), lit(3)).cast("int") + 1),
        pmod(col("user_id"), lit(11)).cast("int"))
      val e = Tables.events(s, dir).withColumn("tasks", array(t1, t2))
      val swept = TaskStates.timeoutRunning(
        TaskStates.discardOverLimit(
          TaskStates.reviveAndAbandon(col("tasks"),
            Seq("processOne", "processAll")),
          cfg.maxNumberOfAttempts))
      e.withColumn("swept", swept)
        .select(col("event_id"),
          col("swept")(0).getField("state").as("t1_state"),
          col("swept")(0).getField("attempts").as("t1_attempts"),
          col("swept")(1).getField("state").as("t2_state"),
          col("swept")(1).getField("attempts").as("t2_attempts"),
          Batching.isIncomplete(col("swept")).as("incomplete"),
          Batching.isRejected(col("swept")).as("rejected"))
        .orderBy("event_id")
    },

    // F1–F3 + §2.7: per-shard structural counts over a decode split
    // (every 7th record unusable) with simulated rejection/incompletion
    // and per-key chain heads.
    "batch_counts" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .withColumn("shard_id",
          concat(lit("S|"), pmod(col("user_id"), lit(4)).cast("string")))
        .withColumn("usable", pmod(col("event_id"), lit(7)) =!= 0)
      val seq = Sequencing.perKey(e, col("shard_id"),
        Seq(col("user_id"), col("usable")), Seq(expr("ts div 1000")),
        col("event_id"))
      Batching.counts(seq, Seq(col("shard_id")), col("usable"),
          col("event_type") === "error",
          col("event_type") === "purchase",
          col("seq_rn") === 1)
        .orderBy("shard_id")
    },

    // S4/S5: versioned dead-letter envelopes — unusable records → DR,
    // rejected messages → DM, as canonical JSON.
    "dead_letters" -> { (s, dir) =>
      val scid = Batching.streamConsumerId(lit("events"), lit("graft:dev"))
      val soid = concat(lit("S|"), pmod(col("user_id"), lit(4)).cast("string"))
      val at = lit("2026-08-12T00:00:00Z")
      val k = get_json_object(col("props"), "$.k").cast("int")
      val unusable = pmod(col("event_id"), lit(7)) === 0
      val rejected = col("event_type") === "error"
      Tables.events(s, dir)
        .withColumn("kind",
          when(unusable, lit("DR")).when(rejected, lit("DM")))
        .filter(col("kind").isNotNull)
        .select(col("event_id"), col("kind"),
          when(unusable, DeadLetters.deadRecordEnvelope(scid, soid,
              struct(col("event_id"), col("user_id")),
              lit("invalid base64 data"), at))
            .otherwise(DeadLetters.deadMessageEnvelope(scid, soid,
              struct(k.as("k")), lit("task rejected"), at))
            .as("envelope"))
        .orderBy("event_id")
    },

    // T4: master/slave propagation — a finalised processAll master
    // state fans out to open slave tasks; finalised slaves keep their
    // own state.
    "task_master_slave" -> { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("int")
      val master = when(col("event_type") === "purchase", lit("Succeeded"))
        .when(col("event_type") === "error", lit("Rejected"))
        .otherwise(lit("Started"))
      def slave(name: String, state: org.apache.spark.sql.Column) = struct(
        lit(name).as("name"), lit(name).as("path"),
        lit("processAll").as("kind"), state.as("state"),
        lit(null).cast("string").as("error"),
        lit(null).cast("string").as("reason"),
        lit(1).as("attempts"), lit(1).as("totalAttempts"),
        lit(null).cast("string").as("began"),
        lit(null).cast("long").as("took"))
      val s1 = slave("t1", element_at(array(lit("Unstarted"), lit("Started"),
        lit("Failed"), lit("Succeeded"), lit("Rejected"), lit("TimedOut")),
        pmod(k, lit(6)) + 1))
      val s2 = slave("t2", element_at(array(lit("Started"), lit("Completed"),
        lit("Failed")), pmod(col("user_id"), lit(3)).cast("int") + 1))
      Tables.events(s, dir)
        .withColumn("master_state", master)
        .withColumn("slaves", TaskStates.propagateMasterToSlaves(
          array(s1, s2), col("master_state"),
          lit("Propagated from master")))
        .select(col("event_id"), col("master_state"),
          col("slaves")(0).getField("state").as("s1_state"),
          col("slaves")(1).getField("state").as("s2_state"))
        .orderBy("event_id")
    },

    // T5: sub-task trees — a root is fully finalised only when its
    // whole subtree is; unrelated trees don't affect it.
    "task_subtree" -> { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("int")
      def node(path: String, state: org.apache.spark.sql.Column) = struct(
        lit(path.split("/").last).as("name"), lit(path).as("path"),
        lit("processOne").as("kind"), state.as("state"),
        lit(null).cast("string").as("error"),
        lit(null).cast("string").as("reason"),
        lit(1).as("attempts"), lit(1).as("totalAttempts"),
        lit(null).cast("string").as("began"),
        lit(null).cast("long").as("took"))
      val root = node("p", element_at(array(lit("Unstarted"), lit("Started"),
        lit("Failed"), lit("Succeeded"), lit("Rejected"), lit("TimedOut")),
        pmod(k, lit(6)) + 1))
      val childA = node("p/a", element_at(array(lit("Unstarted"),
        lit("Completed"), lit("Succeeded"), lit("Failed"), lit("Rejected")),
        pmod(k, lit(5)) + 1))
      val childB = node("p/b", element_at(array(lit("Completed"),
        lit("Succeeded"), lit("Discarded"), lit("Started")),
        pmod(col("user_id"), lit(4)).cast("int") + 1))
      val other = node("q", lit("Failed")) // unrelated tree
      Tables.events(s, dir)
        .withColumn("tasks", array(root, childA, childB, other))
        .select(col("event_id"),
          TaskStates.subtreeFullyFinalised(col("tasks"), "p")
            .as("p_finalised"),
          TaskStates.subtreeFullyFinalised(col("tasks"), "p/a")
            .as("pa_finalised"))
        .orderBy("event_id")
    },

    // §1.2 DynamoDB stream flavor: attribute-typed map decode
    // ({"S":...} / {"N":...} / {"BOOL":...}).
    "dynamo_attrs" -> { (s, dir) =>
      val k = get_json_object(col("props"), "$.k")
      val img = concat(
        lit("{\"k\":{\"N\":\""), k,
        lit("\"},\"user\":{\"S\":\"u"), col("user_id").cast("string"),
        lit("\"},\"flag\":{\"BOOL\":"),
        when(col("value") > 100, lit("true")).otherwise(lit("false")),
        lit("}}"))
      Tables.events(s, dir)
        .withColumn("img", img)
        .select(col("event_id"),
          graft.operators.DynamoAttrs.attrLong(col("img"), "k").as("k_num"),
          graft.operators.DynamoAttrs.attrString(col("img"), "user")
            .as("user_s"),
          graft.operators.DynamoAttrs.attrBool(col("img"), "flag")
            .as("flag"),
          graft.operators.DynamoAttrs.attrValue(col("img"), "k")
            .as("k_untyped"))
        .orderBy("event_id")
    },

    // S4/S5 round-trip: the envelopes written above parse back to
    // typed fields (dead-letter queues are consumable streams).
    "dead_letter_parse" -> { (s, dir) =>
      val scid = Batching.streamConsumerId(lit("events"), lit("graft:dev"))
      val soid = concat(lit("S|"), pmod(col("user_id"), lit(4)).cast("string"))
      val at = lit("2026-08-12T00:00:00Z")
      val k = get_json_object(col("props"), "$.k").cast("int")
      val unusable = pmod(col("event_id"), lit(7)) === 0
      val rejected = col("event_type") === "error"
      val env = when(unusable, DeadLetters.deadRecordEnvelope(scid, soid,
          struct(col("event_id"), col("user_id")),
          lit("invalid base64 data"), at))
        .otherwise(DeadLetters.deadMessageEnvelope(scid, soid,
          struct(k.as("k")), lit("task rejected"), at))
      val recType = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType)))
      val msgType = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))
      val parsed = DeadLetters.parseEnvelope(env, recType, msgType)
      Tables.events(s, dir)
        .filter(unusable || rejected)
        .withColumn("p", parsed)
        .select(col("event_id"),
          col("p.ver").as("ver"),
          col("p.shardOrEventID").as("shardOrEventID"),
          coalesce(col("p.reasonUnusable"), col("p.reasonRejected"))
            .as("reason"),
          coalesce(col("p.record.event_id"),
            col("p.message.k").cast("long")).as("payload_ref"))
        .orderBy("event_id")
    },

    // Event-time tumbling windows in batch mode (Spark's window(), the
    // same op a streaming query would group by): per-hour, per-type
    // rollups.
    "windowed_counts" -> { (s, dir) =>
      val tsCol = timestamp_micros(expr("ts div 1000"))
      Tables.events(s, dir)
        .groupBy(window(tsCol, "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type")
    },

    // Skew mitigation: two-phase salted aggregation over the (hot)
    // event_type key — must equal the plain GROUP BY bit-for-bit
    // (decimal partials keep the sums exact across combination orders).
    "salted_counts" -> { (s, dir) =>
      graft.operators.Salting.saltedCounts(
          Tables.events(s, dir), col("event_type"),
          col("value").cast("decimal(18,2)"), col("event_id"),
          saltBuckets = 16)
        .select(col("key").as("event_type"), col("n_rows"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("event_type")
    },

    // T3: multi-task registry execution — 2-root registry (t1 with
    // sub-task c1, plus t2) over synthesized per-node PRIOR states,
    // maxAttempts=2 so the at-cap Discarded branch is live. Exercises
    // finalised-skip, sub-task exec-vs-carried descent, retry budgets,
    // partial-over-limit and the per-chain blocking cascade
    // (reference test/kinesis-consumer.test.js:2761-2878,
    // test/batch.test.js:301-731). One row per (message, tree node)
    // plus the message verdict.
    "task_multi" -> { (s, dir) =>
      val registry = Seq(
        TaskDef("t1", TaskMulti.run1, Seq(TaskDef("c1", TaskMulti.runC))),
        TaskDef("t2", TaskMulti.run2))
      val k = get_json_object(col("props"), "$.k").cast("long")
      val msgs = Tables.events(s, dir).select(
          concat(lit("C|"), pmod(col("event_id"), lit(97)).cast("string"))
            .as("chainKey"),
          col("event_id").cast("string").as("msgId"),
          col("event_id").as("seqNo"),
          // a null k would be silently dropped by concat_ws, collapsing
          // the payload to just user_id and failing ku's arity check —
          // coalesce to -1 (same truncated-mod semantics in Scala and
          // DuckDB, so every k-derived branch stays oracle-consistent)
          concat_ws("|", coalesce(k, lit(-1L)), col("user_id"))
            .as("payload"))
        .as[StreamMsg](Encoders.product[StreamMsg])
      // One chain materialized per group (`it.toSeq`): memory is bounded
      // by chain cardinality (~n/97 here), not corpus size.
      val runs = msgs.groupByKey(_.chainKey)(Encoders.STRING)
        .flatMapGroups { (_, it) =>
          val ms = it.toSeq
          val prior = ms.map(m => m.msgId -> TaskMulti.prior(m)).toMap
          ResumableConsumer.executeChainTasks(prior, ms, registry,
            maxAttempts = 2).iterator
        }(Encoders.product[TaskRun])
      val verdicts = runs.groupByKey(_.msgId)(Encoders.STRING)
        .mapGroups { (id, rs) =>
          (id, ResumableConsumer.messageVerdict(rs.map(_.state).toSeq))
        }(Encoders.product[(String, String)])
        .toDF("v_msgId", "verdict")
      runs.toDF()
        .join(verdicts, col("msgId") === col("v_msgId"))
        .select(col("msgId").cast("long").as("event_id"),
          col("task"), col("state"), col("attempts"), col("verdict"))
        .as[TaskMultiRow](Encoders.product[TaskMultiRow]).toDF()
        .orderBy("event_id", "task")
    },

    // S2/S3: MERGE-style upsert — updates replace same-key existing
    // rows, unmatched existing rows survive.
    "state_upsert" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("event_id"),
          concat(lit("S|"), col("event_id")).as("shardOrEventID"))
      val existing = e.filter(pmod(col("event_id"), lit(2)) === 0)
        .withColumn("payload", lit("v1"))
      val updates = e.filter(pmod(col("event_id"), lit(3)) === 0)
        .withColumn("payload", lit("v2"))
      StateStore.upsert(existing, updates, Seq("shardOrEventID"))
        .select("event_id", "shardOrEventID", "payload")
        .orderBy("event_id")
    })

  val oracle: Map[String, String] = Map(
    "batch_key" ->
      """SELECT event_id,
        |  'K|events|graft:dev' AS streamConsumerId,
        |  'S|' || (user_id % 4) AS shardOrEventID,
        |  CASE WHEN event_type = 'error' THEN 'K|events|graft:dev'
        |       ELSE CAST(user_id AS VARCHAR) END AS partition_key
        |FROM events ORDER BY event_id""".stripMargin,
    "task_lifecycle" ->
      s"""WITH base AS (
        |  SELECT event_id,
        |    CAST(json_extract_string(props, '$$.k') AS INT) AS k, user_id
        |  FROM events
        |), t AS (
        |  SELECT event_id,
        |    ['Unstarted','Started','Failed','Succeeded','Rejected','TimedOut'][(k % 6) + 1] AS s1,
        |    k % 12 AS a1,
        |    CASE WHEN user_id % 2 = 0 THEN 'legacyTask' ELSE 'processAll' END AS n2,
        |    ['Started','Completed','Failed'][CAST(user_id % 3 AS INT) + 1] AS s2_0,
        |    CAST(user_id % 11 AS INT) AS a2
        |  FROM base
        |), r AS (
        |  SELECT event_id, s1, a1, a2,
        |    CASE WHEN n2 = 'legacyTask' AND s2_0 NOT IN $finalised
        |         THEN 'Abandoned' ELSE s2_0 END AS s2
        |  FROM t
        |), d AS (
        |  SELECT event_id, a1, a2,
        |    CASE WHEN s1 IN ('Failed','TimedOut') AND a1 >= 10
        |         THEN 'Discarded' ELSE s1 END AS s1,
        |    CASE WHEN s2 IN ('Failed','TimedOut') AND a2 >= 10
        |         THEN 'Discarded' ELSE s2 END AS s2
        |  FROM r
        |), f AS (
        |  SELECT event_id,
        |    CASE WHEN s1 = 'Started' THEN 'TimedOut' ELSE s1 END AS s1,
        |    CAST(CASE WHEN s1 = 'Started' THEN GREATEST(a1 - 1, 0) ELSE a1 END AS INT) AS a1,
        |    CASE WHEN s2 = 'Started' THEN 'TimedOut' ELSE s2 END AS s2,
        |    CAST(CASE WHEN s2 = 'Started' THEN GREATEST(a2 - 1, 0) ELSE a2 END AS INT) AS a2
        |  FROM d
        |)
        |SELECT event_id, s1 AS t1_state, a1 AS t1_attempts,
        |  s2 AS t2_state, a2 AS t2_attempts,
        |  (s1 NOT IN $finalised OR s2 NOT IN $finalised) AS incomplete,
        |  (s1 IN $rejectedF OR s2 IN $rejectedF) AS rejected
        |FROM f ORDER BY event_id""".stripMargin,
    "batch_counts" ->
      """SELECT 'S|' || (user_id % 4) AS shard_id,
        |  COUNT(*) AS records,
        |  COUNT(CASE WHEN event_id % 7 <> 0 THEN 1 END) AS messages,
        |  COUNT(CASE WHEN event_id % 7 = 0 THEN 1 END) AS unusableRecords,
        |  COUNT(CASE WHEN event_id % 7 <> 0 AND event_type = 'error' THEN 1 END) AS rejectedMessages,
        |  COUNT(CASE WHEN event_id % 7 <> 0 AND event_type = 'purchase' THEN 1 END) AS incompleteMessages,
        |  COUNT(DISTINCT CASE WHEN event_id % 7 <> 0 THEN user_id END) AS firstMessagesToProcess
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "dead_letters" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 7 = 0 THEN 'DR' ELSE 'DM' END AS kind,
        |  CASE WHEN event_id % 7 = 0 THEN
        |    '{"streamConsumerId":"K|events|graft:dev","shardOrEventID":"S|'
        |    || (user_id % 4) || '","ver":"DR|K|2.0","record":{"event_id":'
        |    || event_id || ',"user_id":' || user_id
        |    || '},"reasonUnusable":"invalid base64 data","discardedAt":"2026-08-12T00:00:00Z"}'
        |  ELSE
        |    '{"streamConsumerId":"K|events|graft:dev","shardOrEventID":"S|'
        |    || (user_id % 4) || '","ver":"DM|K|2.0","message":{"k":'
        |    || CAST(json_extract_string(props, '$.k') AS INT)
        |    || '},"reasonRejected":"task rejected","discardedAt":"2026-08-12T00:00:00Z"}'
        |  END AS envelope
        |FROM events
        |WHERE event_id % 7 = 0 OR event_type = 'error'
        |ORDER BY event_id""".stripMargin,
    "task_master_slave" ->
      s"""WITH t AS (
        |  SELECT event_id,
        |    CASE WHEN event_type = 'purchase' THEN 'Succeeded'
        |         WHEN event_type = 'error' THEN 'Rejected'
        |         ELSE 'Started' END AS m,
        |    ['Unstarted','Started','Failed','Succeeded','Rejected','TimedOut']
        |      [(CAST(json_extract_string(props, '$$.k') AS INT) % 6) + 1] AS s1,
        |    ['Started','Completed','Failed']
        |      [CAST(user_id % 3 AS INT) + 1] AS s2
        |  FROM events
        |)
        |SELECT event_id, m AS master_state,
        |  CASE WHEN m IN $finalised AND s1 NOT IN $finalised
        |       THEN m ELSE s1 END AS s1_state,
        |  CASE WHEN m IN $finalised AND s2 NOT IN $finalised
        |       THEN m ELSE s2 END AS s2_state
        |FROM t ORDER BY event_id""".stripMargin,
    "task_subtree" ->
      s"""WITH t AS (
        |  SELECT event_id,
        |    ['Unstarted','Started','Failed','Succeeded','Rejected','TimedOut']
        |      [(CAST(json_extract_string(props, '$$.k') AS INT) % 6) + 1] AS r,
        |    ['Unstarted','Completed','Succeeded','Failed','Rejected']
        |      [(CAST(json_extract_string(props, '$$.k') AS INT) % 5) + 1] AS a,
        |    ['Completed','Succeeded','Discarded','Started']
        |      [CAST(user_id % 4 AS INT) + 1] AS b
        |  FROM events
        |)
        |SELECT event_id,
        |  (r IN $finalised AND a IN $finalised AND b IN $finalised)
        |    AS p_finalised,
        |  (a IN $finalised) AS pa_finalised
        |FROM t ORDER BY event_id""".stripMargin,
    "dynamo_attrs" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
        |  'u' || user_id AS user_s,
        |  (value > 100) AS flag,
        |  json_extract_string(props, '$.k') AS k_untyped
        |FROM events ORDER BY event_id""".stripMargin,
    "dead_letter_parse" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 7 = 0 THEN 'DR|K|2.0' ELSE 'DM|K|2.0' END
        |    AS ver,
        |  'S|' || (user_id % 4) AS shardOrEventID,
        |  CASE WHEN event_id % 7 = 0 THEN 'invalid base64 data'
        |       ELSE 'task rejected' END AS reason,
        |  CASE WHEN event_id % 7 = 0 THEN event_id
        |       ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END
        |    AS payload_ref
        |FROM events
        |WHERE event_id % 7 = 0 OR event_type = 'error'
        |ORDER BY event_id""".stripMargin,
    "windowed_counts" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT)
        |    AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "salted_counts" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "task_multi" ->
      """WITH base AS (
        |  SELECT event_id,
        |    COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT),
        |             -1) AS k,
        |    user_id AS u,
        |    event_id % 97 AS chain
        |  FROM events
        |), pr AS ( -- persisted prior per node, Unstarted/0 when absent
        |  SELECT *,
        |    CASE k%5 WHEN 1 THEN 'Completed' WHEN 2 THEN 'Failed'
        |             WHEN 3 THEN 'Rejected' WHEN 4 THEN 'Failed'
        |             ELSE 'Unstarted' END AS p1s,
        |    CASE k%5 WHEN 4 THEN 2 WHEN 0 THEN 0 ELSE 1 END AS p1a,
        |    CASE u%4 WHEN 1 THEN 'Completed' WHEN 2 THEN 'Failed'
        |             WHEN 3 THEN 'Started' ELSE 'Unstarted' END AS pcs,
        |    CASE u%4 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 0 END AS pca,
        |    CASE (k+u)%4 WHEN 1 THEN 'Succeeded' WHEN 2 THEN 'Failed'
        |                 WHEN 3 THEN 'TimedOut' ELSE 'Unstarted' END AS p2s,
        |    CASE (k+u)%4 WHEN 2 THEN 2 WHEN 0 THEN 0 ELSE 1 END AS p2a
        |  FROM base
        |), ex AS ( -- as-if-executed node outputs (maxAttempts = 2)
        |  SELECT *,
        |    CASE WHEN k%5 = 1 THEN 'Completed'  -- finalised success kept
        |         WHEN k%5 = 3 THEN 'Rejected'   -- finalised rejected kept
        |         WHEN k%5 = 4 THEN 'Discarded'  -- at cap: 2 >= 2
        |         WHEN k%17 = 0 THEN 'Failed' ELSE 'Completed' END AS e1s,
        |    CASE WHEN k%5 IN (2,4) THEN 2 ELSE 1 END AS e1a
        |  FROM pr
        |), ex2 AS ( -- child c1 execs only under a success-family t1
        |  SELECT *,
        |    CASE WHEN e1s IN ('Completed','Succeeded') THEN
        |           CASE WHEN u%4 = 1 THEN 'Completed'
        |                WHEN u%13 = 0 THEN 'Failed' ELSE 'Completed' END
        |         ELSE pcs END AS ecs,
        |    CASE WHEN e1s IN ('Completed','Succeeded') THEN
        |           CASE WHEN u%4 = 2 THEN 2 ELSE 1 END
        |         ELSE pca END AS eca,
        |    CASE WHEN (k+u)%4 = 1 THEN 'Succeeded'
        |         WHEN (k+u)%4 = 2 THEN 'Discarded'
        |         WHEN (k+u)%19 = 0 THEN 'Failed' ELSE 'Completed' END AS e2s,
        |    CASE WHEN (k+u)%4 IN (2,3) THEN 2 ELSE 1 END AS e2a
        |  FROM ex
        |), blk AS ( -- chain blocks after the first incomplete message
        |  SELECT *,
        |    COALESCE(bool_or(
        |        e1s NOT IN ('Completed','Succeeded','Rejected','Discarded','Abandoned')
        |        OR ecs NOT IN ('Completed','Succeeded','Rejected','Discarded','Abandoned')
        |        OR e2s NOT IN ('Completed','Succeeded','Rejected','Discarded','Abandoned'))
        |      OVER (PARTITION BY chain ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      false) AS blocked
        |  FROM ex2
        |), fin AS ( -- blocked messages carry priors; else executed output
        |  SELECT event_id,
        |    CASE WHEN blocked THEN p1s ELSE e1s END AS f1s,
        |    CASE WHEN blocked THEN p1a ELSE e1a END AS f1a,
        |    CASE WHEN blocked THEN pcs ELSE ecs END AS fcs,
        |    CASE WHEN blocked THEN pca ELSE eca END AS fca,
        |    CASE WHEN blocked THEN p2s ELSE e2s END AS f2s,
        |    CASE WHEN blocked THEN p2a ELSE e2a END AS f2a
        |  FROM blk
        |), v AS (
        |  SELECT *,
        |    CASE
        |      WHEN f1s IN ('Completed','Succeeded')
        |       AND fcs IN ('Completed','Succeeded')
        |       AND f2s IN ('Completed','Succeeded') THEN 'Completed'
        |      WHEN f1s IN ('Completed','Succeeded','Rejected','Discarded','Abandoned')
        |       AND fcs IN ('Completed','Succeeded','Rejected','Discarded','Abandoned')
        |       AND f2s IN ('Completed','Succeeded','Rejected','Discarded','Abandoned')
        |        THEN 'Discarded'
        |      WHEN f1s IN ('Failed','TimedOut') OR fcs IN ('Failed','TimedOut')
        |        OR f2s IN ('Failed','TimedOut') THEN 'Failed'
        |      ELSE 'Unstarted' END AS verdict
        |  FROM fin
        |)
        |SELECT event_id, t.task,
        |  CASE t.task WHEN 't1' THEN f1s WHEN 't1/c1' THEN fcs
        |       ELSE f2s END AS state,
        |  CASE t.task WHEN 't1' THEN f1a WHEN 't1/c1' THEN fca
        |       ELSE f2a END AS attempts,
        |  verdict
        |FROM v, (VALUES ('t1'),('t1/c1'),('t2')) t(task)
        |ORDER BY event_id, task""".stripMargin,
    "state_upsert" ->
      """SELECT event_id, 'S|' || event_id AS shardOrEventID,
        |  CASE WHEN event_id % 3 = 0 THEN 'v2' ELSE 'v1' END AS payload
        |FROM events
        |WHERE event_id % 2 = 0 OR event_id % 3 = 0
        |ORDER BY event_id""".stripMargin)
}
