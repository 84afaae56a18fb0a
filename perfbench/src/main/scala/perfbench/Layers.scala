package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{ConsumerConfig, TaskStatus}
import graft.operators.{Batching, DeadLetters, Decode, Identify}
import graft.sources.StateStore
import graft.streaming.{ResumableConsumer, StreamMsg, TaskRun}

/** Per-layer timings of the consumer, taken at the harness's own calls
  * into each layer's public functions on the same generated deliveries
  * the workload sends. Every boundary is materialized (cache + count) so
  * each layer's time is its own.
  *
  * [[delivery]] repeats `ConsumerPipeline.multi` step by step, in its
  * order and with its expressions: decode → identify → sequence → load
  * state (with the legacy-key migration join) → execute → message
  * verdicts → dead letters (skipped when there are none) → state upsert
  * and save → replay verdict. The processAll master task is left out:
  * the workload does not use it. [[run]] checks that the copy persisted
  * exactly what the pipeline did for the same batches. */
object Layers {
  private val stateSchema = StructType(Seq(
    StructField("chainKey", StringType), StructField("msgId", StringType),
    StructField("task", StringType), StructField("state", StringType),
    StructField("attempts", IntegerType), StructField("reason", StringType)))

  private def materialize(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  def run(spark: SparkSession, cfg: ConsumerConfig, seed: Long,
      work: String, rep: Report, loop: Loop): Unit = {
    val gen = new Gen(seed)
    // one cycle of batches covers every route the workload sends
    val batches = Gen.cycle
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val statePath = s"$work/layers_state"
    val deadPath = s"$work/layers_dead"
    (0 until batches).foreach { b =>
      val df = spark.createDataFrame(gen.batch(b).rows.asJava, Consumer.schema)
      var replay = true
      var d = 0
      while (replay && d < cfg.maxNumberOfAttempts + 2) {
        d += 1
        val sums = mutable.LinkedHashMap.empty[String, Double]
        replay = delivery(spark, cfg, df, statePath, deadPath,
          (name, v) => sums(name) = sums.getOrElse(name, 0.0) + v)
        sums.foreach { case (name, v) =>
          samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
        }
      }
    }
    samples.foreach { case (name, xs) =>
      rep.put(name, Stats.mean(xs.toSeq))
    }
    // the copy must persist what the pipeline persisted for the same
    // batches, or its timings do not describe the program
    val (pipeStates, pipeLetters) =
      Consumer.persisted(spark, loop.stateDir, loop.deadDir)
    val (ownStates, ownLetters) = Consumer.persisted(spark, statePath, deadPath)
    val mine = (s: String) => Consumer.batchOf(s) < batches
    if (pipeStates.filter(r => mine(r._2)).sorted.toSeq != ownStates.sorted.toSeq ||
        pipeLetters.filter(r => mine(r._2)).sorted.toSeq != ownLetters.sorted.toSeq)
      System.err.println("perfbench: WARNING: the layer timings' copy of " +
        "ConsumerPipeline.multi persisted other state rows or dead letters " +
        "than the pipeline; update Layers.delivery to follow the pipeline")
  }

  /** One delivery through the layers; returns whether it must replay.
    * `add` sums a figure into this delivery's sample. */
  private def delivery(spark: SparkSession, cfg: ConsumerConfig,
      batch: DataFrame, statePath: String, deadPath: String,
      add: (String, Double) => Unit): Boolean = {
    import spark.implicits._
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def step(name: String)(body: => DataFrame): DataFrame = {
      val (out, secs) = Meter.timed(materialize(body))
      add(name, secs)
      cached += out
      out
    }

    // ----- initiate -----
    val scid = Batching.streamConsumerId(lit(cfg.streamName),
      lit(cfg.consumerId))
    val soid = Batching.shardOrEventID(cfg, col("shardId"), col("eventID"))
    val recordJson = to_json(struct(col("eventID"), col("shardId"),
      col("partitionKey"), col("data")))
    val decoded = step("decode.time_s") {
      Decode.extractJsonMessages(batch, col("data"))
        .withColumn("streamConsumerId", scid)
        .withColumn("shardOrEventID", soid)
    }
    val unusableRecs = decoded.filter(col("reason_unusable").isNotNull)
    add("decode.unusable", unusableRecs.count().toDouble)

    val identified = step("identify.time_s") {
      Identify.idsKeysSeqNos(cfg, decoded, col("message"),
        lit(null).cast("string"), recordJson, col("eventID"),
        lit(null).cast("int"))
    }
    val usable = identified.filter(col("reason_unusable").isNull &&
      col("reason_rejected").isNull)
    val rejectedMsgs = identified.filter(col("reason_unusable").isNull &&
      col("reason_rejected").isNotNull)
    add("identify.rejected", rejectedMsgs.count().toDouble)

    val idSources = Seq(col("message"), lit(null).cast("string"), recordJson)
    val stateKey =
      if (cfg.idPropertyNames.isEmpty) col("eventID")
      else when(cfg.idPropertyNames
            .map(n => Identify.propertyValue(n, idSources).isNotNull)
            .reduce(_ && _),
          concat_ws("|", lit("B"), col("id"), col("key"), col("seqNo"),
            md5(col("message").cast("binary"))))
        .otherwise(col("eventID"))
    val sequenced = step("sequence.time_s") {
      Identify.sequence(cfg, usable, col("shardOrEventID"), col("message"),
          lit(null).cast("string"), recordJson, col("eventID"),
          col("eventID"))
        .withColumn("stateKey", stateKey)
    }
    val chainKeyCol =
      if (cfg.sequencingPerKey) concat_ws("|", col("shardOrEventID"), col("key"))
      else col("shardOrEventID")
    add("sequence.chains",
      sequenced.select(chainKeyCol).distinct().count().toDouble)
    val msgs = sequenced.select(
        chainKeyCol.as("chainKey"), col("stateKey").as("msgId"),
        col("seq_rn").cast("long").as("seqNo"),
        col("message").as("payload"))
      .as[StreamMsg]

    // ----- load prior state + process -----
    val prior = step("state.load_s") {
      val loaded = StateStore.load(spark, statePath, stateSchema)
        .withColumn("task", coalesce(col("task"), lit("processOne")))
      resolvePriorState(loaded, sequenced, cfg.migrateLegacyStateKeys)
    }
    add("state.rows_loaded", prior.count().toDouble)
    val priorRuns = prior.as[TaskRun]

    val maxAttempts = cfg.maxNumberOfAttempts
    val outcomes = step("execute.time_s") {
      msgs.groupByKey(_.chainKey)(Encoders.STRING)
        .cogroup(priorRuns.groupByKey(_.chainKey)(Encoders.STRING)) {
          (_, ms, ps) =>
            val priorByMsg = ps.toSeq.groupBy(_.msgId)
              .map { case (id, rs) => id -> rs.map(r => r.task -> r).toMap }
            ResumableConsumer.executeChainTasks(priorByMsg, ms.toSeq,
              Task.registry, maxAttempts).iterator
        }.toDF()
    }
    val verdicts = step("execute.time_s") {
      outcomes.as[TaskRun]
        .groupByKey(r => (r.chainKey, r.msgId))(
          Encoders.product[(String, String)])
        .mapGroups { (key, it) =>
          val rs = it.toSeq
          (key._1, key._2,
            ResumableConsumer.messageVerdict(rs.map(_.state)),
            ResumableConsumer.findReasonRejected(rs).orNull)
        }(Encoders.product[(String, String, String, String)])
        .toDF("chainKey", "msgId", "state", "reason")
    }

    // ----- finalise: dead letters, state upsert, replay verdict -----
    val at = date_format(current_timestamp(),
      "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    val priorIds = prior.select(col("msgId")).distinct()
    def onceOnly(rows: DataFrame) =
      rows.join(priorIds, rows("eventID") === priorIds("msgId"), "left_anti")
    val newDeadRecords = onceOnly(unusableRecs)
      .select(lit("DR").as("kind"), DeadLetters.deadRecordEnvelope(
        col("streamConsumerId"), col("shardOrEventID"), recordJson,
        col("reason_unusable"), at).as("envelope"))
    val newRejectedLetters = onceOnly(rejectedMsgs)
      .select(lit("DM").as("kind"), DeadLetters.deadMessageEnvelope(
        col("streamConsumerId"), col("shardOrEventID"), col("message"),
        col("reason_rejected"), at).as("envelope"))
    val priorDiscarded = priorRuns
      .filter(!_.chainKey.startsWith("ALL|"))
      .groupByKey(_.msgId)(Encoders.STRING)
      .mapGroups { (id, rs) =>
        (id, ResumableConsumer.messageVerdict(rs.map(_.state).toSeq))
      }.filter(_._2 == TaskStatus.Discarded)
      .map(_._1)(Encoders.STRING).toDF("msgId")
    val newlyDiscarded = verdicts
      .filter(col("state") === TaskStatus.Discarded)
      .select(col("msgId"), col("reason"))
      .join(priorDiscarded, Seq("msgId"), "left_anti")
    val deadMessages = sequenced
      .join(newlyDiscarded, col("stateKey") === col("msgId"))
      .select(lit("DM").as("kind"), DeadLetters.deadMessageEnvelope(
        col("streamConsumerId"), col("shardOrEventID"), col("message"),
        coalesce(col("reason"), lit("Discarded after max attempts")),
        at).as("envelope"))
    val letters = newDeadRecords.unionByName(newRejectedLetters)
      .unionByName(deadMessages)
    val (written, writeS) = Meter.timed {
      val any = !letters.isEmpty
      if (any) letters.write.mode("append").parquet(deadPath)
      any
    }
    add("deadletters.write_s", writeS)
    add("deadletters.records",
      if (written) letters.count().toDouble else 0.0)

    val deadRecordMarkers = unusableRecs.select(
      col("shardOrEventID").as("chainKey"), col("eventID").as("msgId"),
      lit("unusableRecord").as("task"),
      lit(TaskStatus.Discarded).as("state"), lit(0).as("attempts"),
      col("reason_unusable").as("reason"))
    val rejectedMarkers = rejectedMsgs.select(
      col("shardOrEventID").as("chainKey"), col("eventID").as("msgId"),
      lit("rejectedMessage").as("task"),
      lit(TaskStatus.Rejected).as("state"), lit(0).as("attempts"),
      col("reason_rejected").as("reason"))
    val masterRows = Seq.empty[TaskRun].toDF()
    val (_, saveS) = Meter.timed(StateStore.save(
      StateStore.upsert(prior,
        outcomes.unionByName(deadRecordMarkers)
          .unionByName(rejectedMarkers).unionByName(masterRows),
        Seq("chainKey", "msgId", "task")),
      statePath))
    add("state.save_s", saveS)
    add("state.bytes_written", Files.bytes(statePath))

    val byState = verdicts.groupBy("state").count()
      .as[(String, Long)].collect().toMap
    def n(s: String) = byState.getOrElse(s, 0L)
    cached.foreach(_.unpersist())
    n(TaskStatus.Failed) + n(TaskStatus.Unstarted) > 0
  }

  /** The pipeline's prior-state key resolution: with `migrate`, state
    * rows keyed by the md5-less legacy form of one of this batch's keys
    * take the current key (a broadcast left join); without it, the
    * loaded rows as they are. */
  private def resolvePriorState(loaded: DataFrame, sequenced: DataFrame,
      migrate: Boolean): DataFrame =
    if (!migrate) loaded else {
      val legacyMap = sequenced
        .filter(col("stateKey").startsWith("B|"))
        .select(col("stateKey").as("_newKey"),
          regexp_replace(col("stateKey"), "\\|[0-9a-f]{32}$", "")
            .as("_legacyKey"))
        .distinct()
      loaded
        .join(broadcast(legacyMap), loaded("msgId") === col("_legacyKey"),
          "left")
        .withColumn("msgId", coalesce(col("_newKey"), col("msgId")))
        .drop("_newKey", "_legacyKey")
    }
}
