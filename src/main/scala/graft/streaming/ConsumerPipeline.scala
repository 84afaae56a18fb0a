package graft.streaming

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{ConsumerConfig, TaskStatus}
import graft.operators.{Batching, Checkpoints, Decode, DeadLetters,
  Identify}
import graft.sources.StateStore

/** The reference's `processStreamEvent` phase structure
  * (`/root/reference/kinesis-consumer.js:197-206` delegating to the core
  * initiate/process/finalise flow, SURVEY §3.3) as one `foreachBatch`
  * body:
  *
  * {{{
  * initiateBatch   decode (D1/D2) → identify (I3) → chain order (Q4–Q6)
  *                 → load prior state (S2) → revive (T2)
  * processBatch    ordered multi-task execution with resume (T3, Q5),
  *                 each chain sorted inside the fold's shuffle, which
  *                 also merges its state (S3) and its once-only letters
  * finaliseBatch   DRQ/DMQ envelopes (S4/S5) → state save (S3)
  *                 → replay verdict (reject ⇒ source redelivers)
  * }}}
  *
  * Batch-mode and streaming share this body: in streaming, wire
  * [[apply]] into `writeStream.foreachBatch` and a thrown
  * [[ReplayBatchException]] fails the trigger so the checkpoint does not
  * advance — the same at-least-once replay contract as the reference's
  * Lambda callback rejection (`test/kinesis-consumer.test.js:1272-1380`).
  *
  * Input contract (columns): `eventID` string, `shardId` string,
  * `partitionKey` string, `data` base64 string.
  */
object ConsumerPipeline {

  /** Thrown when the batch has incomplete messages and must replay. */
  final class ReplayBatchException(msg: String) extends RuntimeException(msg)

  final case class BatchResult(messages: Long, unusable: Long,
      completed: Long, failed: Long, discarded: Long, blocked: Long,
      replay: Boolean, processAllCompleted: Long = 0,
      processAllFailed: Long = 0, rejected: Long = 0)

  /** Key-space prefix for processAll master-task state rows — they live
    * in the same state table as message states, keyed per batch group
    * (the reference's `batchState.alls` —
    * `test/persisting.test.json:160-165`). */
  val MasterKeyPrefix = "ALL|"

  /** Single-task convenience: one anonymous `processOne` task per
    * message (the common case). See [[multi]] for the full registry. */
  def apply(cfg: ConsumerConfig, runTask: String => Try[Unit],
      statePath: String, deadLetterPath: String,
      throwOnReplay: Boolean = false,
      processAll: Option[(String, Seq[String]) => Try[Unit]] = None)(
      batch: DataFrame, batchId: Long): BatchResult =
    multi(cfg, Seq(TaskDef("processOne", runTask)), statePath,
      deadLetterPath, throwOnReplay, processAll)(batch, batchId)

  /** One full initiate/process/finalise pass driving a REGISTRY of
    * processOne task definitions per message — the reference's
    * `processStreamEvent(event, processOneTaskDefs, processAllTaskDefs)`
    * (`/root/reference/README.md:115-135`). Each task tree node gets its
    * own persisted state row and retry budget; sub-task trees execute
    * depth-first within their parent; a message finalises only when
    * EVERY node of every tree does, so one task over the attempts cap
    * with a sibling still retryable keeps the message incomplete and
    * the batch replaying (`test/kinesis-consumer.test.js:2761-2878`).
    *
    * Prior state is re-matched by the message's business full key — the
    * resolved `id|key|seqNo` identity — with eventID fallback when ids
    * are unconfigured/unresolvable (the reference's `toMessageBFK`
    * matching, `test/persisting.test.js:17-21`): a replay that re-keys
    * eventIDs but redelivers the same payloads still resumes.
    *
    * The chain fold settles the delivery. It cogroups every delivered
    * record, unusable and rejected ones included, with every prior state
    * row of its chain, sorts each chain by [[Identify.chainOrder]] (the
    * order [[Identify.sequence]]'s window gives) and emits the merged
    * state, the message verdicts and the once-only dead letters (see
    * [[foldChain]]). The merged state is the prior table upserted on
    * `(chainKey, msgId, task)`, so no join runs after the fold. The
    * letters equal a once-only guard over the whole prior table except
    * in one case: a prior message row in another per-key chain whose
    * msgId is a bad record's eventID, which only a configuration changed
    * between deliveries leaves behind.
    *
    * Two intermediate results are read by more than one action: the
    * identified records and the fold's outcomes. Each is a lazy local
    * checkpoint, released when the delivery ends, normally or not, so
    * every frame built on one plans from its RDD scan, not from the
    * whole decode → identify → cogroup tree beneath it. AQE runs a kept
    * frame's shuffle and broadcast stages when it is kept; its last
    * stage runs inside the first job that reads it. One delivery runs
    * these Spark actions, in order:
    *
    *  1. only on the default event-seqNo path with required sequencing:
    *     the heterogeneous-seqNo check in [[Identify.chainOrder]] (a
    *     collect);
    *  1. the chain fold: one job that materializes the outcomes, so the
    *     task trees run exactly once per delivery;
    *  1. only with `processAll`: the master-task cogroup (a collect);
    *  1. the tally: one collect that counts every [[BatchResult]] field
    *     and the new dead letters;
    *  1. only when there are new dead letters: one append, a narrow
    *     read of the outcomes;
    *  1. the state save: the outcomes' state rows, with processAll's new
    *     master rows, written to a sibling directory, then swapped in.
    *
    * With AQE each shuffle or broadcast stage is a job of its own;
    * `ConsumerPipelineSpec` pins the total at 7 jobs for a clean batch,
    * 8 for a first delivery that writes DR and DM letters and 8 for a
    * replay (5, 6 and 6 measured).
    *
    * @param cfg        consumer configuration (sequencing mode, retry cap)
    * @param tasks      processOne task definitions (non-empty registry)
    * @param statePath  batch-state table (S2/S3)
    * @param deadLetterPath DRQ/DMQ envelope table (S4/S5)
    * @param throwOnReplay  streaming mode: throw so the trigger fails and
    *                       the source redelivers; batch callers may
    *                       inspect the result instead
    * @param processAll optional T4 batch-level master task over
    *                   `(shardOrEventID, payloads of the group's usable
    *                   messages)`; executes once per batch group with
    *                   the same resume/replay contract as processOne
    *                   (completed masters are skipped on replay —
    *                   `executeAllProcessAllTasks` in SURVEY §3.3)
    */
  def multi(cfg: ConsumerConfig, tasks: Seq[TaskDef],
      statePath: String, deadLetterPath: String,
      throwOnReplay: Boolean = false,
      processAll: Option[(String, Seq[String]) => Try[Unit]] = None)(
      batch: DataFrame, batchId: Long): BatchResult = {
    require(tasks.nonEmpty, "task registry must not be empty")
    val spark = batch.sparkSession
    import spark.implicits._

    // Every kept frame is registered before any action materializes it
    // and released in the `finally`, whatever the delivery does: a task
    // that throws, a failed letters append or a failed state save must
    // not leave persisted blocks behind. Always a local checkpoint, never
    // `Checkpoints.truncate`'s reliable mode: a lazy reliable checkpoint
    // writes in a second job that recomputes the fold, running every task
    // twice, and a delivery that loses an executor just fails and is
    // redelivered.
    val kept = mutable.ArrayBuffer.empty[DataFrame]
    def keep[T](ds: Dataset[T]): Dataset[T] = {
      val t = ds.localCheckpoint(eager = false)
      kept += t.toDF()
      t
    }
    try {
      // ----- initiate: decode → identify → chain order -----
      val scid = Batching.streamConsumerId(lit(cfg.streamName),
        lit(cfg.consumerId))
      val soid = Batching.shardOrEventID(cfg, col("shardId"), col("eventID"))
      val recordJson = to_json(struct(col("eventID"), col("shardId"),
        col("partitionKey"), col("data")))
      // BFK state identity: resolvable ids ⇒ `B|id|key|seqNo|md5(msg)`,
      // else the eventID (toMessageBFK fallback). The md5 tiebreak mirrors
      // the reference's BFK carrying the message md5s alongside id/key/
      // seqNo (`test/persisting.test.json` messageStates): two DISTINCT
      // messages that happen to share business id|key|seqNo must get
      // distinct state rows, while a replay that re-keys eventIDs but
      // redelivers the same payload still matches its prior row. The
      // all-ids-resolved test is a plain non-null conjunction over the
      // id property values (codegen'd — no interpreted `forall` in the
      // per-batch hot path). Unusable records have no ids, so their
      // markers stay keyed by eventID below.
      val idSources = Seq(col("message"), lit(null).cast("string"), recordJson)
      val stateKey =
        if (cfg.idPropertyNames.isEmpty) col("eventID")
        else when(cfg.idPropertyNames
              .map(n => Identify.propertyValue(n, idSources).isNotNull)
              .reduce(_ && _),
            concat_ws("|", lit("B"), col("id"), col("key"), col("seqNo"),
              md5(col("message").cast("binary"))))
          .otherwise(col("eventID"))
      // The identified records feed the chain fold, processAll and the
      // counts, each read in a different action —
      // kept so decode and identify (its JSON property lookups) run once
      // per delivery. Every subset below is a narrow filter over it.
      val identified = keep(Identify.idsKeysSeqNos(cfg,
          Decode.extractJsonMessages(batch, col("data"))
            .withColumn("streamConsumerId", scid)
            .withColumn("shardOrEventID", soid),
          col("message"), lit(null).cast("string"), recordJson,
          col("eventID"), lit(null).cast("int"))
        .withColumn("stateKey", stateKey))
      val usable = identified.filter(col("reason_unusable").isNull &&
        col("reason_rejected").isNull)
      val unusableRecs = identified.filter(col("reason_unusable").isNotNull)
      // F2 — messages the identify phase rejected (unresolvable keys /
      // seqNos): they skip task execution entirely and are discarded to
      // the DMQ with their REAL reasonRejected during finalise
      // (the reference's `kinesis-processing.js:708-724` discarding
      // `batch.rejectedMessages`).
      val rejectedMsgs = identified.filter(col("reason_unusable").isNull &&
        col("reason_rejected").isNotNull)
      // Each chain's order, over the seqNo values identify resolved (the
      // `seqNos` pairs hold the configured properties in order, or the
      // event seqNo), so the fold looks up no JSON property again.
      val seqNoParts =
        if (cfg.seqNoPropertyNames.isEmpty) Seq(col("eventID"))
        else cfg.seqNoPropertyNames.indices.map(i =>
          col("seqNos").getItem(i).getField("value"))
      val order = Identify.chainOrder(cfg, usable, seqNoParts, col("eventID"))
      val chainKeyCol =
        if (cfg.sequencingPerKey)
          concat_ws("|", col("shardOrEventID"), col("key"))
        else col("shardOrEventID")
      // `seqNo` is a placeholder: the fold numbers a sorted chain, and an
      // unsequenced chain runs by msgId.
      val msgs = usable.select(Seq(chainKeyCol.as("chainKey"),
          col("stateKey").as("msgId"), lit(1L).as("seqNo"),
          col("message").as("payload"), col("shardOrEventID")) ++
          order.zipWithIndex.map { case (c, i) => c.as(s"order$i") }: _*)
      // Unusable records (DR) and identify-rejected messages (DM) join
      // the fold under their own `shardOrEventID`, the key of their
      // finalised state markers. Each carries its marker row and its
      // envelope; no task runs for it.
      val at = date_format(current_timestamp(),
        "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      def bad(recs: DataFrame, kind: String, task: String, state: String,
          reason: Column, envelope: Column) = recs.select(
        col("shardOrEventID").as("chainKey"), col("eventID").as("msgId"),
        lit(1L).as("seqNo"), col("shardOrEventID"),
        struct(col("shardOrEventID").as("chainKey"),
          col("eventID").as("msgId"), lit(task).as("task"),
          lit(state).as("state"), lit(0).as("attempts"),
          reason.as("reason")).as("marker"),
        struct(lit(kind).as("kind"), envelope.as("envelope")).as("letter"))
      val delivered = msgs
        .unionByName(bad(unusableRecs, "DR", "unusableRecord",
          TaskStatus.Discarded, col("reason_unusable"),
          DeadLetters.deadRecordEnvelope(col("streamConsumerId"),
            col("shardOrEventID"), recordJson, col("reason_unusable"), at)),
          allowMissingColumns = true)
        .unionByName(bad(rejectedMsgs, "DM", "rejectedMessage",
          TaskStatus.Rejected, col("reason_rejected"),
          DeadLetters.deadMessageEnvelope(col("streamConsumerId"),
            col("shardOrEventID"), col("message"), col("reason_rejected"),
            at)), allowMissingColumns = true)
        .as[ChainMsg]

      // ----- load prior state + process: resumable ordered execution -----
      val stateSchema = StructType(Seq(
        StructField("chainKey", StringType), StructField("msgId", StringType),
        StructField("task", StringType),
        StructField("state", StringType), StructField("attempts", IntegerType),
        StructField("reason", StringType)))
      // Schema migration: a state table written before the `task` column
      // existed (single-task era) loads `task = null`; coalesce to the
      // implicit single task so `priorTasks.get(path)` still matches and
      // attempts/budgets survive the upgrade. `reason` is nullable, so
      // pre-reason tables need no special casing.
      val loaded = StateStore.load(spark, statePath, stateSchema)
        .withColumn("task", coalesce(col("task"), lit("processOne")))
      // Key-format migration: rows written before the md5 tiebreak carry
      // `B|id|key|seqNo` — the md5-stripped PREFIX of today's keys. Match
      // legacy rows by EQUALITY against this batch's computed legacy keys
      // so in-flight attempts and already-discarded markers survive the
      // upgrade (the redelivered payload recomputes the new key; the
      // prefix is the whole legacy key). Equality is the safe
      // classification: a regex "does it end in the 32-hex md5 suffix"
      // test would misread a legacy key whose trailing property VALUE
      // happens to end in `|` + 32 lowercase hex chars and never migrate
      // it, whereas a current-format key can never EQUAL the md5-stripped
      // prefix of a different key without an md5-level collision. Two
      // current messages sharing a legacy prefix each inherit the one
      // legacy row — exactly the shared-row semantics the old format had.
      // Rows whose message is not in this batch stay on the legacy key
      // and migrate whenever it is next redelivered; the fold writes the
      // re-keyed rows back, so migration is one-time per key.
      // The mapping is one row per B|-keyed message of the current
      // micro-batch — always broadcastable — and the join is a plain
      // broadcast-hash equality probe on the msgId column the state load
      // scans anyway. Once a deployment knows all legacy rows are gone it
      // sets `migrateLegacyStateKeys = false` and the join disappears
      // from the plan entirely. Only the chain fold reads it.
      val prior = resolvePriorState(loaded, usable,
        cfg.migrateLegacyStateKeys).as[TaskRun]

      val registry = tasks
      val maxAttempts = cfg.maxNumberOfAttempts
      // `ms.toSeq` materializes one CHAIN at a time — inherent to ordered
      // chain execution (later links see earlier outcomes). Memory is
      // bounded by chain cardinality (messages per shard/key, SURVEY
      // §7.4), never by corpus size: more data means more chains, not
      // longer ones. The fold settles the whole delivery: the group holds
      // every delivered record of the chain and every prior row of it, so
      // it writes the chain's merged state, its verdicts and its once-only
      // dead letters. The shuffle sorts each chain by `order`, and the
      // fold numbers it 1..n in that order (bad records, whose order is
      // null, sort first and take numbers no task reads).
      val sequenced = order.nonEmpty
      val outcomes = keep(delivered.groupByKey(_.chainKey)(Encoders.STRING)
        .cogroupSorted(prior.groupByKey(_.chainKey)(Encoders.STRING))(
          order.indices.map(i => col(s"order$i")): _*)() {
          (_, ms, ps) =>
            val chain =
              if (sequenced) ms.zipWithIndex.map { case (m, i) =>
                m.copy(seqNo = i + 1L) }
              else ms
            foldChain(ps.toSeq, chain.toSeq, registry, maxAttempts).iterator
        })
      // The fold runs the user tasks, so it runs in one job of its own,
      // exactly once per delivery; every later action reads its blocks.
      outcomes.foreachPartition((_: Iterator[ChainOutcome]) => ())
      val states = outcomes.filter(col("node").isNotNull).select("node.*")
      val verdicts = outcomes.filter(col("msg").isNotNull).select("msg.*")

      // T4 — processAll master task, once per batch group, resumable:
      // a master finalised in prior state is skipped on replay; a failed
      // master forces the batch to replay exactly like a failed chain.
      // Master rows never migrate (their msgId is `processAll`), so they
      // are read from the raw load.
      val masterOutcomes: Seq[TaskRun] = processAll match {
        case None => Nil
        case Some(runAll) =>
          val fn = runAll
          val max = cfg.maxNumberOfAttempts
          val groups = usable
            .select(col("shardOrEventID"), col("message"))
            .as[(String, String)]
          val priorMaster = loaded
            .filter(col("chainKey").startsWith(MasterKeyPrefix)).as[TaskRun]
          groups.groupByKey(_._1)(Encoders.STRING)
            .cogroup(priorMaster
              .groupByKey(_.chainKey.stripPrefix(MasterKeyPrefix))(
                Encoders.STRING)) { (soid, ms, ps) =>
              val prev = ps.toSeq.headOption
              val attempts = prev.map(_.attempts).getOrElse(0)
              val state = prev.map(_.state)
                .getOrElse(TaskStatus.Unstarted)
              def master(state: String, attempts: Int) = Iterator(TaskRun(
                MasterKeyPrefix + soid, "processAll", "processAll", state,
                attempts))
              // A group this delivery does not carry runs nothing; the
              // fold carries its prior row.
              if (!ms.hasNext) Iterator.empty
              else if (TaskStatus.isFinalised(state)) prev.iterator
              else if (attempts >= max) master(TaskStatus.Discarded, attempts)
              else fn(soid, ms.map(_._2).toSeq) match {
                case scala.util.Success(_) =>
                  master(TaskStatus.Completed, attempts + 1)
                case scala.util.Failure(_) =>
                  master(TaskStatus.Failed, attempts + 1)
              }
            }.collect().toSeq
      }

      // ----- finalise: dead letters, state save, replay verdict -----
      // Dead letters are written ONCE per record/message: the fold writes
      // a bad record's envelope only when its chain's prior rows do not
      // hold its eventID (mirrors the reference's persisted
      // unusableRecordStates/rejectedMessageStates —
      // test/persisting.test.js:339-398). A message is discarded (→ DMQ)
      // only when ALL its task nodes finalised with at least one
      // rejected — never while a sibling
      // task still has retry budget; the fold flags the delivery that
      // discards it. The envelope's reasonRejected is the first rejected
      // node's recorded failure cause, not a generic literal (reference
      // `batch.findReasonRejected`). Each delivered record of the message
      // in the discarding chain gets one envelope, so a payload delivered
      // in two chains (batches keyed on eventID) writes one per chain.
      val deadMessages = verdicts.filter(col("newlyDiscarded"))
        .select(lit("DM").as("kind"), DeadLetters.deadMessageEnvelope(
          scid, col("shardOrEventID"), col("payload"),
          coalesce(col("reasonRejected"), lit("Discarded after max attempts")),
          at).as("envelope"))
      val letters = outcomes.filter(col("letter").isNotNull)
        .select("letter.*").unionByName(deadMessages)

      // Every count of the result, and the letters gate, in one action
      // over the kept frames.
      val tally = verdicts.filter(col("first")).select(col("verdict").as("k"))
        .unionByName(unusableRecs.select(lit(Unusable).as("k")))
        .unionByName(rejectedMsgs.select(lit(RejectedMsg).as("k")))
        .unionByName(letters.select(lit(NewLetter).as("k")))
      val counts = countByValue(tally.as[String])
      def n(k: String) = counts.getOrElse(k, 0L)

      if (n(NewLetter) > 0)
        letters.write.mode("append").parquet(deadLetterPath)

      // The fold's rows are the merged state; a new master row replaces
      // the carried one with its key.
      val replaced = col("chainKey").isin(masterOutcomes.map(_.chainKey): _*)
        .<=>(true) && col("msgId") <=> "processAll" &&
        col("task") <=> "processAll"
      StateStore.save(
        states.filter(!replaced).unionByName(masterOutcomes.toDF()),
        statePath)

      val masterFailed = masterOutcomes
        .count(s => !TaskStatus.isFinalised(s.state))
      val result = BatchResult(
        messages = TaskStatus.all.map(n).sum,
        unusable = n(Unusable),
        completed = n(TaskStatus.Completed),
        failed = n(TaskStatus.Failed),
        discarded = n(TaskStatus.Discarded),
        blocked = n(TaskStatus.Unstarted),
        replay = n(TaskStatus.Failed) + n(TaskStatus.Unstarted) +
          masterFailed > 0,
        processAllCompleted = masterOutcomes
          .count(_.state == TaskStatus.Completed),
        processAllFailed = masterFailed,
        rejected = n(RejectedMsg))
      if (result.replay && throwOnReplay)
        throw new ReplayBatchException(
          s"batch $batchId incomplete: ${result.failed} failed, " +
            s"${result.blocked} blocked — replaying")
      result
    } finally kept.foreach(Checkpoints.release)
  }

  /** A delivered record on its way into the chain fold: a message (the
    * [[StreamMsg]] plus the batch key its dead-message envelope names),
    * or an unusable or rejected record, which carries its state `marker`
    * and its dead `letter` instead of a task run. `seqNo` is the
    * message's position in its sorted chain, or the same for every
    * message of an unsequenced chain, which runs by `msgId`. */
  private[graft] final case class ChainMsg(chainKey: String, msgId: String,
      seqNo: Long, payload: String, shardOrEventID: String,
      marker: Option[TaskRun] = None, letter: Option[Letter] = None) {
    def msg: StreamMsg = StreamMsg(chainKey, msgId, seqNo, payload)
  }

  /** A DRQ/DMQ row: its `kind` (`DR` or `DM`) and its envelope. */
  private[graft] final case class Letter(kind: String, envelope: String)

  /** A delivered message's outcome, settled inside the chain fold.
    * `verdict` is [[ResumableConsumer.messageVerdict]] over the message's
    * task-node rows and `reasonRejected` the first rejected node's
    * reason, in execution order. `newlyDiscarded` marks the delivery
    * that discards the message, which writes its one DMQ envelope;
    * `payload` is kept only then. `first` marks one row per distinct
    * `(chainKey, msgId)`, the unit the result counts. */
  private[graft] final case class MsgVerdict(chainKey: String, msgId: String,
      shardOrEventID: String, payload: String, verdict: String,
      reasonRejected: String, newlyDiscarded: Boolean, first: Boolean)

  /** One row of the chain fold: a state row to persist, a delivered
    * message's verdict, or a bad record's once-only dead letter. */
  private[graft] final case class ChainOutcome(node: Option[TaskRun],
      msg: Option[MsgVerdict], letter: Option[Letter])

  /** One chain of one delivery: runs the delivered messages' task trees
    * in order over the chain's prior rows
    * ([[ResumableConsumer.executeChainTasks]]) and emits the chain's
    * merged state, one [[MsgVerdict]] per delivered message and the
    * bad records' new dead letters.
    *
    * The merged state is every task-node row and bad-record marker of
    * this delivery, plus every prior row whose `(msgId, task)` none of
    * them has: `StateStore.upsert` on `(chainKey, msgId, task)`, scoped
    * to the chain, which holds every update of its key. Keys with a null
    * part never match, as in the upsert's anti-join. A bad record's
    * letter is written only when no prior row of the chain has its
    * eventID as msgId. That equals a guard over the whole prior table
    * while the configuration stays the same: the record's earlier marker
    * sits under the same `shardOrEventID`, and a message row keyed by
    * its eventID is the same record read as usable, which only a changed
    * configuration does (then a per-key chain holds it, outside this
    * chain, and the letter is written again).
    *
    * A message is newly discarded when its verdict is Discarded and the
    * verdict over its prior rows in this chain was not. The guard is
    * chain-scoped, and it writes the same envelopes as a guard over all
    * of the message's prior rows in every chain, except that it never
    * repeats one. If the chain's prior rows C are all finalised but not
    * Discarded, they are all success-family, and then no node can be
    * rejected now (a node only turns Discarded from prior attempts at
    * the cap; fresh nodes start at 0 and `maxNumberOfAttempts >= 1`).
    * So whenever this guard writes, the all-chains verdict is not
    * Discarded either, and the all-chains guard writes too. Conversely,
    * where only the all-chains guard writes, C was already Discarded:
    * the chain's envelope went out on the delivery that discarded it. */
  private[graft] def foldChain(prior: Seq[TaskRun], delivered: Seq[ChainMsg],
      registry: Seq[TaskDef], maxAttempts: Int): Seq[ChainOutcome] = {
    import ResumableConsumer.{findReasonRejected, messageVerdict}
    val (bad, msgs) = delivered.partition(_.marker.isDefined)
    val priorByMsg = prior.groupBy(_.msgId)
    val runs = ResumableConsumer.executeChainTasks(
      priorByMsg.map { case (id, rs) => id -> rs.map(r => r.task -> r).toMap },
      msgs.map(_.msg), registry, maxAttempts)
    val updates = runs ++ bad.flatMap(_.marker)
    val written = updates.collect { case r if r.chainKey != null &&
      r.msgId != null => (r.msgId, r.task) }.toSet
    val state = updates ++ prior.filterNot(r => written((r.msgId, r.task)))
    val letters = bad.filterNot(b => b.msgId != null &&
      priorByMsg.contains(b.msgId)).flatMap(_.letter)
    val runsByMsg = runs.groupBy(_.msgId)
    def wasDiscarded(id: String) = priorByMsg.get(id)
      .exists(rs => messageVerdict(rs.map(_.state)) == TaskStatus.Discarded)
    val seen = mutable.Set.empty[String]
    state.map(r => ChainOutcome(Some(r), None, None)) ++
      letters.map(l => ChainOutcome(None, None, Some(l))) ++ msgs.map { m =>
        val rs = runsByMsg(m.msgId)
        val verdict = messageVerdict(rs.map(_.state))
        val newly = verdict == TaskStatus.Discarded && !wasDiscarded(m.msgId)
        ChainOutcome(None, Some(MsgVerdict(m.chainKey, m.msgId,
          m.shardOrEventID, if (newly) m.payload else null, verdict,
          findReasonRejected(rs).orNull, newly, seen.add(m.msgId))), None)
      }
  }

  // Tally keys next to the message verdicts (never a TaskStatus name).
  private val Unusable = "unusable record"
  private val RejectedMsg = "rejected message"
  private val NewLetter = "dead letter"

  /** Occurrences of each key: each partition counts its own, and the
    * collected partial counts are summed. One Spark job, no shuffle. */
  private def countByValue(keys: Dataset[String]): Map[String, Long] =
    keys.mapPartitions { it =>
      it.foldLeft(Map.empty[String, Long])((m, k) =>
        m.updated(k, m.getOrElse(k, 0L) + 1)).iterator
    }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .collect().groupMapReduce(_._1)(_._2)(_ + _)

  /** Prior-state key resolution (T2 revive): identity when
    * `migrate = false` — the migration join must be ABSENT from the
    * plan, not just inert (pinned by `PipelineFidelitySpec`'s plan
    * assertion) — else the legacy-prefix broadcast probe documented at
    * the call site in [[multi]]. The map is broadcast anyway, so it is
    * de-duplicated in one partition, with no shuffle before the
    * broadcast. Package-visible so the spec can assert on the plan of
    * exactly the fragment the pipeline runs. */
  private[graft] def resolvePriorState(loaded: DataFrame,
      usable: DataFrame, migrate: Boolean): DataFrame =
    if (!migrate) loaded else {
      val legacyMap = usable
        .filter(col("stateKey").startsWith("B|"))
        .select(col("stateKey").as("_newKey"),
          regexp_replace(col("stateKey"), "\\|[0-9a-f]{32}$", "")
            .as("_legacyKey"))
        .coalesce(1).distinct()
      loaded
        .join(broadcast(legacyMap), loaded("msgId") === col("_legacyKey"),
          "left")
        .withColumn("msgId", coalesce(col("_newKey"), col("msgId")))
        .drop("_newKey", "_legacyKey")
    }
}
