package graft.streaming

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.TaskStatus

/** One in-flight message of a sequencing chain. `chainKey` is the unit
  * of ordering AND of state: per-key sequencing uses
  * `shardOrEventID|key`, per-shard uses `shardOrEventID` alone, so chain
  * parallelism maps 1:1 onto Spark group parallelism (SURVEY §7.4 — K
  * chains never repartition(1)). */
final case class StreamMsg(chainKey: String, msgId: String, seqNo: Long,
    payload: String)

/** Persisted per-message outcome (the `ones` task state collapsed to the
  * message level — SURVEY §1.1 tracked state). */
final case class MsgState(chainKey: String, msgId: String, state: String,
    attempts: Int)

/** A named processOne task definition with an optional sub-task tree
  * (the reference's `TaskDef.defineTask` + `task.getSubTask(...)` —
  * `/root/reference/README.md:122-165`). Sub-tasks execute depth-first
  * after their parent's own run succeeds; a parent that fails or is
  * rejected never runs its children. */
final case class TaskDef(name: String, run: String => Try[Unit],
    subTasks: Seq[TaskDef] = Nil) {

  /** All node paths of this tree, root first, `/`-joined (matching
    * [[graft.model.Schemas.taskStateSchema]]'s `path` convention). */
  def paths(prefix: String = ""): Seq[String] = {
    val p = if (prefix.isEmpty) name else s"$prefix/$name"
    p +: subTasks.flatMap(_.paths(p))
  }
}

/** Persisted per-(message, task-node) outcome for multi-task execution:
  * one row per node of each message's task trees (the reference's
  * `msgState.ones.<TaskName>` map — `test/persisting.test.js:339-398`).
  * `reason` carries the last failure's error message (the reference's
  * `state.error`/`state.reason`, fixture `persisting.test.json` Rejected
  * node) so the DMQ envelope can report the REAL rejection cause; null
  * for successful/unstarted nodes and for rows loaded from pre-reason
  * state tables. */
final case class TaskRun(chainKey: String, msgId: String, task: String,
    state: String, attempts: Int, reason: String = null)

/** Cross-batch resumable ordered execution (SURVEY §2.6 T3 + §2.8):
  * the reference's replay-with-prior-state contract
  * (`/root/reference/test/kinesis-consumer.test.js:746-847`: PRIOR state
  * honored, completed work skipped, failed work retried up to the cap)
  * on Structured Streaming's `flatMapGroupsWithState`.
  *
  * Semantics per chain (pinned by
  * `test/sequencing-per-key.test.js:474-622` and
  * `test/kinesis-consumer.test.js:1272-1491`):
  *  - messages run strictly in `(seqNo, msgId)` order;
  *  - already-finalised work is skipped (resume, not redo);
  *  - an incomplete message blocks all successors in the SAME chain
  *    (they stay Unstarted / incomplete ⇒ the batch would replay),
  *    other chains are unaffected — the poison-batch blocks one shard,
  *    not the stream (SURVEY §7.4);
  *  - a task failing at `attempts >= maxAttempts` is Discarded (T6) and
  *    stops blocking its chain — but ONLY once EVERY task of the message
  *    finalises does the message itself get discarded; one task over the
  *    cap while a sibling can still retry keeps the message incomplete
  *    and the batch replaying
  *    (`test/kinesis-consumer.test.js:2761-2878` — "must NOT discard
  *    message yet").
  */
object ResumableConsumer {

  import TaskStatus._

  /** Pure multi-task per-chain fold — the reference's per-message task
    * REGISTRY (`processOneTaskDefs`) with sub-task trees, testable
    * without a stream.
    *
    * @param prior per-msg per-path persisted node states
    *              (`msgId -> path -> state`)
    * @param registry root task definitions, executed in order per message
    */
  def executeChainTasks(prior: Map[String, Map[String, TaskRun]],
      msgs: Seq[StreamMsg], registry: Seq[TaskDef],
      maxAttempts: Int): Seq[TaskRun] = {
    require(registry.nonEmpty, "task registry must not be empty")
    var blocked = false
    msgs.sortBy(m => (m.seqNo, m.msgId)).flatMap { m =>
      val priorTasks = prior.getOrElse(m.msgId, Map.empty)

      // A node (and its subtree) that does not run this pass keeps its
      // persisted state; never-seen nodes surface as Unstarted.
      def carried(d: TaskDef, prefix: String): Seq[TaskRun] =
        d.paths(prefix).map(p => priorTasks.getOrElse(p,
          TaskRun(m.chainKey, m.msgId, p, Unstarted, 0)))

      def exec(d: TaskDef, prefix: String): Seq[TaskRun] = {
        val path = if (prefix.isEmpty) d.name else s"$prefix/${d.name}"
        val prev = priorTasks.get(path)
        val attempts = prev.map(_.attempts).getOrElse(0)
        val state = prev.map(_.state).getOrElse(Unstarted)
        if (isFinalised(state)) {
          // own run skipped; a COMPLETED parent still descends so an
          // unfinalised subtree can resume, a rejected/discarded parent
          // never re-runs its children
          val own = prev.get
          if (successFamily.contains(state))
            own +: d.subTasks.flatMap(exec(_, path))
          else own +: d.subTasks.flatMap(carried(_, path))
        } else if (attempts >= maxAttempts) // retry budget burned (T6)
          // the Discarded node keeps the LAST failure's reason — that is
          // the real cause the DMQ envelope must report
          TaskRun(m.chainKey, m.msgId, path, Discarded, attempts,
              prev.map(_.reason).orNull) +:
            d.subTasks.flatMap(carried(_, path))
        else d.run(m.payload) match {
          case Success(_) =>
            TaskRun(m.chainKey, m.msgId, path, Completed, attempts + 1) +:
              d.subTasks.flatMap(exec(_, path))
          case Failure(e) =>
            TaskRun(m.chainKey, m.msgId, path, Failed, attempts + 1,
                Option(e.getMessage).getOrElse(e.getClass.getName)) +:
              d.subTasks.flatMap(carried(_, path))
        }
      }

      val out =
        if (blocked) registry.flatMap(carried(_, ""))
        else registry.flatMap(exec(_, ""))
      if (out.exists(r => !isFinalised(r.state))) blocked = true
      out
    }
  }

  /** Message-level verdict over its task-node states (the reference's
    * batch classification — `batch.incompleteMessages` vs
    * `batch.rejectedMessages`, `test/kinesis-consumer.test.js:2761-2878`):
    * all success ⇒ Completed; ALL finalised with some rejected ⇒
    * Discarded (→ DMQ); any retryable failure ⇒ Failed (replay);
    * otherwise Unstarted (blocked behind a predecessor). */
  def messageVerdict(states: Seq[String]): String =
    if (states.forall(successFamily.contains)) Completed
    else if (states.forall(isFinalised)) Discarded
    else if (states.exists(failureFamily.contains)) Failed
    else Unstarted

  /** The reference's `batch.findReasonRejected(message)`
    * (`/root/reference/kinesis-processing.js:722`): the first rejected
    * task node's recorded reason, scanning the message's nodes in
    * execution order. */
  def findReasonRejected(runs: Seq[TaskRun]): Option[String] =
    runs.iterator.filter(r => TaskStatus.isRejected(r.state))
      .flatMap(r => Option(r.reason)).take(1).toSeq.headOption

  /** Single-task form (one anonymous `processOne` task per message) —
    * the common case, expressed over [[executeChainTasks]]. */
  def executeChain(prior: Map[String, MsgState], msgs: Seq[StreamMsg],
      run: String => Try[Unit], maxAttempts: Int): Seq[MsgState] = {
    val name = "processOne"
    val p = prior.map { case (id, s) =>
      id -> Map(name -> TaskRun(s.chainKey, id, name, s.state, s.attempts))
    }
    executeChainTasks(p, msgs, Seq(TaskDef(name, run)), maxAttempts)
      .map(r => MsgState(r.chainKey, r.msgId, r.state, r.attempts))
  }

  /** Per-chain streaming state: `gen` counts this chain's triggers,
    * `entries` maps msgId → (per-node task runs keyed by path,
    * gen-last-touched) — the full multi-task registry state per
    * message, not just a collapsed verdict. The gen stamp is what
    * makes eviction safe: a finalised entry is only dropped once
    * `retainTriggers` further triggers have passed, i.e. once the
    * at-least-once source can no longer redeliver it. */
  final case class ChainProgress(gen: Long,
      entries: Map[String, (Map[String, TaskRun], Long)])

  /** Drop entries whose MESSAGE verdict is finalised and that were not
    * touched within the last `retainTriggers` triggers. Eviction is
    * message-level: a message with ANY unfinalised node (including a
    * node carried Unstarted under a discarded parent) is NEVER evicted
    * — it still blocks the chain and carries retry budgets. */
  def evictFinalised(entries: Map[String, (Map[String, TaskRun], Long)],
      gen: Long, retainTriggers: Long): Map[String, (Map[String, TaskRun], Long)] =
    entries.filter { case (_, (runs, touched)) =>
      !TaskStatus.isFinalised(
        messageVerdict(runs.valuesIterator.map(_.state).toSeq)) ||
        touched >= gen - retainTriggers
    }

  /** Registry-aware streaming form — the reference handler's
    * `processStreamEvent(event, processOneTaskDefs, ...)` signature in
    * streaming mode (`/root/reference/kinesis-consumer.js:112-178`):
    * checkpointed `GroupState` replaces the DynamoDB batch-state item
    * (S2/S3), holding one [[TaskRun]] per (message, task-tree node);
    * replay ≡ the source redelivering rows with the same msgId.
    * Update-mode output emits each message's latest VERDICT per
    * trigger ([[messageVerdict]] over its nodes, attempts = max node
    * attempts).
    *
    * State is BOUNDED: message entries whose verdict is finalised are
    * evicted once `retainTriggers` triggers pass without the source
    * redelivering them (past the source's redelivery window a
    * tombstone serves no purpose), so per-chain state is
    * O(in-flight + recent), not O(stream lifetime). `retainTriggers`
    * trades exactly-once resume for memory: a finalised message
    * redelivered AFTER eviction re-executes from scratch, so size the
    * knob to cover the source's maximum redelivery window (Kinesis:
    * the stream's retention / the consumer's max replay depth).
    * Entries with any unfinalised node always survive. The
    * checkpointed state uses a product (schema-ful) encoder, so
    * [[ChainProgress]] has a real state-store schema with an
    * evolution path when it gains a field (the round-13 kryo→product
    * swap itself is a breaking state-format change — checkpoints
    * written by earlier rounds must be discarded). */
  def streamTasks(msgs: Dataset[StreamMsg], registry: Seq[TaskDef],
      maxAttempts: Int, retainTriggers: Long = 100L): Dataset[MsgState] = {
    require(registry.nonEmpty, "task registry must not be empty")
    implicit val stateEnc = Encoders.product[ChainProgress]
    implicit val outEnc = Encoders.product[MsgState]
    msgs.groupByKey(_.chainKey)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[StreamMsg],
            state: GroupState[ChainProgress]) =>
          val prior = state.getOption.getOrElse(ChainProgress(0L, Map.empty))
          val gen = prior.gen + 1
          val priorRuns = prior.entries.map { case (id, (runs, _)) =>
            id -> runs }
          val runs = executeChainTasks(priorRuns, it.toSeq, registry,
            maxAttempts)
          val byMsg = runs.groupBy(_.msgId)
          val out = runs.map(_.msgId).distinct.map { id =>
            val rs = byMsg(id)
            MsgState(rs.head.chainKey, id,
              messageVerdict(rs.map(_.state)),
              rs.map(_.attempts).max)
          }
          val touched = prior.entries ++ byMsg.map { case (id, rs) =>
            id -> (rs.map(r => r.task -> r).toMap, gen) }
          state.update(ChainProgress(gen,
            evictFinalised(touched, gen, retainTriggers)))
          out.iterator
      }
  }
}
