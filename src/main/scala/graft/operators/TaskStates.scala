package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.model.TaskStatus

/** Task-state machine transforms (SURVEY §2.6 T2/T6/T7/T8) over
  * `array<struct>` columns of [[graft.model.Schemas.taskStateSchema]].
  *
  * Everything here is a Catalyst higher-order function (`transform` /
  * `exists`) — the whole state sweep stays inside whole-stage codegen
  * with zero UDFs and zero shuffles: state transitions are embarrassingly
  * row-parallel, only the subsequent persistence keys by batch.
  *
  * Reference behavior: revive `/root/reference/test/batch.test.js:301-731`,
  * abandon `test/batch.test.js:1027-1179`, max-attempts discard
  * `test/kinesis-consumer.test.js:1386-1491`, timeout rollback
  * `test/kinesis-consumer.test.js:2884-3030`.
  */
object TaskStates {

  import TaskStatus._

  /** Rebuild one task struct with replaced state/reason/attempts,
    * preserving the taskStateSchema field order. */
  private def rebuilt(t: Column, state: Column, reason: Column,
      attempts: Column): Column =
    struct(
      t.getField("name").as("name"),
      t.getField("path").as("path"),
      t.getField("kind").as("kind"),
      state.as("state"),
      t.getField("error").as("error"),
      reason.as("reason"),
      attempts.as("attempts"),
      t.getField("totalAttempts").as("totalAttempts"),
      t.getField("began").as("began"),
      t.getField("took").as("took"))

  private def finalised(t: Column): Column =
    t.getField("state").isin(finalisedFamily.toSeq: _*)

  /** T2+T8 — revive persisted task-likes against the CURRENT task
    * registry: a prior task whose definition no longer exists is
    * restored unusable, and if it is not already finalised it is swept
    * to `Abandoned` (a Rejected kind) so the batch can finalise
    * (`test/batch.test.js:1027-1179`, restore-unusable `1102-1142`).
    */
  def reviveAndAbandon(tasks: Column, registry: Seq[String]): Column =
    transform(tasks, t => {
      val known = t.getField("name").isin(registry: _*)
      when(!known && !finalised(t),
        rebuilt(t, lit(Abandoned),
          lit("Abandoned task - no definition or code"),
          t.getField("attempts")))
        .otherwise(t)
    })

  /** T6 — a failure-family task at or over the attempts cap is
    * `Discarded`; its message becomes rejected → DMQ and the batch can
    * complete (`test/kinesis-consumer.test.js:1386-1491`,
    * `maxNumberOfAttempts` `default-kinesis-options.json:37`). */
  def discardOverLimit(tasks: Column, maxAttempts: Int): Column =
    transform(tasks, t => {
      val overLimit = t.getField("state").isin(failureFamily.toSeq: _*) &&
        t.getField("attempts") >= maxAttempts
      when(overLimit,
        rebuilt(t, lit(Discarded),
          lit(s"Discarded after $maxAttempts attempts"),
          t.getField("attempts")))
        .otherwise(t)
    })

  /** T7 — timeout sweep: running tasks become `TimedOut` and the
    * attempt that was underway is rolled back (a timeout is an
    * environment failure, not a burned retry —
    * `test/kinesis-consumer.test.js:2985-2988`). */
  def timeoutRunning(tasks: Column): Column =
    transform(tasks, t =>
      when(t.getField("state") === Started,
        rebuilt(t, lit(TimedOut), lit("Ran out of time"),
          greatest(t.getField("attempts") - 1, lit(0))))
        .otherwise(t))

  /** Attempt accounting at execution start: every task about to run
    * increments `attempts` and `totalAttempts` (persisted across
    * replays — `test/batch.test.js:380-465`). */
  def beginExecution(tasks: Column): Column =
    transform(tasks, t => {
      val runs = !finalised(t)
      when(runs, struct(
        t.getField("name").as("name"),
        t.getField("path").as("path"),
        t.getField("kind").as("kind"),
        lit(Started).as("state"),
        t.getField("error").as("error"),
        t.getField("reason").as("reason"),
        (t.getField("attempts") + 1).as("attempts"),
        (coalesce(t.getField("totalAttempts"), lit(0)) + 1).as("totalAttempts"),
        t.getField("began").as("began"),
        t.getField("took").as("took")))
        .otherwise(t)
    })

  /** T4 — master/slave propagation: a processAll master task's
    * finalised state fans out to each message's slave task, EXCEPT
    * where the slave already finalised on its own (per-message
    * overrides are preserved —
    * `/root/reference/README.md:183-221`, master/slave asserts
    * `test/batch.test.js:1115-1121`). `masterState` is typically a
    * batch-level literal or a column broadcast-joined onto the
    * messages. */
  def propagateMasterToSlaves(tasks: Column, masterState: Column,
      masterReason: Column): Column =
    transform(tasks, t =>
      when(masterState.isin(finalisedFamily.toSeq: _*) && !finalised(t),
        rebuilt(t, masterState, masterReason, t.getField("attempts")))
        .otherwise(t))

  /** T5 — sub-task trees, flattened to rows with a `/`-joined `path`
    * (root first). A task is fully finalised only when its WHOLE
    * subtree is (`/root/reference/README.md:55-57`,
    * `test/kinesis-consumer.test.js:3387-3425`). */
  def subtreeFullyFinalised(tasks: Column, rootPath: String): Column =
    forall(
      filter(tasks, t => t.getField("path") === rootPath ||
        t.getField("path").startsWith(rootPath + "/")),
      t => finalised(t))
}
