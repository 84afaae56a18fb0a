package graft.model

/** The nine-state task state machine of the reference engine.
  *
  * Reference behavior: `/root/reference/README.md:37-224` (state kinds) and
  * `/root/reference/test/batch.test.js:301-465` (transitions observed through
  * revive/persist round-trips).
  *
  * Families:
  *  - success  (Completed, Succeeded)          — finalised, work done
  *  - failure  (Failed, TimedOut)              — NOT finalised, retryable
  *  - rejected (Rejected, Discarded, Abandoned) — finalised, work refused
  *  - open     (Unstarted, Started)            — not yet finalised
  *
  * A batch may only advance its checkpoint when every task of every message
  * is finalised (success or rejected family); any open/failure task leaves
  * the message "incomplete" and forces a replay
  * (`/root/reference/test/kinesis-consumer.test.js:1272-1380`).
  */
object TaskStatus {
  val Unstarted = "Unstarted"
  val Started = "Started"
  val Completed = "Completed"
  val Succeeded = "Succeeded"
  val Failed = "Failed"
  val TimedOut = "TimedOut"
  val Rejected = "Rejected"
  val Discarded = "Discarded"
  val Abandoned = "Abandoned"

  val all: Seq[String] = Seq(Unstarted, Started, Completed, Succeeded,
    Failed, TimedOut, Rejected, Discarded, Abandoned)

  val successFamily: Set[String] = Set(Completed, Succeeded)
  val failureFamily: Set[String] = Set(Failed, TimedOut)
  val rejectedFamily: Set[String] = Set(Rejected, Discarded, Abandoned)

  /** Terminal states: the task never runs again. */
  val finalisedFamily: Set[String] = successFamily ++ rejectedFamily

  def isFinalised(s: String): Boolean = finalisedFamily.contains(s)
  def isRejected(s: String): Boolean = rejectedFamily.contains(s)
}
