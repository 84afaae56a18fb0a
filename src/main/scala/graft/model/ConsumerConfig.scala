package graft.model

/** Engine configuration mirroring the reference's options surface
  * (`/root/reference/default-kinesis-options.json:29-47`), with the
  * fail-fast validation matrix from
  * `/root/reference/kinesis-processing.js:359-462` (confirmed by
  * `/root/reference/test/settings.test.js:226-285`) enforced at
  * construction — a misconfigured pipeline must throw before any job
  * launches, mirroring FatalError-at-configure.
  *
  * @param streamName           logical source stream name
  * @param consumerId           `<functionName>:<stage>` (+ optional suffix)
  * @param sequencingRequired   messages must carry resolvable seqNos
  * @param sequencingPerKey     one ordered chain per distinct key tuple
  *                             (vs one chain per shard)
  * @param batchKeyedOnEventID  batch identity `E|<eventID>` instead of
  *                             `S|<shardId>`
  * @param idPropertyNames      compound (dotted) property names → `ids`
  * @param keyPropertyNames     compound property names → `keys`
  * @param seqNoPropertyNames   compound property names → `seqNos`
  *                             (empty ⇒ event seqNos are used)
  * @param strict               escalate missing configured ID properties
  *                             from warn-only (the reference's fixed
  *                             behavior — ids never throw,
  *                             `kinesis-identify.js:96-97,108-131`) to
  *                             reject-with-reason; keys/seqNos are
  *                             unaffected (their strictness is tied to
  *                             sequencingPerKey / sequencingRequired as
  *                             in the reference)
  * @param maxNumberOfAttempts  retry budget per task (default 10)
  * @param migrateLegacyStateKeys re-key state rows written in the
  *                             pre-md5-tiebreak `B|id|key|seqNo` format
  *                             on load (one-time per key). Leave true
  *                             while any pre-upgrade state table may
  *                             still hold legacy rows; set false once
  *                             migration is complete so steady-state
  *                             batches skip the migration join entirely
  */
final case class ConsumerConfig(
    streamName: String = "events",
    consumerId: String = "graft:dev",
    sequencingRequired: Boolean = true,
    sequencingPerKey: Boolean = false,
    batchKeyedOnEventID: Boolean = false,
    idPropertyNames: Seq[String] = Nil,
    keyPropertyNames: Seq[String] = Nil,
    seqNoPropertyNames: Seq[String] = Nil,
    strict: Boolean = false,
    migrateLegacyStateKeys: Boolean = true,
    maxNumberOfAttempts: Int = 10) {

  // Conflict matrix (reference kinesis-processing.js:405-456):
  require(sequencingRequired || !sequencingPerKey,
    "FATAL: sequencingPerKey without sequencingRequired — would block all shards")
  require(!sequencingPerKey || keyPropertyNames.nonEmpty,
    "FATAL: sequencingPerKey requires keyPropertyNames")
  require(sequencingPerKey || keyPropertyNames.isEmpty,
    "FATAL: keyPropertyNames configured without sequencingPerKey")
  require(maxNumberOfAttempts >= 1, "maxNumberOfAttempts must be >= 1")

  /** `K|<streamName>|<consumerId>` — first half of the batch key
    * (reference test/batch.test.js:123-151). */
  def streamConsumerId: String = s"K|$streamName|$consumerId"
}
