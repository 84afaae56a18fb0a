package graft

import java.nio.file.Files
import java.util.Base64

import scala.util.{Failure, Try}

import org.apache.spark.sql.functions._

import graft.model.ConsumerConfig
import graft.streaming.ConsumerPipeline

/** Streaming-shell fidelity pinned against the reference contract:
  * BFK state identity (`test/persisting.test.js:17-21` — the persisted
  * message state carries md5s alongside id/key/seqNo), state-schema
  * migration, and DMQ envelope reason propagation
  * (`/root/reference/kinesis-processing.js:708-724`). */
class PipelineFidelitySpec extends SparkSpec {

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  // ids + seqNos resolved from the MESSAGE payload only, so the BFK is
  // fully payload-derived and eventIDs are free to change across
  // redeliveries (the Kinesis resharding / re-poll case).
  private val cfg = ConsumerConfig(
    idPropertyNames = Seq("id"), seqNoPropertyNames = Seq("n"),
    maxNumberOfAttempts = 1)

  test("BFK collision: same id|key|seqNo, distinct payloads ⇒ distinct " +
      "state rows and one DMQ envelope each") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bfk").toString
    // Two DIFFERENT messages whose business ids collide (same id, same
    // seqNo) on different shards; both always fail, maxAttempts=1.
    val batch = Seq(
      ("e1", "shard-0", "pk1", b64("""{"id":7,"n":1,"v":"alpha"}""")),
      ("e2", "shard-1", "pk2", b64("""{"id":7,"n":1,"v":"beta"}"""))
    ).toDF("eventID", "shardId", "partitionKey", "data")
    val fail: String => Try[Unit] =
      p => Failure(new RuntimeException(s"boom:$p"))

    val r1 = ConsumerPipeline(cfg, fail, s"$dir/state", s"$dir/dlq")(batch, 1L)
    assert(r1.failed === 2 && r1.replay)
    val state1 = spark.read.parquet(s"$dir/state")
      .filter(col("task") === "processOne")
    // the md5 tiebreak keeps the two colliding messages apart
    assert(state1.select("msgId").distinct().count() === 2)
    assert(state1.count() === 2)

    // trigger 2 redelivers the same payloads under NEW eventIDs: the
    // payload-derived BFK still matches, so attempts carry (1 ⇒ at-cap
    // Discarded), rather than silently restarting at 0
    val rekeyed = Seq(
      ("e9", "shard-0", "pk1", b64("""{"id":7,"n":1,"v":"alpha"}""")),
      ("e8", "shard-1", "pk2", b64("""{"id":7,"n":1,"v":"beta"}"""))
    ).toDF("eventID", "shardId", "partitionKey", "data")
    val r2 = ConsumerPipeline(cfg, fail, s"$dir/state", s"$dir/dlq")(rekeyed, 2L)
    assert(r2.discarded === 2 && !r2.replay)

    // exactly one DMQ envelope per distinct message, each with the REAL
    // failure reason, not a generic literal
    val letters = spark.read.parquet(s"$dir/dlq")
      .filter(col("kind") === "DM")
    assert(letters.count() === 2)
    assert(letters.filter(col("envelope").contains("alpha")).count() === 1)
    assert(letters.filter(col("envelope").contains("beta")).count() === 1)
    assert(letters.filter(col("envelope")
      .contains("\"reasonRejected\":\"boom:")).count() === 2)

    // a replayed trigger after discard writes NOTHING new to the DMQ
    ConsumerPipeline(cfg, fail, s"$dir/state", s"$dir/dlq")(rekeyed, 3L)
    assert(spark.read.parquet(s"$dir/dlq")
      .filter(col("kind") === "DM").count() === 2)
  }

  test("state-schema migration: pre-task-column state resumes with " +
      "attempts intact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mig").toString
    val statePath = s"$dir/state"
    // Simulate a state table written by the single-task era: NO `task`
    // and NO `reason` columns. e1 already failed once.
    Seq(("S|shard-0", "e1", "Failed", 1))
      .toDF("chainKey", "msgId", "state", "attempts")
      .write.parquet(statePath)

    val batch = Seq(
      ("e1", "shard-0", "pk1", b64("""{"v":1,"poison":true}"""))
    ).toDF("eventID", "shardId", "partitionKey", "data")
    val task: String => Try[Unit] =
      p => if (p.contains("poison")) Failure(new RuntimeException("boom"))
           else Try(())

    // maxAttempts=2 with one prior attempt: a CORRECT migration runs the
    // task once more (attempts 1 → 2); a broken one would silently reset
    // to a fresh row at attempts 1.
    val r = ConsumerPipeline(ConsumerConfig(maxNumberOfAttempts = 2), task,
      statePath, s"$dir/dlq")(batch, 1L)
    assert(r.failed === 1)
    val row = spark.read.parquet(statePath)
      .filter(col("msgId") === "e1" && col("task") === "processOne")
      .select("state", "attempts").as[(String, Int)].collect()
    assert(row === Array(("Failed", 2)))
  }

  test("BFK key-format migration: pre-md5 legacy state rows match by " +
      "their prefix, keep attempts, and re-key without duplicate DMQs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bfk-mig").toString
    val statePath = s"$dir/state"
    // A state table written before the md5 tiebreak: the key is the
    // md5-stripped prefix of today's format. e-old already failed once.
    Seq(("S|shard-0", "B|id:7| |n:1", "processOne", "Failed", 1))
      .toDF("chainKey", "msgId", "task", "state", "attempts")
      .write.parquet(statePath)

    val batch = Seq(
      ("e1", "shard-0", "pk1", b64("""{"id":7,"n":1,"v":"alpha"}"""))
    ).toDF("eventID", "shardId", "partitionKey", "data")
    val fail: String => Try[Unit] =
      p => Failure(new RuntimeException(s"boom:$p"))

    // maxAttempts=2 with one LEGACY prior attempt: a correct migration
    // runs once more (attempts 1 → 2); a broken one resets to 1.
    val cfg2 = cfg.copy(maxNumberOfAttempts = 2)
    val r1 = ConsumerPipeline(cfg2, fail, statePath, s"$dir/dlq")(batch, 1L)
    assert(r1.failed === 1 && r1.replay)
    val rows = spark.read.parquet(statePath)
      .filter(col("task") === "processOne")
      .select("msgId", "state", "attempts").as[(String, String, Int)]
      .collect()
    assert(rows.length === 1)
    val (newKey, st, att) = rows.head
    assert(st === "Failed" && att === 2)
    // the row was re-keyed to the md5-suffixed format — one-time migration
    assert(newKey.startsWith("B|id:7| |n:1|") &&
      newKey.matches(""".*\|[0-9a-f]{32}$"""))

    // redelivery: at cap ⇒ discarded, exactly ONE DMQ envelope (the
    // migrated row's discard marker must anti-join future replays too)
    val r2 = ConsumerPipeline(cfg2, fail, statePath, s"$dir/dlq")(batch, 2L)
    assert(r2.discarded === 1 && !r2.replay)
    ConsumerPipeline(cfg2, fail, statePath, s"$dir/dlq")(batch, 3L)
    assert(spark.read.parquet(s"$dir/dlq")
      .filter(col("kind") === "DM").count() === 1)
  }

  test("BFK key-format migration matches by equality: a legacy key whose " +
      "property value ends in |<32 hex> still migrates") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bfk-hex").toString
    val statePath = s"$dir/state"
    // Adversarial legacy row: the seqNo VALUE itself ends in '|' + 32
    // lowercase hex chars, so a regex "ends in the md5 suffix"
    // classification would misread it as current-format and never
    // migrate it (attempts silently reset). Equality matching against
    // the batch's computed legacy keys is immune.
    val hexTail = "a" * 32
    val legacyKey = s"B|id:7| |n:1|$hexTail"
    Seq(("S|shard-0", legacyKey, "processOne", "Failed", 1))
      .toDF("chainKey", "msgId", "task", "state", "attempts")
      .write.parquet(statePath)

    val batch = Seq(
      ("e1", "shard-0", "pk1", b64(s"""{"id":7,"n":"1|$hexTail","v":"x"}"""))
    ).toDF("eventID", "shardId", "partitionKey", "data")
    val fail: String => Try[Unit] =
      _ => Failure(new RuntimeException("boom"))

    val cfg2 = cfg.copy(maxNumberOfAttempts = 2)
    val r1 = ConsumerPipeline(cfg2, fail, statePath, s"$dir/dlq")(batch, 1L)
    assert(r1.failed === 1)
    val rows = spark.read.parquet(statePath)
      .filter(col("task") === "processOne")
      .select("msgId", "attempts").as[(String, Int)].collect()
    // one row, attempts carried 1 → 2, re-keyed with a REAL md5 suffix
    // appended after the hex-tailed legacy key
    assert(rows.length === 1)
    assert(rows.head._2 === 2)
    assert(rows.head._1.startsWith(legacyKey + "|") &&
      rows.head._1.matches(""".*\|[0-9a-f]{32}$"""))
  }

  test("migrateLegacyStateKeys=false skips the migration join: legacy " +
      "rows stay untouched and the batch starts fresh rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bfk-off").toString
    val statePath = s"$dir/state"
    Seq(("S|shard-0", "B|id:7| |n:1", "processOne", "Failed", 1))
      .toDF("chainKey", "msgId", "task", "state", "attempts")
      .write.parquet(statePath)

    val batch = Seq(
      ("e1", "shard-0", "pk1", b64("""{"id":7,"n":1,"v":"alpha"}"""))
    ).toDF("eventID", "shardId", "partitionKey", "data")
    val fail: String => Try[Unit] =
      _ => Failure(new RuntimeException("boom"))

    val cfg2 = cfg.copy(maxNumberOfAttempts = 2,
      migrateLegacyStateKeys = false)
    val r1 = ConsumerPipeline(cfg2, fail, statePath, s"$dir/dlq")(batch, 1L)
    assert(r1.failed === 1)
    // steady-state semantics: no prefix matching ran — the legacy row
    // survives on its old key at attempts 1 and the message got a FRESH
    // md5-suffixed row at attempts 1 (two rows total)
    val rows = spark.read.parquet(statePath)
      .filter(col("task") === "processOne")
      .select("msgId", "attempts").as[(String, Int)].collect()
      .sortBy(_._1.length)
    assert(rows.length === 2)
    assert(rows.head === (("B|id:7| |n:1", 1)))
    assert(rows.last._1.matches("""B\|id:7\| \|n:1\|[0-9a-f]{32}""") &&
      rows.last._2 === 1)
  }

  test("migrateLegacyStateKeys=false leaves NO migration join in the " +
      "plan (absent, not merely inert)") {
    import spark.implicits._
    val loaded = Seq(("S|s0", "B|id:1| |n:1", "processOne", "Failed", 1))
      .toDF("chainKey", "msgId", "task", "state", "attempts")
    val sequenced = Seq(("B|id:1| |n:1" + "|" + "a" * 32))
      .toDF("stateKey")
    val off = graft.streaming.ConsumerPipeline
      .resolvePriorState(loaded, sequenced, migrate = false)
    val offPlan = off.queryExecution.optimizedPlan.toString
    assert(!offPlan.contains("_legacyKey") && !offPlan.contains("Join"),
      s"migration join survives the off switch:\n$offPlan")
    val on = graft.streaming.ConsumerPipeline
      .resolvePriorState(loaded, sequenced, migrate = true)
    val onPlan = on.queryExecution.optimizedPlan.toString
    assert(onPlan.contains("_legacyKey") && onPlan.contains("Join"),
      s"migration join missing when enabled:\n$onPlan")
  }

  test("unusable records route to the DRQ once across a replayed " +
      "trigger — the DR half of the once-only guard (the DM half is " +
      "pinned below and in the BFK tests)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-drq").toString
    // e2's data is not base64 ⇒ reason_unusable = invalid base64 data
    val batch = Seq(
      ("e1", "shard-0", "pk1", b64("""{"id":1,"n":1,"v":"ok"}""")),
      ("e2", "shard-0", "pk2", "%%%not-base64%%%")
    ).toDF("eventID", "shardId", "partitionKey", "data")
    val ok: String => Try[Unit] = _ => Try(())

    val r1 = ConsumerPipeline(cfg, ok, s"$dir/state", s"$dir/dlq")(batch, 1L)
    assert(r1.unusable === 1 && r1.completed === 1)
    val dr1 = spark.read.parquet(s"$dir/dlq").filter(col("kind") === "DR")
    assert(dr1.count() === 1)
    assert(dr1.filter(col("envelope").contains("invalid base64 data"))
      .count() === 1)

    // two replays of the same trigger: the state marker keeps the
    // envelope out BOTH times — letter-FILE idempotence, not just
    // state idempotence
    ConsumerPipeline(cfg, ok, s"$dir/state", s"$dir/dlq")(batch, 2L)
    ConsumerPipeline(cfg, ok, s"$dir/state", s"$dir/dlq")(batch, 3L)
    assert(spark.read.parquet(s"$dir/dlq")
      .filter(col("kind") === "DR").count() === 1,
      "a replayed trigger re-wrote a dead-record envelope")
    // and nothing else leaked into the letter file
    assert(spark.read.parquet(s"$dir/dlq").count() === 1)
  }

  test("identify-rejected messages route to the DMQ once with their " +
      "real reasonRejected") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rej").toString
    // m2 lacks the configured seqNo property `n` ⇒ rejected at identify
    // (sequencing required); m1 is fine.
    val batch = Seq(
      ("e1", "shard-0", "pk1", b64("""{"id":1,"n":1,"v":"ok"}""")),
      ("e2", "shard-0", "pk2", b64("""{"id":2,"v":"no-seqno"}"""))
    ).toDF("eventID", "shardId", "partitionKey", "data")
    val ok: String => Try[Unit] = _ => Try(())

    val r1 = ConsumerPipeline(cfg, ok, s"$dir/state", s"$dir/dlq")(batch, 1L)
    assert(r1.rejected === 1)
    assert(r1.completed === 1 && !r1.replay) // rejection does not block
    val dm = spark.read.parquet(s"$dir/dlq").filter(col("kind") === "DM")
    assert(dm.count() === 1)
    // the reference-exact missing-property reason (kinesis-identify.js
    // :158-167) — NOT the generic failed-to-resolve fallback, which is
    // reserved for the default event-seqNo path
    assert(dm.filter(col("envelope").contains(
      "Missing property [n] for seqNos")).count() === 1)

    // replay: the state marker keeps the DMQ write once-only
    val r2 = ConsumerPipeline(cfg, ok, s"$dir/state", s"$dir/dlq")(batch, 2L)
    assert(r2.rejected === 1)
    assert(spark.read.parquet(s"$dir/dlq")
      .filter(col("kind") === "DM").count() === 1)
  }
}
