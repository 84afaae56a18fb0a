package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.ConsumerConfig

/** Identification cluster (SURVEY §2.3 I1–I4): MD5 digests, event ids,
  * and configurable ids/keys/seqNos extracted from nested properties.
  *
  * Reference behavior: `/root/reference/kinesis-identify.js:33-189` with
  * the configured/missing matrix pinned by
  * `/root/reference/test/kinesis-identify.test.js:72-425`.
  *
  * Spark-first: every lookup is a codegen'd column expression — compound
  * (dotted) property names become JSON paths, and the reference's
  * message → userRecord → record fallback chain
  * (`kinesis-identify.js:170-189`) is a `coalesce` over the same path
  * applied to each source. Sources are JSON-string columns (a typed
  * struct source is passed as `to_json(struct(...))`), mirroring the
  * reference's schemaless messages.
  */
object Identify {

  /** I1 — MD5 hex digests of message / record / userRecord / raw data.
    * The reference hashes `JSON.stringify(x)` (`kinesis-identify.js:33-44`)
    * whose key order is insertion order; this engine's canonical
    * serialization is the column's own JSON text (or `to_json` of a
    * struct), so digests are stable identities WITHIN this engine but are
    * not interop with the JS reference's digests (SURVEY §7.4).
    */
  def md5s(message: Column, record: Column, userRecord: Column,
      data: Column): Column =
    struct(
      md5(message.cast("binary")).as("msg"),
      md5(record.cast("binary")).as("rec"),
      md5(userRecord.cast("binary")).as("userRec"),
      md5(data.cast("binary")).as("data"))

  /** I2 — `{eventID, eventSeqNo, eventSubSeqNo}` projection
    * (`kinesis-identify.js:54-68`); `eventSubSeqNo` is null for non-KPL
    * records. */
  def eventIdAndSeqNos(eventID: Column, eventSeqNo: Column,
      eventSubSeqNo: Column): Column =
    struct(eventID.as("eventID"), eventSeqNo.as("eventSeqNo"),
      eventSubSeqNo.as("eventSubSeqNo"))

  /** I4 — compound-name lookup with msg → userRecord → record fallback
    * (`kinesis-identify.js:170-189`). Each source is a JSON string
    * column; a `.`-separated name walks nested objects via the JSON
    * path. */
  def propertyValue(name: String, sources: Seq[Column]): Column =
    coalesce(sources.map(src => get_json_object(src, s"$$.$name")): _*)

  /** `[name, value][]` pairs as `array<struct<name,value>>` — the shape
    * the reference builds for ids/keys/seqNos
    * (`kinesis-identify.js:85-133`). */
  def propertyPairs(names: Seq[String], sources: Seq[Column]): Column =
    array(names.map(n =>
      struct(lit(n).as("name"), propertyValue(n, sources).as("value"))): _*)

  /** Flat pipe-joined key string: `"id1:ID1|id2:1001"` (SURVEY §1.1 key
    * strings; fixture `/root/reference/test/persisting.test.json:14-16`).
    * Null values render as an empty string after the colon so the part
    * count is stable. */
  def pipeString(names: Seq[String], sources: Seq[Column]): Column =
    concat_ws("|", names.map(n =>
      concat(lit(s"$n:"),
        coalesce(propertyValue(n, sources).cast("string"), lit("")))): _*)

  /** The reference's missing-property reason text, built from the
    * resolved pairs: `Missing property [k2] for keys` /
    * `Missing properties [k1, k2] for keys`
    * (`kinesis-identify.js:158-167`). Null when nothing is missing. */
  private def missingPropsReason(pairs: Column, forName: String): Column = {
    val miss = transform(
      filter(pairs, p => p.getField("value").isNull),
      p => p.getField("name"))
    when(size(miss) > 0, concat(
      when(size(miss) === 1, lit("Missing property ["))
        .otherwise(lit("Missing properties [")),
      array_join(miss, ", "), lit(s"] for $forName")))
  }

  /** JS truthiness of `c` (`c ? … : …`), resolved from the column's
    * static type in `df` (plan-time schema lookup; no job,
    * streaming-safe): a number is falsy when zero or NaN — Spark's
    * `NaN != 0` is TRUE, so float/double columns need the explicit
    * isnan guard (integral and decimal types cannot hold NaN) — and a
    * string only when empty (string "0" is truthy). NULL is falsy. */
  private def jsTruthy(df: DataFrame, c: Column): Column =
    df.select(c).schema.head.dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType =>
        c.isNotNull && !isnan(c) && c =!= lit(0)
      case _: org.apache.spark.sql.types.NumericType =>
        c.isNotNull && c =!= lit(0)
      case _ =>
        val s = c.cast("string")
        s.isNotNull && s =!= ""
    }

  /** I3 — resolve ids, keys and seqNos per the configured property names
    * (`kinesis-identify.js:85-133`, matrix
    * `test/kinesis-identify.test.js:208-425`):
    *
    *  - `ids` from `idPropertyNames` (empty array when unconfigured)
    *  - `keys` from `keyPropertyNames`; sequencing-per-key with NO key
    *    property names is a FatalError at configure time (enforced by
    *    [[ConsumerConfig]]'s constructor); per-key key properties that
    *    fail to resolve reject with the reference's
    *    `Missing property [k] for keys` reason
    *  - `seqNos` from `seqNoPropertyNames`, defaulting to
    *    `[eventSeqNo, eventSubSeqNo]` (sub only when present) when
    *    unconfigured; under required sequencing, missing configured
    *    seqNo properties (or, on the default path, no resolvable event
    *    seqNo) mark the row rejected
    *  - `ids` with missing properties warn-only unless [[ConsumerConfig.strict]]
    *
    * Output columns: `ids`, `keys`, `seqNos` (array<struct<name,value>>),
    * flat `id`/`key`/`seqNo` strings (`key` is the reference's blank
    * `" "` when unsequenced/empty — fixture
    * `test/persisting-unseq.test.json:15`), and `reason_rejected`
    * (null = usable).
    */
  def idsKeysSeqNos(cfg: ConsumerConfig, df: DataFrame, message: Column,
      userRecord: Column, record: Column, eventSeqNo: Column,
      eventSubSeqNo: Column): DataFrame = {
    val sources = Seq(message, userRecord, record)

    val ids =
      if (cfg.idPropertyNames.nonEmpty) propertyPairs(cfg.idPropertyNames, sources)
      else array().cast("array<struct<name:string,value:string>>")
    val idStr =
      if (cfg.idPropertyNames.nonEmpty) pipeString(cfg.idPropertyNames, sources)
      else lit("")

    val keys =
      if (cfg.keyPropertyNames.nonEmpty) propertyPairs(cfg.keyPropertyNames, sources)
      else array().cast("array<struct<name:string,value:string>>")
    val keyStr =
      if (cfg.keyPropertyNames.nonEmpty) pipeString(cfg.keyPropertyNames, sources)
      else lit(" ") // blank key for unsequenced/keyless (persisting-unseq fixture)

    val (seqNos, seqNoStr) =
      if (cfg.seqNoPropertyNames.nonEmpty)
        (propertyPairs(cfg.seqNoPropertyNames, sources),
          pipeString(cfg.seqNoPropertyNames, sources))
      else {
        // JS-truthiness fidelity (kinesis-identify.js:121-126): the
        // reference gates the eventSubSeqNo part on `eventSubSeqNo ?`,
        // so a NUMERIC ZERO sub-sequence number — which is exactly what
        // KPL de-aggregation assigns the FIRST user-record of every
        // aggregate (kpl-deagg-async.js:116) — counts as absent and the
        // message resolves a single-part seqNo. Consequence inherited
        // from the reference: a multi-record KPL aggregate under
        // required sequencing with DEFAULT seqNo names mixes 1-part and
        // 2-part tuples and fails the Q1 heterogeneity check — KPL
        // pipelines configure seqNoPropertyNames.
        //
        // The SAME gate guards the whole default path: the reference
        // only builds seqNos at all under `eventIdAndSeqNos.eventSeqNo
        // ?`, so a falsy eventSeqNo yields EMPTY seqNos — which rejects
        // under required sequencing — never a ('eventSeqNo', null/'0')
        // pair. JS falsiness is TYPE-dependent; see [[jsTruthy]].
        val seqTruthy = jsTruthy(df, eventSeqNo)
        val sub = jsTruthy(df, eventSubSeqNo)
        val pairs = when(!seqTruthy,
            array().cast("array<struct<name:string,value:string>>"))
          .when(sub, array(
            struct(lit("eventSeqNo").as("name"),
              eventSeqNo.cast("string").as("value")),
            struct(lit("eventSubSeqNo").as("name"),
              eventSubSeqNo.cast("string").as("value"))))
          .otherwise(array(
            struct(lit("eventSeqNo").as("name"),
              eventSeqNo.cast("string").as("value"))))
        val flat = when(!seqTruthy, lit(null).cast("string"))
          .when(sub, concat_ws("|",
            concat(lit("eventSeqNo:"), eventSeqNo.cast("string")),
            concat(lit("eventSubSeqNo:"), eventSubSeqNo.cast("string"))))
          .otherwise(concat(lit("eventSeqNo:"), eventSeqNo.cast("string")))
        (pairs, flat)
      }

    // Validation columns — the reference's per-category strictness matrix
    // (`getPropertyValues`'s throwErrorIfPropertyMissing,
    // kinesis-identify.js:96-131, pinned by
    // test/kinesis-identify.test.js:328-425): a missing configured
    // property rejects for KEYS only under sequencingPerKey and for
    // SEQNOS only under sequencingRequired, with the reference's exact
    // "Missing property [n] for <kind>" reason; missing IDS always only
    // warn (values stay null) unless `cfg.strict` escalates them. The
    // reference throws per message; this engine's row-level equivalent
    // is reject-with-reason, feeding the same DRQ path. One deviation
    // forced by JSON: `get_json_object` cannot distinguish an absent
    // property from one present with a JSON null, so null-valued counts
    // as missing.
    val idsMissing =
      if (cfg.strict && cfg.idPropertyNames.nonEmpty)
        missingPropsReason(ids, "ids")
      else lit(null).cast("string")
    val keysMissing =
      if (cfg.sequencingPerKey && cfg.keyPropertyNames.nonEmpty)
        missingPropsReason(keys, "keys")
      else lit(null).cast("string")
    val seqNosMissing =
      if (cfg.sequencingRequired && cfg.seqNoPropertyNames.nonEmpty)
        missingPropsReason(seqNos, "seqNos")
      else lit(null).cast("string")
    // Default-seqNo path (no configured names): sequencing required with
    // no resolvable event seqNo (kinesis-identify.js:127-131).
    val noSeqNos = forall(seqNos, p => p.getField("value").isNull)
    val reason = coalesce(idsMissing, keysMissing, seqNosMissing,
      when(lit(cfg.sequencingRequired) && noSeqNos,
        lit("Sequencing is required, but failed to resolve any seqNos")))

    df.withColumn("ids", ids).withColumn("id", idStr)
      .withColumn("keys", keys).withColumn("key", keyStr)
      .withColumn("seqNos", seqNos).withColumn("seqNo", seqNoStr)
      .withColumn("reason_rejected", reason)
  }

  /** Q1 heterogeneity fail-fast
    * (`/root/reference/test/sequencing-per-shard.test.js:133-161`):
    * when sequencing is required, every message must carry the SAME
    * seqNo part name at each position — comparing values of different
    * keys would order garbage, so the reference's
    * `prepareMessagesForSequencing` throws instead. With CONFIGURED
    * `seqNoPropertyNames` the part names are plan constants, so
    * heterogeneity is impossible by construction and no check is
    * needed; it can only arise on the data-driven default path (a
    * batch mixing KPL user-records that carry `eventSubSeqNo` with
    * plain records that don't). That one case costs a partial-agg
    * `distinct` over a tiny derived column per batch.
    *
    * When sequencing is NOT required, heterogeneous seqNo names are
    * tolerated (reference `sequencing-per-shard.test.js:163-220`). */
  private def failFastOnHeterogeneousSeqNos(df: DataFrame): Unit = {
    val nameArrs = df
      .select(transform(col("seqNos"), p => p.getField("name")).as("names"))
      .distinct().limit(8).collect()
    if (nameArrs.length > 1) {
      // a caller-supplied seqNos column may contain nulls — treat a
      // null part-name array as empty rather than NPE inside the check
      val arrs = nameArrs.map(r =>
        Option(r.getSeq[String](0)).getOrElse(Seq.empty))
      val i = (0 until arrs.map(_.length).max).find(ix =>
        arrs.map(_.lift(ix)).distinct.length > 1).getOrElse(0)
      throw new IllegalStateException("NOT all of the messages have the " +
        s"same key at sequence number part[$i]")
    }
  }

  /** The order of one chain's messages (SURVEY §2.4 Q4–Q6): each seqNo
    * part normalized via [[Sequencing.sortKey]], then `idCol` to break
    * ties by arrival. `Nil` when sequencing is not required, where no
    * chain has an order. When sequencing is required on the data-driven
    * default seqNo path, heterogeneous part names in `df` fail fast (see
    * [[failFastOnHeterogeneousSeqNos]]). [[sequence]]'s window sorts by
    * it, and the consumer's chain fold sorts each chain by it. */
  def chainOrder(cfg: ConsumerConfig, df: DataFrame, seqNoParts: Seq[Column],
      idCol: Column): Seq[Column] =
    if (!cfg.sequencingRequired) Nil
    else {
      // The eager check collects — illegal on a genuine streaming
      // DataFrame (AnalysisException at plan time). Skip it there: the
      // engine's streaming drivers run this inside foreachBatch, where
      // each micro-batch arrives as a BATCH DataFrame and the check
      // still fires per batch; a caller wiring a raw streaming DF
      // through `sequence` gets the reference's throw on the first
      // micro-batch its own foreachBatch materializes.
      if (cfg.seqNoPropertyNames.isEmpty && !df.isStreaming &&
          df.columns.contains("seqNos"))
        failFastOnHeterogeneousSeqNos(df)
      seqNoParts.map(Sequencing.sortKey) :+ idCol
    }

  /** Q4–Q6 mode selection from config: sequencing honoring the
    * validation matrix already enforced by [[ConsumerConfig]]. Key parts
    * are extracted from the configured key property names; seqNo parts
    * from the configured (or defaulted) seqNo property names, each
    * ordered by [[chainOrder]]. */
  def sequence(cfg: ConsumerConfig, df: DataFrame, shardCol: Column,
      message: Column, userRecord: Column, record: Column,
      eventSeqNo: Column, idCol: Column): DataFrame = {
    val sources = Seq(message, userRecord, record)
    val parts =
      if (cfg.seqNoPropertyNames.nonEmpty)
        cfg.seqNoPropertyNames.map(n => propertyValue(n, sources))
      else Seq(eventSeqNo)
    val keyCols =
      if (cfg.sequencingPerKey)
        cfg.keyPropertyNames.map(n => propertyValue(n, sources))
      else Nil
    chainOrder(cfg, df, parts, idCol) match {
      case Nil => Sequencing.none(df)
      case order => Sequencing.chain(df, shardCol +: keyCols, order, idCol)
    }
  }
}
