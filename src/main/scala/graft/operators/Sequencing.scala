package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequencing (SURVEY §2.4 Q1–Q6): total or per-key orderings from
  * multi-part, type-normalized sequence numbers.
  *
  * Reference semantics pinned by
  * `/root/reference/test/sequencing-per-shard.test.js`,
  * `.../sequencing-per-key.test.js`, `.../sequencing-none.test.js`:
  * every message's seqNo tuple is normalized part-by-part to a sortable
  * value, messages are chained (prev/next links) in lexicographic tuple
  * order — one chain per shard, one per key tuple, or no chains at all —
  * and the chain heads become `firstMessagesToProcess`.
  *
  * Spark-first design: a chain is not a linked list here; it is a window
  * ordering. `row_number()` gives the chain position, `lag`/`lead` give the
  * prev/next links, and `rn == 1` marks the heads. Per-key chains
  * parallelize across Spark partitions natively — correctness needs only
  * per-group order, never a global sort, so nothing here repartitions to 1
  * (SURVEY §7.4). At 100 TB the shuffle is one hash exchange on the window
  * partition keys; skewed keys are handled by AQE (enabled in
  * GraftSession).
  */
object Sequencing {

  /** Q1 sort-type normalization for one seqNo part.
    *
    * The reference classifies each part by value pattern
    * (`test/sequencing-per-shard.test.js:114-128,192-209`): INTEGER_LIKE
    * (ANY integer-valued part — plain `3000` and 56-digit Kinesis seqNos
    * like `'20000000000000000000002'` are the SAME sort type and compare
    * numerically), NUMBER (non-integer floats), DATE, DATE_TIME, STRING.
    * Here each part becomes a fixed-shape struct whose fields sort
    * lexicographically:
    *   - `num`: the double value for non-integer numerics, else null
    *   - `sign`: 0 for negative INTEGER_LIKE, 1 for non-negative, else null
    *   - `digits`: zero-padded 64-char magnitude when integer-like
    *     (nines-complemented for negatives so -30 < -5), else null
    *     (padding makes string compare == numeric compare; DecimalType(38)
    *     is too small for 56-digit Kinesis sequence numbers)
    *   - `txt`: ISO timestamp for DATE/DATE_TIME, raw string for STRING,
    *     else null
    *
    * Classification is by pattern ONLY — every `^-?\d+$` value routes to
    * `digits` regardless of magnitude, so mixed-magnitude INTEGER_LIKE
    * parts order numerically exactly as the reference pins
    * (`'3000' < '20000000000000000000002'`). Unused fields are nulled per
    * type so same-type compares never fall through to a raw-string
    * tiebreak. Nulls sort first within each field, giving a fixed
    * cross-type precedence (DATE/STRING < INTEGER_LIKE < NUMBER at the
    * struct level via the null pattern) for the heterogeneous unsequenced
    * case; when sequencing is required the reference only permits
    * homogeneous part types (`test/sequencing-per-shard.test.js:133-161`).
    */
  def sortKey(part: Column): Column = {
    val s = part.cast("string")
    val isIntegerLike = s.rlike("^-?\\d+$")
    val isNeg = isIntegerLike && s.startsWith("-")
    val magnitude = lpad(regexp_replace(s, "^-", ""), 64, "0")
    val digits = when(isNeg, translate(magnitude, "0123456789", "9876543210"))
      .when(isIntegerLike, magnitude)
    val sign = when(isNeg, lit(0)).when(isIntegerLike, lit(1))
    val isDate = s.rlike("^\\d{4}-\\d{2}-\\d{2}([T ].*)?$")
    // ANSI-safe: only cast strings that are actually numeric literals,
    // and parse date-looking strings with try_to_timestamp (an
    // unparseable '2017-13-99' degrades to STRING instead of throwing).
    val isFloatLike = s.rlike("^-?(\\d+\\.\\d*|\\.\\d+|\\d+)([eE][+-]?\\d+)?$")
    val num = when(!isIntegerLike && isFloatLike, part.cast("double"))
    val iso = when(isDate,
      date_format(try_to_timestamp(s), "yyyy-MM-dd'T'HH:mm:ss.SSSX"))
    val txt = when(iso.isNotNull, iso)
      .when(!isIntegerLike && !isFloatLike, s)
    struct(num.as("num"), sign.as("sign"), digits.as("digits"), txt.as("txt"))
  }

  /** Multi-part ordering columns for `orderBy` (Q2/Q3 comparators) over
    * schemaless string-typed parts. Parts already carrying a sortable
    * native type (timestamp, numeric) should be passed to the chain
    * builders directly — normalization is for JSON-extracted strings. */
  def orderCols(seqNoParts: Seq[Column]): Seq[Column] =
    seqNoParts.map(sortKey)

  /** The three window columns go in ONE `select`, so they share one
    * Window operator and one exchange. Chained `withColumn(... over(w))`
    * calls would each extract computed partition/order expressions
    * under a fresh `_w0` alias, which Catalyst cannot match across
    * Window operators, so per-key chains over computed key columns
    * would shuffle the same rows once per column. `order` sorts each
    * chain (its seqNo parts, then `idCol`); `idCol` names the links. */
  private[graft] def chain(df: DataFrame, partitionCols: Seq[Column],
      order: Seq[Column], idCol: Column): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(order: _*)
    df.select(col("*"), row_number().over(w).as("seq_rn"),
        lag(idCol, 1).over(w).as("prev_id"),
        lead(idCol, 1).over(w).as("next_id"))
      .withColumn("is_first_to_process", col("seq_rn") === 1)
  }

  /** Q4 — one chain per shard (total order within the batch/shard).
    * `idCol` breaks ties by arrival, mirroring the reference's stable sort.
    * Pass `sortKey(part)` for schemaless string parts; typed columns go
    * in as-is.
    */
  def perShard(df: DataFrame, shardCol: Column, seqNoParts: Seq[Column],
      idCol: Column): DataFrame =
    chain(df, Seq(shardCol), seqNoParts :+ idCol, idCol)

  /** Q5 — one chain per distinct key tuple; heads of all K chains are
    * processed in parallel, members of one chain strictly in order. */
  def perKey(df: DataFrame, shardCol: Column, keyCols: Seq[Column],
      seqNoParts: Seq[Column], idCol: Column): DataFrame =
    chain(df, shardCol +: keyCols, seqNoParts :+ idCol, idCol)

  /** Q6 — unsequenced: no chains; every message is a head. */
  def none(df: DataFrame): DataFrame =
    df.withColumn("seq_rn", lit(1))
      .withColumn("prev_id", lit(null).cast("string"))
      .withColumn("next_id", lit(null).cast("string"))
      .withColumn("is_first_to_process", lit(true))
}
