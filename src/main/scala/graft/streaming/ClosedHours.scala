package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.{col, expr, lit, pmod, struct, timestamp_micros, xxhash64}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The closed-hour fold behind the hourly streaming operators
  * ([[StreamingDistinct]], [[StreamingKmv]], [[StreamingCms]],
  * [[StreamingHdr]], [[StreamingTopK]], [[StreamingSkew]],
  * [[StreamingHotKeys]]). Each input row (event time `tsUs`, epoch µs)
  * lands in its hour bucket and, for salted groupings, in one routing
  * salt group; each group folds its rows into a commutative state, so
  * arrival order inside the watermark horizon is irrelevant.
  *
  * Emission is EXACTLY ONCE per group, when the watermark reaches the
  * group's hour end: Spark's late-data filter drops rows strictly
  * below the watermark and every row of the hour is strictly below
  * the hour end, so no admissible straggler remains and the state is
  * final. The group then emits from its final state and drops it.
  * Open hours emit nothing, so no provisional row ever shifts under a
  * dashboard; an open group wakes by event-time timeout at its hour
  * end (`HourUs` is ms-aligned, so the ms-grained timeout loses
  * nothing). Rows later than the horizon belong to the batch backfill
  * path, as with every watermarked stateful operator.
  *
  * Scale shape: state is (open hours in the horizon) × (groups per
  * hour) × (state size), independent of event volume.
  */
private[streaming] object ClosedHours {

  val HourUs: Long = 3600000000L

  /** An input row with its hour bucket and routing salt (0 when the
    * grouping is unsalted) — the value type the fold groups. */
  case class Routed[T](hourBucket: Long, salt: Long, row: T)

  /** How routed rows group: the group key of a row, the hour of a key,
    * the key encoder (which fixes the checkpointed state's key schema)
    * and the salt column (None: unsalted). */
  final class Grouping[T, K](val key: Routed[T] => K,
      val hour: K => Long, val enc: Encoder[K], val salt: Option[Column])

  /** One group per hour. */
  def byHour[T]: Grouping[T, Long] =
    new Grouping(_.hourBucket, identity, Encoders.scalaLong, None)

  /** One group per (hour, salt). */
  def bySalt[T](salt: Column): Grouping[T, (Long, Long)] =
    new Grouping(r => (r.hourBucket, r.salt), _._1,
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), Some(salt))

  /** One group per (sketch key, hour, salt). */
  def byKeySalt[T](salt: Column)(key: T => String)
      : Grouping[T, (String, Long, Long)] =
    new Grouping(r => (key(r.row), r.hourBucket, r.salt), _._2,
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong,
        Encoders.scalaLong), Some(salt))

  /** `salts` routing groups by `xxhash64(column)`: cheap and
    * deterministic, and the salted sketches merge ANY assignment of
    * values to groups back exactly, so the salt never reaches a merged
    * result. */
  def hashSalt(column: String, salts: Int): Column = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    pmod(xxhash64(col(column)), lit(salts.toLong))
  }

  /** Folds `step` over each group's rows from `zero` (or the restored
    * state), and at hour close returns `emit(key, state)` once and
    * removes the state. */
  def fold[T <: Product : TypeTag, K, S <: Product : TypeTag,
      O <: Product : TypeTag](input: Dataset[T], maxDelay: String,
      by: Grouping[T, K])(zero: S)(step: (S, T) => S)(
      emit: (K, S) => Iterator[O]): Dataset[O] = {
    implicit val stateEnc: Encoder[S] = Encoders.product[S]
    implicit val outEnc: Encoder[O] = Encoders.product[O]
    // read out here so the state function captures only this function,
    // not the (unserializable) Grouping with its encoder and Column
    val hourOf = by.hour
    input.toDF()
      .withColumn("eventTime", timestamp_micros(col("tsUs")))
      .withWatermark("eventTime", maxDelay)
      // eventTime stays in the grouped plan: the watermark it carries
      // is what getCurrentWatermarkMs and the timeout read
      .select(expr(s"tsUs div $HourUs").as("hourBucket"),
        by.salt.getOrElse(lit(0L)).as("salt"),
        struct(input.columns.map(col).toSeq: _*).as("row"),
        col("eventTime"))
      .as(Encoders.product[Routed[T]])
      .groupByKey(by.key)(by.enc)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (k: K, rows: Iterator[Routed[T]], state: GroupState[S]) =>
          val next = rows.foldLeft(state.getOption.getOrElse(zero))(
            (s, r) => step(s, r.row))
          val hourEndUs = (hourOf(k) + 1L) * HourUs
          if (state.getCurrentWatermarkMs() * 1000L >= hourEndUs) {
            state.remove()
            emit(k, next)
          } else {
            state.update(next)
            state.setTimeoutTimestamp(hourEndUs / 1000L)
            Iterator.empty
          }
      }
  }
}
