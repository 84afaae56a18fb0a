package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, sum}

/** Live per-window QUANTILE sketching — the third streaming sketch
  * twin, completing the trio next to [[StreamingDistinct]] (HLL) and
  * [[StreamingCms]] (Count-Min): "p50/p99 of this hour's values",
  * where an exact streaming histogram needs state proportional to the
  * hour's distinct values. The HDR log-bucket histogram
  * ([[graft.operators.Sketches]] scaladoc) holds ≤ 960 long counters
  * per stateful group for the whole non-negative BIGINT range, and the
  * buckets are the SAME (exponent, 4-mantissa-bit) buckets as the
  * batch sketch, computed here in compiled JVM code
  * ([[StreamingHdr.bucket]]/[[StreamingHdr.bucketLo]] — a
  * leading-zero count instead of the SQL length(bin(v)) probe, pinned
  * value-equal in the spec) so streamed hours merge with batch
  * sketches by cell-wise addition.
  *
  * THROUGHPUT at scale (r16 verdict): the stateful key is
  * `(hourBucket, salt)` — the [[StreamingHotKeys]] discipline — so
  * `salts` groups ingest the live hour in parallel instead of one
  * hour-global task; state is (open hours × salts) × ≤960 longs.
  * Bucket counts are sums, so cell-wise ADDITION across the per-salt
  * tables ([[merge]], a ≤ salts×960-row follow-up aggregate, e.g. in
  * `foreachBatch`) reproduces the unsalted histogram EXACTLY —
  * salted-vs-unsalted parity is spec-pinned.
  *
  * Emission is the [[ClosedHours]] fold: bucket increments are
  * commutative, so a closed hour emits each group's bucket table
  * exactly once — sketch STATE, not quantiles, so downstream picks any p
  * after the fact (`hdr_value_quantiles`' cumulative read) — and
  * drops its state. Open hours emit nothing.
  */
object StreamingHdr {

  import ClosedHours.{byKeySalt, bySalt, hashSalt}

  /** A non-negative measurement at event time `tsUs` (epoch µs). */
  case class Measured(vi: Long, tsUs: Long)

  /** One (closed hour, salt group) bucket: the per-salt partial
    * count of histogram bucket `bucket`. */
  case class SaltedBucket(hourBucket: Long, salt: Long, bucket: Long,
      lo: Long, cnt: Long)

  /** One closed hour's MERGED sketch: one row per touched bucket —
    * what [[merge]] folds the per-salt tables into, and the shape
    * batch sketches merge with. */
  case class BucketCount(hourBucket: Long, bucket: Long, lo: Long,
      cnt: Long)

  /** A non-negative measurement under sketch key `key` (e.g. the
    * SOURCE or endpoint it was observed on) — [[keyedCells]]' input;
    * the HDR member of the keyed-streaming family. */
  case class KeyedMeasured(key: String, vi: Long, tsUs: Long)

  /** One (key, closed hour, salt group) bucket — [[keyedCells]]'
    * output; [[mergeKeyed]] folds the salt axis away into per-(key,
    * hour) bucket tables, the `bucket, lo, cnt` histogram shape the
    * hdr_value_quantiles cumulative read consumes. */
  case class KeyedSaltedBucket(key: String, hourBucket: Long,
      salt: Long, bucket: Long, lo: Long, cnt: Long)

  private[streaming] case class HdrState(cells: Map[Long, Long])

  val HourUs: Long = ClosedHours.HourUs

  /** EXACTLY Sketches.hdrBucketSql's bucket index (values < 32 are
    * their own buckets; above, (exponent − 5)·16 + top-5 bits), with
    * numberOfLeadingZeros standing in for the SQL length(bin(v))
    * exponent probe. */
  private[graft] def bucket(vi: Long): Long =
    if (vi < 32L) vi
    else {
      val len = 64 - java.lang.Long.numberOfLeadingZeros(vi)
      (len - 5).toLong * 16L + (vi >>> (len - 5))
    }

  /** Inclusive lower bound of bucket `b`: small buckets are their own
    * value; a larger bucket b holds the top-5-bit pattern 16 + b%16
    * shifted up by its exponent b/16 - 1. */
  private def floorOf(b: Long): Long =
    if (b < 32L) b else (16L + b % 16L) << (b / 16L - 1L)

  /** EXACTLY Sketches.hdrBucketLoSql's inclusive bucket lower bound. */
  private[graft] def bucketLo(vi: Long): Long = floorOf(bucket(vi))

  private val Empty = HdrState(Map.empty)

  private def add(s: HdrState, vi: Long): HdrState = {
    val b = bucket(vi)
    HdrState(s.cells.updated(b, s.cells.getOrElse(b, 0L) + 1L))
  }

  /** The state's `(bucket, lo, cnt)` rows in bucket order. */
  private def sorted(s: HdrState): Iterator[(Long, Long, Long)] =
    s.cells.toSeq.sortBy(_._1).iterator.map { case (b, cnt) =>
      (b, floorOf(b), cnt)
    }

  /** Per-(hour, salt) bucket tables, exactly once per group at
    * watermark close. `salts` is the ingest-parallelism knob; the
    * routing salt never reaches a result, because addition merges any
    * assignment back exactly. */
  def cells(values: Dataset[Measured], salts: Int = 16,
      maxDelay: String = "1 hour"): Dataset[SaltedBucket] =
    ClosedHours.fold(values, maxDelay,
      bySalt[Measured](hashSalt("vi", salts)))(Empty)(
      (s, e) => add(s, e.vi)) { case ((hour, salt), s) =>
      sorted(s).map { case (b, lo, cnt) =>
        SaltedBucket(hour, salt, b, lo, cnt)
      }
    }

  /** [[cells]] per sketch KEY — live per-SOURCE quantile sketches
    * (r18 verdict task #3, completing the keyed family next to
    * [[StreamingDistinct.keyedCells]], [[StreamingKmv.keyedCells]]
    * and [[StreamingCms.keyedCells]]): a stream of (source, value)
    * measurements becomes, at each hour close, one bucket histogram
    * per (source, salt); [[mergeKeyed]] folds the salts into the
    * per-(source, hour) histograms any percentile read consumes —
    * live per-source latency/size quantiles with the same
    * exactly-once-at-close discipline. State: (keys × salts) × ≤960
    * longs per open hour. */
  def keyedCells(values: Dataset[KeyedMeasured], salts: Int = 16,
      maxDelay: String = "1 hour"): Dataset[KeyedSaltedBucket] =
    ClosedHours.fold(values, maxDelay,
      byKeySalt[KeyedMeasured](hashSalt("vi", salts))(_.key))(Empty)(
      (s, e) => add(s, e.vi)) { case ((key, hour, salt), s) =>
      sorted(s).map { case (b, lo, cnt) =>
        KeyedSaltedBucket(key, hour, salt, b, lo, cnt)
      }
    }

  /** Folds [[keyedCells]]' salt axis away: per-(key, hour) bucket
    * tables `key, hourBucket, bucket, lo, cnt` (cell-wise addition —
    * the hdr_merge_shards law; ≤ keys × salts × 960 input rows per
    * hour). */
  def mergeKeyed(cells: Dataset[KeyedSaltedBucket])
      : org.apache.spark.sql.DataFrame =
    cells.toDF()
      .groupBy("key", "hourBucket", "bucket", "lo")
      .agg(sum("cnt").as("cnt"))

  /** Cell-wise addition of per-salt tables → the hour's merged
    * bucket table (≤ salts × 960 input rows per hour — run in
    * `foreachBatch` or any batch job over the sink). `lo` is a pure
    * function of `bucket`, so grouping by both changes nothing. */
  def merge(cells: Dataset[SaltedBucket]): Dataset[BucketCount] = {
    implicit val outEnc = Encoders.product[BucketCount]
    cells.toDF()
      .groupBy("hourBucket", "bucket", "lo")
      .agg(sum("cnt").as("cnt"))
      .select(col("hourBucket"), col("bucket"), col("lo"), col("cnt"))
      .as[BucketCount]
  }
}
