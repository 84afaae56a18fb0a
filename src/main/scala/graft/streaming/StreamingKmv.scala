package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, explode, expr}

/** Live per-window KMV sketching — the fourth salted streaming twin
  * next to [[StreamingDistinct]] (HLL), [[StreamingCms]] and
  * [[StreamingHdr]], completing the batch/stream pairing of
  * [[graft.operators.Sketches]]: where the HLL twin answers "how many
  * distinct this hour", the KMV twin keeps the hour's bottom-k hash
  * SAMPLE, which downstream set-algebra (pair overlap, the
  * kmv_pair_estimate row) can intersect DIRECTLY — the
  * small-intersection estimator the HLL cannot be (Sketches.scala KMV
  * scaladoc).
  *
  * Same contract as its three siblings:
  *  - hashes are [[graft.functions.TextShingles.hash60]] —
  *    bit-identical to the batch `kmvSketch` SQL derivation, so
  *    streamed sketches merge with batch sketches and oracle rows;
  *  - the PRODUCTION path [[cells]] keys by `(hourBucket, salt)`:
  *    `salts` groups ingest in parallel, each holding its own
  *    bounded bottom-k (≤ k longs), and each emits its retained
  *    hashes exactly once at watermark close. Bottom-k selection is
  *    associative + commutative, so [[merge]] — bottom-k over the
  *    per-salt tables, ≤ salts × k rows per hour — reproduces the
  *    single-group sketch EXACTLY for any salt assignment;
  *  - open hours emit nothing; a closed (hour, salt) group emits once
  *    and drops its state (the [[ClosedHours]] fold);
  *  - [[report]] (single hour-global group emitting the summary
  *    directly) is the test-scale audit convenience.
  */
object StreamingKmv {

  import ClosedHours.{byHour, byKeySalt, bySalt, hashSalt}
  import StreamingDistinct.SeenValue
  import graft.functions.TextShingles.hash60

  /** A sighting of `value` under sketch key `key` (e.g. the SOURCE a
    * document came from) at event time `tsUs` — [[keyedCells]]' input. */
  case class KeyedSeen(key: String, value: String, tsUs: Long)

  /** One retained hash of a (closed hour, salt group) sketch. */
  case class SketchHash(hourBucket: Long, salt: Long, h: Long)

  /** One retained hash of a (key, closed hour, salt group) sketch —
    * [[keyedCells]]' output; [[mergeKeyed]] folds the salt axis away
    * into per-(key, hour) sketch TABLES, the exact shape
    * [[graft.operators.Sketches.kmvSummary]] and the pair-overlap
    * set algebra consume. */
  case class KeyedSketchHash(key: String, hourBucket: Long, salt: Long,
      h: Long)

  /** One closed hour's summary: sketch size, threshold (max retained
    * hash) and the KMV estimate (exact when nK < k — the sketch saw
    * every distinct value). */
  case class KmvEstimate(hourBucket: Long, nK: Long, theta: Long,
      estimate: Double)

  private[streaming] case class KmvState(hs: Seq[Long])

  val HourUs: Long = ClosedHours.HourUs

  /** Sketch size — matches the registered kmv_* oracle rows. */
  val K: Int = 256

  /** (k−1) · 2^60 / θ, or exact nK below k — operation-for-operation
    * the evaluation order of Sketches.kmvEstimateSql, so JVM and SQL
    * estimates are bit-equal (the merge-vs-report parity relies on
    * it): one exact product of two exactly-representable doubles,
    * one division by an exact integer. */
  private[graft] def estimate(nK: Long, theta: Long): Double =
    if (nK < K) nK.toDouble
    else (K - 1).toDouble * (1L << 60).toDouble / theta.toDouble

  /** Bounded sorted-distinct insert — the KmvAgg reduce step in
    * streaming-state form: O(1) rejection once full, O(log k) probe +
    * one O(k) copy on accept (r18 verdict's KmvAgg micro-fix, applied
    * here too — same invariant, same binary search). */
  private def insert(hs: Seq[Long], h: Long): Seq[Long] =
    if (hs.size == K && h >= hs(hs.size - 1)) hs
    else {
      var lo = 0
      var hi = hs.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (hs(mid) < h) lo = mid + 1 else hi = mid
      }
      if (lo < hs.size && hs(lo) == h) hs
      else ((hs.take(lo) :+ h) ++ hs.drop(lo)).take(K)
    }

  private val Empty = KmvState(Vector.empty)

  private def add(s: KmvState, value: String): KmvState =
    KmvState(insert(s.hs, hash60(value)))

  /** PRODUCTION path: per-(hour, salt) bottom-k tables, exactly once
    * per group at watermark close. State is ≤ salts × k longs per
    * open hour; throughput scales with `salts`. */
  def cells(values: Dataset[SeenValue], salts: Int = 16,
      maxDelay: String = "1 hour"): Dataset[SketchHash] =
    ClosedHours.fold(values, maxDelay,
      bySalt[SeenValue](hashSalt("value", salts)))(Empty)(
      (s, v) => add(s, v.value)) { case ((hour, salt), s) =>
      s.hs.iterator.map(h => SketchHash(hour, salt, h))
    }

  /** [[cells]] per sketch KEY — live per-SOURCE sketches, the input
    * of the cross-source overlap estimator (kmv_pair_estimate): a
    * stream of (source, shingle) sightings becomes, at each hour
    * close, one bottom-k table per (source, salt), and [[mergeKeyed]]
    * folds the salts into the per-(source, hour) sketch tables the
    * batch set algebra consumes — LIVE contamination monitoring with
    * zero corpus re-reads (StreamingKmvSpec pins the closed-hour
    * pair estimates equal to the batch derivation on the same data).
    * State: (keys × salts) × ≤ k longs per open hour. */
  def keyedCells(values: Dataset[KeyedSeen], salts: Int = 16,
      maxDelay: String = "1 hour"): Dataset[KeyedSketchHash] =
    ClosedHours.fold(values, maxDelay,
      byKeySalt[KeyedSeen](hashSalt("value", salts))(_.key))(Empty)(
      (s, v) => add(s, v.value)) { case ((key, hour, salt), s) =>
      s.hs.iterator.map(h => KeyedSketchHash(key, hour, salt, h))
    }

  /** Folds [[keyedCells]]' salt axis away: per-(key, hour) sketch
    * tables `key, hourBucket, h` (≤ keys × salts × k input rows per
    * hour) — feed `Sketches.kmvSummary` / the pair set algebra with
    * `key` (or `(key, hourBucket)`) as the sketch key. */
  def mergeKeyed(cells: Dataset[KeyedSketchHash]): DataFrame = {
    cells.toDF()
      .groupBy("key", "hourBucket")
      .agg(graft.functions.KmvAgg.kmv(col("h"), K).as("hs"))
      .select(col("key"), col("hourBucket"),
        explode(col("hs")).as("h"))
  }

  /** Bottom-k over the per-salt tables → per-hour summary (≤ salts×k
    * input rows per hour; run in `foreachBatch` or any batch job over
    * the sink). Reuses the batch [[graft.functions.KmvAgg]] — the
    * merge law is the same selection, and the estimate is the shared
    * SQL string, so this equals [[report]] bit-for-bit. */
  def merge(cells: Dataset[SketchHash]): Dataset[KmvEstimate] = {
    implicit val outEnc = Encoders.product[KmvEstimate]
    cells.toDF()
      .groupBy("hourBucket")
      .agg(graft.functions.KmvAgg.kmv(col("h"), K).as("hs"))
      .select(col("hourBucket"),
        expr("CAST(size(hs) AS BIGINT)").as("n_k"),
        expr("element_at(hs, -1)").as("theta"))
      .withColumn("estimate",
        expr(graft.operators.Sketches.kmvEstimateSql(K)))
      .select(col("hourBucket"), col("n_k").as("nK"),
        col("theta"), col("estimate"))
      .as[KmvEstimate]
  }

  /** Single hour-global group emitting the folded summary directly —
    * the test-scale audit convenience. */
  def report(values: Dataset[SeenValue],
      maxDelay: String = "1 hour"): Dataset[KmvEstimate] =
    ClosedHours.fold(values, maxDelay, byHour[SeenValue])(Empty)(
      (s, v) => add(s, v.value)) { (hour, s) =>
      val nK = s.hs.size.toLong
      val theta = if (s.hs.isEmpty) 0L else s.hs.last
      Iterator.single(KmvEstimate(hour, nK, theta, estimate(nK, theta)))
    }
}
