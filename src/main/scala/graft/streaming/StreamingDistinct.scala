package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, expr, max}

/** Live per-window DISTINCT counting — the streaming sibling of
  * [[graft.operators.Sketches]]: "how many distinct users/URLs/tokens
  * this hour", the panel exact streaming distinct cannot serve because
  * its state grows with the distinct set itself (every value seen this
  * hour must be remembered). The sketch holds 2^p = 256 registers per
  * stateful group — and the registers are the SAME md5-deterministic
  * registers as the batch sketch, computed here in compiled JVM code
  * ([[StreamingDistinct.registerAndRho]]) and spec-pinned equal to
  * [[graft.operators.Sketches.hllRegisters]]'s SQL derivation on
  * identical input.
  *
  * THROUGHPUT at scale (r16 verdict): state being bounded is only half
  * the 100 TB story — keying by the hour alone funnels every event of
  * the live hour through ONE stateful task. The production path is
  * therefore [[cells]], which keys by `(hourBucket, salt)` (the
  * [[StreamingHotKeys]] discipline): `salts` groups ingest the hour in
  * parallel, each holding its own 256 registers over the values that
  * hashed to it, and each emits its register table exactly once at
  * watermark close. Register max is commutative AND associative
  * (spec-pinned merge law), so element-wise max across the per-salt
  * tables — [[merge]], a `salts × 256`-row follow-up aggregate, e.g.
  * in `foreachBatch` — reproduces the single-group sketch EXACTLY
  * (salted-vs-unsalted parity is spec-pinned). State is
  * (open hours × salts) × ≤256 ints; throughput scales with `salts`.
  *
  * Emission is the [[ClosedHours]] fold: register maxes are
  * commutative, so a closed hour (watermark past hour end) emits
  * exactly once per (hour, salt) and drops its state; open hours emit
  * nothing.
  *
  * [[report]] (single hour-global group emitting the folded summary
  * directly) remains as the test-scale audit convenience — its output
  * is what [[merge]] must reproduce.
  */
object StreamingDistinct {

  import ClosedHours.{byHour, byKeySalt, bySalt, hashSalt}

  /** A sighting of `value` at event time `tsUs` (epoch µs). */
  case class SeenValue(value: String, tsUs: Long)

  /** One closed hour's sketch summary: the integer state (v_zero,
    * s_scaled — merge-able, oracle-able) and the raw-HLL estimate. */
  case class DistinctEstimate(hourBucket: Long, vZero: Long,
      sScaled: Long, estimate: Double)

  /** One (closed hour, salt group) register: the per-salt cell table
    * row [[cells]] emits at watermark close. `m` is the max rho the
    * group observed for `register`. */
  case class RegisterCell(hourBucket: Long, salt: Long, register: Int,
      m: Int)

  /** A sighting of `value` under sketch key `key` (e.g. the SOURCE a
    * document came from) — [[keyedCells]]' input. */
  case class KeyedSeen(key: String, value: String, tsUs: Long)

  /** One (key, closed hour, salt group) register — [[keyedCells]]'
    * output; [[mergeKeyed]] folds the salt axis into per-(key, hour)
    * register tables, the exact `key, register, m` shape
    * [[graft.operators.Sketches.hllSummary]] and the pair-overlap
    * register algebra (hll_pair_estimate) consume. */
  case class KeyedRegisterCell(key: String, hourBucket: Long,
      salt: Long, register: Int, m: Int)

  private[streaming] case class RegState(m: Map[Int, Int])

  val HourUs: Long = ClosedHours.HourUs

  private val P = 8
  private val M = 1 << P
  private val WBits = 60 - P
  private val Top = WBits + 1

  /** EXACTLY the register derivation of Sketches.hllRegisters (md5 →
    * first 15 hex = 60 bits → top p register bits, remaining-bit
    * leading-zero rank), in compiled form for the per-row hot path. */
  private[graft] def registerAndRho(value: String): (Int, Int) = {
    val h = graft.functions.TextShingles.hash60(value)
    val reg = (h >>> WBits).toInt
    val w = h & ((1L << WBits) - 1)
    val rho = if (w == 0L) Top
      else Top - (64 - java.lang.Long.numberOfLeadingZeros(w))
    (reg, rho)
  }

  /** alpha_m · m² · 2^(wBits+1) / s_scaled — the same raw-regime
    * formula as Sketches.hllEstimateSql, in JVM doubles (one division
    * by an exact integer; deterministic IEEE, and operation-for-
    * operation the SQL expression's evaluation order, so the two are
    * bit-equal — the merge-vs-report parity pin relies on that). */
  private[graft] def estimate(sScaled: Long): Double =
    0.7213 / (1.0 + 1.079 / M) * (M.toDouble * M) *
      (1L << Top).toDouble / sScaled.toDouble

  private val NoRegs = RegState(Map.empty)

  private def add(s: RegState, value: String): RegState = {
    val (r, rho) = registerAndRho(value)
    if (rho > s.m.getOrElse(r, 0)) RegState(s.m.updated(r, rho)) else s
  }

  private def sorted(s: RegState): Iterator[(Int, Int)] =
    s.m.toSeq.sortBy(_._1).iterator

  /** PRODUCTION path: per-(hour, salt) register tables, exactly once
    * per group at watermark close. `salts` is the ingest-parallelism
    * knob — state stays `salts × ≤256` ints per open hour. Merge the
    * tables with [[merge]] (or any element-wise max downstream). */
  def cells(values: Dataset[SeenValue], salts: Int = 16,
      maxDelay: String = "1 hour"): Dataset[RegisterCell] =
    ClosedHours.fold(values, maxDelay,
      bySalt[SeenValue](hashSalt("value", salts)))(NoRegs)(
      (s, v) => add(s, v.value)) { case ((hour, salt), s) =>
      sorted(s).map { case (r, rho) => RegisterCell(hour, salt, r, rho) }
    }

  /** [[cells]] per sketch KEY — live per-SOURCE registers, the input
    * of the cross-source overlap estimator (hll_pair_estimate's
    * inclusion–exclusion over register maxes): a stream of
    * (source, shingle) sightings becomes, at each hour close, one
    * register table per (source, salt); [[mergeKeyed]] folds the
    * salts into the per-(source, hour) register tables the batch
    * set algebra consumes — the HLL counterpart of
    * [[StreamingKmv.keyedCells]] (StreamingDistinctSpec pins the
    * closed-hour registers equal to the batch derivation). State:
    * (keys × salts) × ≤256 ints per open hour. */
  def keyedCells(values: Dataset[KeyedSeen], salts: Int = 16,
      maxDelay: String = "1 hour"): Dataset[KeyedRegisterCell] =
    ClosedHours.fold(values, maxDelay,
      byKeySalt[KeyedSeen](hashSalt("value", salts))(_.key))(NoRegs)(
      (s, v) => add(s, v.value)) { case ((key, hour, salt), s) =>
      sorted(s).map { case (r, rho) =>
        KeyedRegisterCell(key, hour, salt, r, rho)
      }
    }

  /** Folds [[keyedCells]]' salt axis away: per-(key, hour) register
    * tables `key, hourBucket, register, m` (element-wise max — the
    * merge law) — feed `Sketches.hllSummary` / the pair register
    * algebra with `key` (or `(key, hourBucket)`) as the sketch key. */
  def mergeKeyed(cells: Dataset[KeyedRegisterCell])
      : org.apache.spark.sql.DataFrame =
    cells.toDF()
      .groupBy("key", "hourBucket", "register")
      .agg(max("m").as("m"))

  /** Cell-wise merge of per-salt register tables → per-hour summary,
    * the tiny follow-up aggregate of the salted path (≤ salts × 256
    * input rows per hour; run it in `foreachBatch` or any batch job
    * over the sink). Element-wise max reproduces the single-group
    * registers exactly, then the fold + estimate are the house
    * integer-s_scaled / shared-double formulas
    * ([[graft.operators.Sketches]] scaladoc). */
  def merge(cells: Dataset[RegisterCell]): Dataset[DistinctEstimate] = {
    implicit val outEnc = Encoders.product[DistinctEstimate]
    cells.toDF()
      .groupBy("hourBucket", "register").agg(max("m").as("m"))
      .groupBy("hourBucket").agg(
        expr(s"CAST($M - count(1) AS BIGINT)").as("vZero"),
        expr(s"CAST($M - count(1) AS BIGINT) * ${1L << Top} + " +
          s"sum(shiftleft(CAST(1 AS BIGINT), CAST($Top - m AS INT)))")
          .as("sScaled"))
      .withColumn("estimate", expr(
        graft.operators.Sketches.hllEstimateSql(P)
          .replace("s_scaled", "sScaled")))
      .select(col("hourBucket"), col("vZero"), col("sScaled"),
        col("estimate"))
      .as[DistinctEstimate]
  }

  /** Single hour-global group emitting the folded summary directly —
    * the test-scale audit convenience (one group ingests the whole
    * hour; use [[cells]] + [[merge]] where throughput matters). */
  def report(values: Dataset[SeenValue],
      maxDelay: String = "1 hour"): Dataset[DistinctEstimate] =
    ClosedHours.fold(values, maxDelay, byHour[SeenValue])(NoRegs)(
      (s, v) => add(s, v.value)) { (hour, s) =>
      val vZero = (M - s.m.size).toLong
      val sScaled = vZero * (1L << Top) +
        s.m.valuesIterator.map(rho => 1L << (Top - rho)).sum
      Iterator.single(
        DistinctEstimate(hour, vZero, sScaled, estimate(sScaled)))
    }
}
