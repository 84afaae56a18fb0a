package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, sum}

/** Live per-window frequency sketching — the streaming sibling of
  * [[graft.operators.Sketches]]' Count-Min sketch, pairing with
  * [[StreamingDistinct]] exactly as the batch CMS pairs with the
  * batch HLL: "about how often was each key seen this hour", where
  * exact per-key streaming counts need state proportional to the
  * live key set and a hot-key stream (crawler URLs, user ids, search
  * terms) can make that set unbounded. Each stateful group holds
  * ≤ d×w = 768 exact long counters, and the cells are the SAME
  * md5-deterministic cells as the batch sketch
  * ([[graft.operators.Sketches.cmsCells]]), computed here in compiled
  * JVM code ([[StreamingCms.cell]]) and spec-pinned equal to the SQL
  * derivation on identical input.
  *
  * THROUGHPUT at scale (r16 verdict): the stateful key is
  * `(hourBucket, salt)` — the [[StreamingHotKeys]] discipline — so
  * `salts` groups ingest the live hour in parallel instead of one
  * hour-global task; state is (open hours × salts) × ≤768 longs.
  * Cell counts are sums, so cell-wise ADDITION across the per-salt
  * tables ([[merge]], a ≤ salts×768-row follow-up aggregate, e.g. in
  * `foreachBatch`) reproduces the unsalted sketch EXACTLY —
  * salted-vs-unsalted parity is spec-pinned, and the same law merges
  * hours with batch sketches.
  *
  * Emission is the [[ClosedHours]] fold: cell increments are
  * commutative, so a closed hour (watermark past hour end) emits each
  * group's cell table exactly once — sketch STATE, not estimates, so
  * downstream can merge or point-query any key after the fact — and
  * drops its state. Open hours emit nothing.
  */
object StreamingCms {

  import ClosedHours.{byKeySalt, bySalt, hashSalt}

  /** A sighting of `key` at event time `tsUs` (epoch µs). */
  case class KeyedEvent(key: String, tsUs: Long)

  /** One (closed hour, salt group) cell: the per-salt partial count
    * of sketch cell (r, c). */
  case class SaltedCell(hourBucket: Long, salt: Long, r: Int, c: Long,
      cnt: Long)

  /** One closed hour's MERGED sketch: one row per touched (r, c)
    * cell — what [[merge]] folds the per-salt tables into, and the
    * shape batch sketches merge with. */
  case class CellCount(hourBucket: Long, r: Int, c: Long, cnt: Long)

  /** A sighting of counted item `value` under sketch key `key` (e.g.
    * the SOURCE a document came from) — [[keyedCells]]' input; the
    * CMS member of the keyed-streaming family (HLL:
    * [[StreamingDistinct.KeyedSeen]], KMV: [[StreamingKmv.KeyedSeen]]). */
  case class KeyedSeen(key: String, value: String, tsUs: Long)

  /** One (key, closed hour, salt group) cell — [[keyedCells]]'
    * output; [[mergeKeyed]] folds the salt axis away into per-(key,
    * hour) cell tables, the `r, c, cnt` shape
    * [[graft.operators.Sketches.cmsEstimate]] probes. */
  case class KeyedSaltedCell(key: String, hourBucket: Long, salt: Long,
      r: Int, c: Long, cnt: Long)

  private[streaming] case class CmsState(cells: Map[String, Long])

  val HourUs: Long = ClosedHours.HourUs

  /** d=3 × w=256 — cms_bigram_report's shape, so streamed hours are
    * merge- and probe-compatible with batch sketches at these dims. */
  val D: Int = 3
  val W: Int = 256

  /** EXACTLY the cell derivation of Sketches.cmsCell (md5 of
    * "r:cms:key" → first 15 hex = 60 bits → mod w), in compiled form
    * for the per-row hot path. */
  private[graft] def cell(r: Int, key: String, w: Int): Long =
    graft.functions.TextShingles.hash60(s"$r:cms:$key") % w

  private val Empty = CmsState(Map.empty)

  /** Counts one sighting of `key` in each of the D rows' cells. */
  private def add(s: CmsState, key: String): CmsState =
    CmsState((0 until D).foldLeft(s.cells) { (m, r) =>
      val k = s"$r:${cell(r, key, W)}"
      m.updated(k, m.getOrElse(k, 0L) + 1L)
    })

  /** The state's `(r, c, cnt)` cells in (r, c) order — a
    * deterministic emission order. */
  private def sorted(s: CmsState): Iterator[(Int, Long, Long)] =
    s.cells.toSeq.map { case (k, cnt) =>
      val Array(r, c) = k.split(":")
      (r.toInt, c.toLong, cnt)
    }.sortBy(rc => (rc._1, rc._2)).iterator

  /** Per-(hour, salt) cell tables, exactly once per group at
    * watermark close. `salts` is the ingest-parallelism knob; the
    * routing salt never reaches a result, because addition merges any
    * assignment back exactly. */
  def cells(events: Dataset[KeyedEvent], salts: Int = 16,
      maxDelay: String = "1 hour"): Dataset[SaltedCell] =
    ClosedHours.fold(events, maxDelay,
      bySalt[KeyedEvent](hashSalt("key", salts)))(Empty)(
      (s, e) => add(s, e.key)) { case ((hour, salt), s) =>
      sorted(s).map { case (r, c, cnt) => SaltedCell(hour, salt, r, c, cnt) }
    }

  /** [[cells]] per sketch KEY — live per-SOURCE frequency sketches
    * (r18 verdict task #3, completing the keyed family next to
    * [[StreamingDistinct.keyedCells]] and [[StreamingKmv.keyedCells]]):
    * a stream of (source, item) sightings becomes, at each hour
    * close, one d×w cell table per (source, salt); [[mergeKeyed]]
    * folds the salts into the per-(source, hour) cell tables
    * [[graft.operators.Sketches.cmsEstimate]] point-queries — live
    * per-source frequency monitoring with the same
    * exactly-once-at-close discipline. State: (keys × salts) × ≤ d×w
    * longs per open hour. */
  def keyedCells(values: Dataset[KeyedSeen], salts: Int = 16,
      maxDelay: String = "1 hour"): Dataset[KeyedSaltedCell] =
    ClosedHours.fold(values, maxDelay,
      byKeySalt[KeyedSeen](hashSalt("value", salts))(_.key))(Empty)(
      (s, v) => add(s, v.value)) { case ((key, hour, salt), s) =>
      sorted(s).map { case (r, c, cnt) =>
        KeyedSaltedCell(key, hour, salt, r, c, cnt)
      }
    }

  /** Folds [[keyedCells]]' salt axis away: per-(key, hour) cell
    * tables `key, hourBucket, r, c, cnt` (cell-wise addition — the
    * batch merge law; ≤ keys × salts × d×w input rows per hour) —
    * probe with `Sketches.cmsEstimate` per (key, hourBucket). */
  def mergeKeyed(cells: Dataset[KeyedSaltedCell])
      : org.apache.spark.sql.DataFrame =
    cells.toDF()
      .groupBy("key", "hourBucket", "r", "c")
      .agg(sum("cnt").as("cnt"))

  /** Cell-wise addition of per-salt tables → the hour's merged cell
    * table (the batch merge law; ≤ salts × 768 input rows per hour —
    * run in `foreachBatch` or any batch job over the sink). */
  def merge(cells: Dataset[SaltedCell]): Dataset[CellCount] = {
    implicit val outEnc = Encoders.product[CellCount]
    cells.toDF()
      .groupBy("hourBucket", "r", "c").agg(sum("cnt").as("cnt"))
      .select(col("hourBucket"), col("r"), col("c"), col("cnt"))
      .as[CellCount]
  }
}
