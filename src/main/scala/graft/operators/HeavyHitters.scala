package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-pass EXACT distributed heavy hitters — the "hot partition key"
  * report behind re-salting decisions (the fleet-scale follow-up to the
  * reference's per-key partition routing, kinesis-stream-consumer's
  * `kinesis-processing.js` partition-key path, and this repo's
  * `shard_skew_report`): which keys own at least an ε-fraction of all
  * traffic, with their exact counts.
  *
  * Why not one `groupBy(key).count().filter(...)`? At 100 TB that
  * shuffles a CARDINALITY-sized aggregate — billions of (key, count)
  * partials through the exchange to find a handful of hot keys. Here
  * the exchange never carries more than `capacity` rows per input
  * partition:
  *
  *  1. **Candidate pass** — each partition runs a Misra-Gries summary
  *     (Misra & Gries '82; mergeability per Agarwal et al., PODS'12
  *     "Mergeable Summaries") of `capacity` counters over its keys:
  *     an increment for a tracked key, a new counter while < capacity
  *     are live, else a global decrement that charges one occurrence
  *     of EVERY live counter. A key with partition frequency f is
  *     undercounted by at most n_p/capacity, so summing the partition
  *     summaries undercounts any key by at most n/capacity in total —
  *     every key with true frequency ≥ εn (for ε ≥ 2/capacity) keeps
  *     a positive merged count AND ranks inside the top `capacity` by
  *     merged count (anything outranking it has true frequency ≥
  *     εn − n/capacity ≥ εn/2, and fewer than 2/ε ≤ capacity keys can).
  *     The top-`capacity` cut therefore NEVER drops a true hitter.
  *  2. **Recount pass** — the ≤ `capacity` candidates broadcast back
  *     over the raw scan for exact counts (sketch error never reaches
  *     the output), and the ε threshold applies in exact integer
  *     arithmetic against the grand total.
  *
  * Both passes are single corpus scans; everything shuffled or
  * broadcast is capacity- or candidate-bounded regardless of key
  * cardinality.
  */
object HeavyHitters {

  /** Classic Misra-Gries over one partition's key stream. LongMap
    * keeps keys unboxed; the O(capacity) decrement sweep amortizes to
    * O(1) per input (each sweep cancels `capacity` prior increments).
    * Emitted counts are the summary's lower-bound counters, only used
    * for candidate RANKING — never for output. */
  private[graft] def mgSummary(it: Iterator[Long], capacity: Int)
      : Iterator[(Long, Long)] = {
    val counts = scala.collection.mutable.LongMap.empty[Long]
    it.foreach { k =>
      if (counts.contains(k)) counts(k) += 1L
      else if (counts.size < capacity) counts(k) = 1L
      else counts.filterInPlace((_, c) => c > 1L)
        .mapValuesInPlace((_, c) => c - 1L)
    }
    counts.iterator
  }

  /** Keys of `keyCol` (long-valued; hash string keys to long with
    * xxhash64 and join the labels back) holding at least
    * `thresholdPpm` parts-per-million of all rows, with exact counts.
    * `capacity` must be ≥ 2e6/thresholdPpm for the no-false-negative
    * guarantee (asserted). Columns: k, n_events, n_total. */
  def hotKeys(df: DataFrame, keyCol: Column, thresholdPpm: Long,
      capacity: Int = 1024): DataFrame = {
    require(capacity.toLong * thresholdPpm >= 2000000L,
      s"capacity $capacity too small for ${thresholdPpm}ppm: the " +
        "merged Misra-Gries guarantee needs capacity >= 2/epsilon")
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(keyCol.cast("long").as("k"))
    val summaries = keyed.select(col("k")).as[Long]
      .mapPartitions(it => mgSummary(it, capacity))
      .toDF("k", "cnt")
    // merged-summary rank: the exchange carries ≤ capacity rows per
    // partition; the cut is capacity-sized with a deterministic
    // (cnt desc, k asc) tie-break
    val cand = summaries.groupBy("k").agg(sum("cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("k").asc).limit(capacity)
      .select("k")
    val total = keyed.agg(count(lit(1)).as("n_total"))
    keyed.join(broadcast(cand), "k")
      .groupBy("k").agg(count(lit(1)).as("n_events"))
      .crossJoin(broadcast(total))
      .filter(col("n_events") * lit(1000000L) >=
        lit(thresholdPpm) * col("n_total"))
  }
}
