package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic distinct-count SKETCHES — the 100 TB path for
  * cardinality reporting, where exact `countDistinct` must shuffle
  * every distinct value and a sketch exchanges a FIXED 2^p registers
  * per group key instead (Flajolet et al. 2007, HyperLogLog; the
  * practical deployment notes are Heule et al. 2013, HLL++).
  *
  * Unlike Spark's own `approx_count_distinct` (whose HLL++ register
  * hashing is an implementation detail no other engine reproduces),
  * these registers derive from md5 — the engine-wide determinism
  * discipline — so the SAME bytes produce the SAME registers in Spark
  * and in the DuckDB oracle, and the gate can hash-compare the sketch
  * itself, not just eyeball the estimate:
  *
  *  - h   = first 15 md5 hex chars as a 60-bit integer (BIGINT-safe
  *          in both engines);
  *  - register = top p bits (h div 2^(60−p));
  *  - rho = leading-zero count of the remaining w = 60−p bits, + 1 =
  *          (w + 1) − length(bin(h mod 2^w)), with the all-zero tail
  *          taking the max value w + 1;
  *  - per (key, register): M = max(rho) — max is idempotent, so the
  *    input needs NO distinct pass, and the aggregate is partial:
  *    the exchange after map-side combine carries at most
  *    keys × 2^p rows whatever the corpus size.
  *
  * The summary folds registers to the integer
  * `s_scaled = Σ_r 2^((w+1) − M_r)` (empty registers contribute
  * 2^(w+1); always ≤ 2^(p+w+1) = 2^61 — BIGINT-exact, summed with
  * shiftleft so no double ever rounds) and `v_zero` (empty-register
  * count). The raw-HLL estimate α_m·m²·2^(w+1)/s_scaled is ONE
  * double division by an exact integer — callers compute it with a
  * shared SQL string per the house double discipline. Small-range
  * (linear-counting) correction is NOT applied: its m·ln(m/V) term
  * would hinge on cross-engine `ln` agreement; callers that need it
  * have `v_zero` in hand, and the report queries choose p so their
  * cardinalities sit in the raw regime (≥ 2.5·m).
  */
object Sketches {

  /** The engine-wide 60-bit hash of a value: the first 15 md5 hex
    * chars as a BIGINT (NULL for a NULL value). Every sketch here
    * hashes through it, and the DuckDB oracles spell it
    * `('0x' || substr(md5(v), 1, 15))::BIGINT`. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The `s1 < s2` self-join of the distinct `key`s of `keys`: every
    * unordered pair once, the row set of the pair estimators. */
  def pairsOf(keys: DataFrame): DataFrame = {
    val k = keys.select("key").distinct()
    k.select(col("key").as("s1"))
      .join(k.select(col("key").as("s2")), col("s1") < col("s2"))
  }

  /** Per-(key, register) max-rho table: `key, register, m`. */
  def hllRegisters(df: DataFrame, keyCol: Column, valueCol: Column,
      p: Int): DataFrame =
    hllRegistersFromHash(
      df.select(keyCol.as("key"), hash60(valueCol).as("h")), p)

  /** The per-row register/rho derivation of [[hllRegistersFromHash]]
    * WITHOUT the terminal `(key, register)` max — for callers that
    * fold the register aggregate with extra columns (the sliding
    * rows' single-pass window aggregate, which tracks an
    * observed-anchor flag through the same groupBy). Consumes `h`
    * (the 60-bit md5 prefix), carries every other input column
    * through, and appends `register` and `rho`. The ONE derivation:
    * [[hllRegistersFromHash]] is this plus `groupBy(key, register)
    * .agg(max(rho))`. A NULL `h` (a NULL value) is no observation and
    * is dropped: kept, it would form a NULL register that
    * [[hllSummaryBy]] counts as occupied. */
  def hllRegisterRho(df: DataFrame, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val wBits = 60 - p
    val wMod = 1L << wBits
    df.filter(col("h").isNotNull)
      .withColumn("register", expr(s"h div $wMod"))
      .withColumn("w", expr(s"h % $wMod"))
      .withColumn("rho", when(col("w") === 0L, lit(wBits + 1))
        .otherwise(lit(wBits + 1) - length(bin(col("w")))))
      .drop("h", "w")
  }

  /** [[hllRegisters]] over a PRE-HASHED frame `key, h` (h = the 60-bit
    * md5 prefix this object's scaladoc defines — e.g. the compiled
    * [[graft.functions.TextShingles.shingleHash60]] kernel, which
    * replaces the interpreted shingle HOF + per-row hex/conv chain on
    * the corpus-scan hot path). */
  def hllRegistersFromHash(df: DataFrame, p: Int): DataFrame =
    hllRegisterRho(df.select(col("key"), col("h")), p)
      .groupBy("key", "register").agg(max("rho").as("m"))

  /** Merge of register tables by element-wise max per `keys` and
    * register (the HLL merge law: registers of a union are the max of
    * the parts'). Input/output: `keys…, register, m`. */
  def hllMerge(regs: DataFrame, keys: String*): DataFrame =
    regs.groupBy(keys.head, keys.tail :+ "register": _*)
      .agg(max("m").as("m"))

  /** Register table → per-key summary `key, v_zero, s_scaled`. */
  def hllSummary(regs: DataFrame, p: Int): DataFrame =
    hllSummaryBy(regs, Seq("key"), p)

  /** [[hllSummary]] over ARBITRARY grouping columns — the ONE
    * derivation of the `(v_zero, s_scaled)` register fold, shared by
    * the single-key summary above and the pair-union algebra of
    * [[hllPairs]], which groups by `(s1, s2)`. */
  def hllSummaryBy(regs: DataFrame, groupCols: Seq[String], p: Int)
      : DataFrame = {
    val m = 1L << p
    val wBits = 60 - p
    val top = wBits + 1
    val gcs = groupCols.map(col)
    regs.groupBy(gcs: _*).agg(
        count(lit(1)).as("n_obs"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST($top - m AS INT))")).as("s_obs"))
      .select(gcs ++ Seq((lit(m) - col("n_obs")).as("v_zero"),
        ((lit(m) - col("n_obs")) * lit(1L << top) + col("s_obs"))
          .as("s_scaled")): _*)
  }

  /** The raw-HLL estimate as a shared-SQL double expression over a
    * frame carrying `s_scaled` (see object scaladoc): the ONE string
    * both Spark and the DuckDB oracle evaluate. */
  def hllEstimateSql(p: Int): String = {
    val m = 1L << p
    val top = 60 - p + 1
    val alpha = s"0.7213e0 / (1e0 + 1.079e0 / ${m}e0)"
    s"$alpha * ${m.toDouble * m}e0 * ${(1L << top)}e0" +
      " / CAST(s_scaled AS DOUBLE)"
  }

  /** Pairwise HLL set algebra over a register table `key, register,
    * m` and a [[pairsOf]] frame: per pair, the union's registers are
    * the element-wise max of the two sides' (no rescan), and
    * |A∩B| ≈ est(A) + est(B) − est(A∪B) ([[InterEstSql]]). Output:
    * `s1, s2, v_zero, s_scaled, est_union, est_s1, est_s2,
    * inter_est`. Every pair in `pairs` must name keys of `regs`. */
  def hllPairs(regs: DataFrame, pairs: DataFrame, p: Int): DataFrame = {
    val est = hllSummary(regs, p)
      .withColumn("est", expr(hllEstimateSql(p)))
      .select(col("key"), col("est"))
    def side(s: String) = pairs.join(regs.withColumnRenamed("key", s), s)
      .select("s1", "s2", "register", "m")
    hllSummaryBy(hllMerge(side("s1").unionByName(side("s2")), "s1", "s2"),
        Seq("s1", "s2"), p)
      .withColumn("est_union", expr(hllEstimateSql(p)))
      .join(est.select(col("key").as("s1"), col("est").as("est_s1")),
        "s1")
      .join(est.select(col("key").as("s2"), col("est").as("est_s2")),
        "s2")
      .withColumn("inter_est", expr(InterEstSql))
  }

  // ---------------------------------------------------------------
  // KMV (k-minimum-values / bottom-k theta) sketch — Bar-Yossef et
  // al. 2002 "Counting distinct elements in a data stream"; the
  // theta-sketch set-algebra formulation is the Apache DataSketches
  // line (Dasgupta et al. 2016). The SMALL-INTERSECTION complement to
  // the HLL above: inclusion–exclusion (est(A) + est(B) − est(A∪B))
  // carries the absolute error of the SET-sized estimates, so a small
  // true |A∩B| drowns in it (hll_pair_overlap's err_pm column
  // measures exactly this). The KMV instead keeps the k smallest
  // distinct md5 hashes per key — a uniform SAMPLE of the distinct
  // values — so an intersection is estimated by DIRECTLY MATCHING
  // hashes below the pair threshold θ = min(θ_A, θ_B):
  //   est(A∩B) = |{h < θ : h ∈ kmv(A) ∧ h ∈ kmv(B)}| · 2^60 / θ,
  // whose error scales with the INTERSECTION, not the sets.
  // Same md5-60-bit hash as hllRegisters, same cross-engine
  // determinism: the sketch TABLE (not just estimates) hash-compares
  // against DuckDB. State is ≤ k longs per key; sketches of corpus
  // shards merge exactly — the k smallest of A ∪ B are a subset of
  // kmv(A) ∪ kmv(B) (SketchesSpec pins the merge law).
  // ---------------------------------------------------------------

  /** Per-key bottom-k table `key, h`: the k smallest DISTINCT 60-bit
    * md5 hash values of `valueCol`, ≤ k rows per key. Built by the
    * bounded [[graft.functions.KmvAgg]] aggregate — partial bottom-k
    * before the exchange, no corpus-wide distinct. */
  def kmvSketch(df: DataFrame, keyCol: Column, valueCol: Column,
      k: Int): DataFrame =
    kmvSketchFromHash(
      df.select(keyCol.as("key"), hash60(valueCol).as("h")), k)

  /** [[kmvSketch]] over a PRE-HASHED frame `key, h` (see
    * [[hllRegistersFromHash]] for the hash contract and why). */
  def kmvSketchFromHash(df: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // a NULL h would decode as 0L through the udaf's primitive long
    // encoder, a spurious minimum hash; a NULL value is no observation
    kmvMerge(df.select(col("key"), col("h")).filter(col("h").isNotNull), k)
  }

  /** Merge of KMV sketch tables built with the same k: bottom-k of
    * the distinct union per key — the merge law (the k smallest of
    * A ∪ B are among kmv(A) ∪ kmv(B), so merging sketches loses
    * nothing vs sketching the union). Input/output schema: `key, h`. */
  def kmvMerge(sketches: DataFrame, k: Int): DataFrame =
    sketches
      .groupBy("key")
      .agg(graft.functions.KmvAgg.kmv(col("h"), k).as("hs"))
      .select(col("key"), explode(col("hs")).as("h"))

  /** Per-key summary of a KMV sketch table: `key, n_k` (sketch size),
    * `theta` (max retained hash = the k-th min when full) and
    * `th_eff` — the effective threshold for set algebra: a sketch
    * with n_k < k saw EVERY distinct value, so its threshold is the
    * whole hash range 2^60 (and pair estimates below it are exact). */
  def kmvSummary(sketch: DataFrame, k: Int): DataFrame =
    sketch.groupBy("key")
      .agg(count(lit(1)).as("n_k"), max("h").as("theta"))
      .withColumn("th_eff", expr(
        s"CASE WHEN n_k < $k THEN 1152921504606846976 " +
          "ELSE theta END"))

  /** The KMV distinct estimate as a shared-SQL double expression over
    * a frame carrying `n_k` and `theta` (see [[hllEstimateSql]] for
    * the shared-string discipline): exact n_k when the sketch is
    * exhaustive, else the unbiased (k−1) · 2^60 / θ — one double
    * division by an exact integer. */
  def kmvEstimateSql(k: Int): String =
    s"CASE WHEN n_k < $k THEN CAST(n_k AS DOUBLE) " +
      s"ELSE ${k - 1}e0 * 1152921504606846976e0 " +
      "/ CAST(theta AS DOUBLE) END"

  /** The KMV intersection estimate over a frame carrying `n_match`
    * (common hashes strictly below the pair threshold) and `theta`
    * (the pair threshold min(th_eff_A, th_eff_B)): n_match · 2^60 / θ.
    * Both inputs exact integers — when both sketches are exhaustive
    * θ = 2^60 and the estimate IS the exact intersection. */
  val KmvInterEstSql: String =
    "CAST(n_match AS DOUBLE) * 1152921504606846976e0 " +
      "/ CAST(theta AS DOUBLE)"

  /** The HLL inclusion–exclusion intersection estimate over a frame
    * carrying `est_s1`, `est_s2` and `est_union`: the three inputs are
    * bit-equal across engines (each is [[hllEstimateSql]]'s single
    * division), so the fixed-order sum is engine-identical. */
  val InterEstSql: String = "est_s1 + est_s2 - est_union"

  /** Pairwise KMV intersection over a sketch table `key, h` and a
    * [[pairsOf]] frame: the pair threshold θ = min(th_eff_A, th_eff_B),
    * `n_match` = common hashes strictly below θ (0 for a pair with
    * none), and `inter_est` by [[KmvInterEstSql]]. Output: `s1, s2,
    * est_s1, est_s2, theta, n_match, inter_est` (`est_*` by
    * [[kmvEstimateSql]]). */
  def kmvPairs(kv: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    val smry = kmvSummary(kv, k).withColumn("est", expr(kmvEstimateSql(k)))
    def side(s: String, n: Int) = smry.select(col("key").as(s),
      col("th_eff").as(s"t$n"), col("est").as(s"est_$s"))
    val pth = pairs.join(side("s1", 1), "s1").join(side("s2", 2), "s2")
      .withColumn("theta", least(col("t1"), col("t2")))
      .select("s1", "s2", "est_s1", "est_s2", "theta")
    val nMatch = pairs
      .join(kv.select(col("key").as("s1"), col("h")), "s1")
      .join(kv.select(col("key").as("s2"), col("h")), Seq("s2", "h"))
      .join(pth.select("s1", "s2", "theta"), Seq("s1", "s2"))
      .filter(col("h") < col("theta"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("n_match"))
    pth.join(nMatch, Seq("s1", "s2"), "left")
      .withColumn("n_match", coalesce(col("n_match"), lit(0L)))
      .withColumn("inter_est", expr(KmvInterEstSql))
  }

  // ---------------------------------------------------------------
  // Count-Min sketch (Cormode & Muthukrishnan 2005) — the COUNT
  // sibling of the HLL above: where the HLL answers "how many
  // DISTINCT values", the CMS answers "about how often is THIS
  // value", with the same fixed-state contract — d rows × w cells of
  // exact BIGINT counters whatever the corpus size. The estimate
  // min_r cells[r][h_r(key)] never underestimates (each cell is the
  // true count plus non-negative collision mass) and the md5 hash
  // discipline makes the cells — not just the estimates —
  // reproducible in the DuckDB oracle, so the gate hash-compares
  // counts derived from SKETCH STATE against exact GROUP BY counts.
  // Integer-only end to end: no epsilon/delta floats anywhere.
  // ---------------------------------------------------------------

  /** Row-r cell index for a key: first 15 md5 hex chars of
    * `"r:cms:key"` as a 60-bit integer, mod w. The row index is part
    * of the hashed text, so the d hash functions are independent
    * md5 draws, not correlated bit-slices of one digest. */
  def cmsCell(r: Column, key: Column, w: Int): Column =
    hash60(concat(r.cast("string"), lit(":cms:"), key)) % w

  /** The d row indexes `r` = 0 … d−1, exploded per input row. */
  private def cmsRows(d: Int): Column =
    explode(sequence(lit(0), lit(d - 1))).as("r")

  /** The one cell-table body of the three builders below: `keyed`
    * carries `by…, key, carry…`; each row explodes to its d rows, is
    * hashed to its cell, and `cnt` aggregates per `(by…, r, c)`. */
  private def cmsCellTable(keyed: DataFrame, by: Seq[String],
      carry: Seq[String], d: Int, w: Int)(cnt: Column): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1, w >= 2; got d=$d, w=$w")
    val (b, c, g) = (by.map(col), carry.map(col), by ++ Seq("r", "c"))
    keyed.select((b :+ cmsRows(d) :+ col("key")) ++ c: _*)
      .select((b :+ col("r") :+ cmsCell(col("r"), col("key"), w).as("c"))
        ++ c: _*)
      .groupBy(g.head, g.tail: _*).agg(cnt.as("cnt"))
  }

  /** Sketch build: per-(row, cell) counter table `r, c, cnt`.
    * The d-way explode happens BEFORE the aggregate, so map-side
    * combine caps the exchange at d×w rows per input partition —
    * the 100 TB contract (d=3, w=256 → ≤768 rows) — and `cnt` is an
    * exact partial-aggregable BIGINT count, so sketches of corpus
    * shards merge by cell-wise addition for free. */
  def cmsCells(df: DataFrame, keyCol: Column, d: Int, w: Int)
      : DataFrame =
    cmsCellTable(df.select(keyCol.as("key")), Nil, Nil, d, w)(
      count(lit(1)))

  /** [[cmsCells]] with a slice/shard grouping column carried through
    * the aggregate — `(slice, r, c, cnt)`, one cell table per slice
    * value from ONE input pass (the ingest rows' shape: existing and
    * batch slices split by a doc_id bound pay one corpus scan, not
    * two). The cell hash sees only `keyCol`, so each slice's table is
    * bit-identical to `cmsCells` over that slice alone; the exchange
    * stays capped at slices × d × w rows per partition. */
  def cmsCellsSliced(df: DataFrame, sliceCol: Column, keyCol: Column,
      d: Int, w: Int): DataFrame =
    cmsCellTable(df.select(sliceCol.as("slice"), keyCol.as("key")),
      Seq("slice"), Nil, d, w)(count(lit(1)))

  /** [[cmsCells]] from a pre-aggregated `(key, cnt)` frame — for the
    * AUDIT rows that already pay a vocabulary aggregate for their
    * exact branch (cms_bigram_report's top-k): the d md5 probes then
    * run once per DISTINCT key instead of once per occurrence, and
    * the vocabulary exchange is shared with the exact branch by plan
    * reuse. The cell table is identical (Σ_keys cnt per cell ≡ count
    * of occurrences per cell). NOT the production ingest shape: a
    * vocabulary aggregate's exchange is vocab-sized, where
    * [[cmsCells]]' stays capped at d×w rows per partition whatever
    * the corpus — keep the ingest rows on [[cmsCells]]. */
  def cmsCellsFromCounts(counts: DataFrame, d: Int, w: Int): DataFrame =
    cmsCellTable(counts, Nil, Seq("cnt"), d, w)(sum("cnt"))

  /** Merge of cell tables built with the same d and w by cell-wise
    * ADDITION (shard-safe, not idempotent). Input/output: `r, c, cnt`. */
  def cmsMerge(cells: DataFrame): DataFrame =
    cells.groupBy("r", "c").agg(sum("cnt").as("cnt"))

  /** Point-query estimates for a (small) candidate frame carrying
    * `key`: joins each candidate's d cells against the sketch and
    * takes min_r cnt. The sketch is w×d rows — ALWAYS broadcast —
    * so the probe costs one broadcast hash join however many
    * candidates there are. Output: input columns + `cms_estimate`.
    *
    * `missingAsZero = true` (default) LEFT-joins so a never-inserted
    * key estimates 0 — the general point-query contract. Pass false
    * when every candidate is known inserted (all d cells then exist
    * by construction): the probe becomes an INNER join, identical in
    * result but visible to `count()` — a left join over the
    * unique-keyed sketch is row-preserving, so Catalyst's join
    * elimination would let a count()-timed bench skip the whole
    * sketch build (the ElisionPin hazard). */
  def cmsEstimate(candidates: DataFrame, cells: DataFrame, d: Int,
      w: Int, missingAsZero: Boolean = true): DataFrame = {
    val keyCols = candidates.columns.map(col).toSeq
    val joinType = if (missingAsZero) "left" else "inner"
    candidates
      .select(keyCols :+ cmsRows(d): _*)
      .withColumn("c", cmsCell(col("r"), col("key"), w))
      .join(broadcast(cells), Seq("r", "c"), joinType)
      .groupBy(keyCols: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))
  }

  // ---------------------------------------------------------------
  // HDR-style log-bucket QUANTILE sketch — the third member of the
  // trio (HLL: distinct; CMS: counts; this: quantiles), the shape
  // HdrHistogram and Prometheus-native-histogram deploy at scale:
  // a non-negative integer collapses to (exponent, 4 top mantissa
  // bits), so the histogram holds ≤ 32 + 58×16 = 960 buckets
  // (values < 32 each occupy their own bucket — 32 of them — and
  // exponents 6..63 contribute 58 × 16 mantissa cells; r16 ADVICE
  // corrected the earlier 16 + 56×16 = 912 arithmetic) for the
  // entire BIGINT range however many distinct values the corpus has —
  // where an exact value histogram grows with value cardinality.
  // Buckets are pure integer bit arithmetic (length(bin(v)) is the
  // exponent probe, the same cross-engine idiom hllRegisters' rho
  // uses), merge by addition, and bound relative error at 2^-4 =
  // 6.25%: a value in bucket b satisfies lo(b) <= v < lo(b)·(1+1/16),
  // so a quantile read off bucket lower bounds never overestimates —
  // err_pm stays non-negative and truncating div/flooring // agree.
  // Values < 32 (exponent <= 4) are their own exact buckets.
  // Emitted as SQL fragments, not Columns: the shift distances are
  // data-dependent, which the Scala Column API can't express
  // (shiftright's wrapper takes a literal Int) but both SQL dialects
  // can. Spark and DuckDB differ only in shift spelling
  // (shiftright/shiftleft vs >>/<<) — integer ops, no rounding to
  // share a string over.
  // ---------------------------------------------------------------

  /** Spark-SQL bucket index for non-negative BIGINT expression `v`. */
  def hdrBucketSql(v: String): String =
    s"CASE WHEN length(bin($v)) <= 5 THEN $v" +
      s" ELSE (length(bin($v)) - 5) * 16 +" +
      s" shiftright($v, length(bin($v)) - 5) END"

  /** Spark-SQL inclusive lower bound of `v`'s bucket. */
  def hdrBucketLoSql(v: String): String =
    s"CASE WHEN length(bin($v)) <= 5 THEN $v" +
      s" ELSE shiftleft(shiftright($v, length(bin($v)) - 5)," +
      s" length(bin($v)) - 5) END"

  /** DuckDB spelling of [[hdrBucketSql]]. */
  def hdrBucketDuck(v: String): String =
    s"CASE WHEN length(bin($v)) <= 5 THEN $v" +
      s" ELSE (length(bin($v)) - 5) * 16 +" +
      s" ($v >> (length(bin($v)) - 5)) END"

  /** DuckDB spelling of [[hdrBucketLoSql]]. */
  def hdrBucketLoDuck(v: String): String =
    s"CASE WHEN length(bin($v)) <= 5 THEN $v" +
      s" ELSE ($v >> (length(bin($v)) - 5)) <<" +
      s" (length(bin($v)) - 5) END"

  /** Appends `bucket` and its inclusive lower bound `lo` for a frame's
    * non-negative BIGINT `vi` column. */
  def hdrBuckets(df: DataFrame): DataFrame =
    df.withColumn("bucket", expr(hdrBucketSql("vi")))
      .withColumn("lo", expr(hdrBucketLoSql("vi")))

  /** Bucket histogram of `vi` per `groupCols`: `groupCols…, bucket,
    * lo, cnt`. */
  def hdrHistogram(df: DataFrame, groupCols: String*): DataFrame =
    hdrBuckets(df).groupBy(groupCols.head, groupCols.tail :+ "bucket": _*)
      .agg(min("lo").as("lo"), count(lit(1)).as("cnt"))

  /** Merge of bucket histograms by ADDITION per `groupCols` and bucket
    * (`lo` is a pure function of the bucket, so min() re-derives it).
    * Shard-safe but not idempotent: a histogram merged twice counts
    * twice. */
  def hdrMerge(hist: DataFrame, groupCols: String*): DataFrame =
    hist.groupBy(groupCols.head, groupCols.tail :+ "bucket": _*)
      .agg(min("lo").as("lo"), sum("cnt").as("cnt"))

  /** The quantile reader's first half: appends `cum` (the running
    * `cnt` in `order` within `by`) and `n` (the `by` group's total) to
    * a histogram — an HDR bucket histogram or an exact value one. */
  def cumCounts(hist: DataFrame, by: String, order: String): DataFrame = {
    val wn = Window.partitionBy(by)
    hist.withColumn("cum", sum("cnt").over(wn.orderBy(order)))
      .withColumn("n", sum("cnt").over(wn))
  }

  /** The quantile reader's second half, an aggregate over a
    * [[cumCounts]] frame: the least `value` whose running count
    * reaches p% of n. Integer comparison, so no float rank to drift
    * between engines; read off HDR bucket lower bounds it never
    * overestimates. */
  def quantileAt(p: Int, value: String): Column =
    min(when(col("cum") * 100 >= lit(p) * col("n"), col(value)))
}
