package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{AsofJoin, Sketches}
import graft.sources.Tables

/** Event-time queries over the `events` table: the as-of join (state at
  * event time) and gap-based sessionization — the two temporal
  * primitives every behavioral/training-data pipeline needs and plain
  * equi-joins/group-bys cannot express.
  *
  * `events.ts` is read as epoch-NANO longs (see GraftSession); outputs
  * expose times as epoch MICROS (`ts div 1000`, exact — the generator
  * writes micro-resolution values) so the DuckDB oracle can mirror them
  * with `epoch_us(ts)`.
  */
object TemporalQueries {

  /** Shared per-user funnel frame (s_any/c_any/p_any): running-min
    * windows gate each stage on the previous one within a day —
    * user-bounded partitions, all parallel. Used by funnel_stages
    * (stage histogram) and funnel_wilson (conversion confidence). */
  private def funnelPerUser(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val DayUs = 86400000000L
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"))
    val withS = ev.withColumn("s_ts",
      min(when(col("event_type") === "signup", col("ts_us"))).over(w))
    val withC = withS.withColumn("c_ts",
      min(when(col("event_type") === "click" &&
        col("ts_us") <= col("s_ts") + DayUs, col("ts_us"))).over(w))
    val withP = withC.withColumn("p_ts",
      min(when(col("event_type") === "purchase" &&
        col("ts_us") <= col("c_ts") + DayUs, col("ts_us"))).over(w))
    withP.groupBy("user_id")
      .agg(min(col("s_ts")).as("s_any"), min(col("c_ts")).as("c_any"),
        min(col("p_ts")).as("p_any"))
  }

  private val SessionGapUs = 6L * 3600 * 1000000 // 6 hours, micros

  /** EQUI-JOIN window expansion for the rolling-7-day rows (r20
    * verdict "what's wrong" #2): `days ⋈ rows ON day BETWEEN d-6 AND d`
    * is non-equi, so Spark plans a BroadcastNestedLoopJoin — days ×
    * rows probe pairs, fine while day-grain tables are small but the
    * wrong asymptotic shape (it grows multiplicatively with BOTH
    * sides). `day ∈ [d-6, d] ⇔ d ∈ [day, day+6]`, so each row instead
    * EXPLODES to its ≤ 7 window anchors and equi-joins the observed
    * anchor set — 7× row expansion, shuffle/broadcast-hash friendly,
    * identical output (the join against `days` keeps only anchors
    * that actually occur). `rows` must carry a LONG `day` column;
    * output = rows' columns + anchor `d`. */
  private def expandWindow7(rows: org.apache.spark.sql.DataFrame,
      days: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    rows
      .withColumn("d", explode(sequence(col("day"), col("day") + 6)))
      .join(days.select(col("day").as("d")), Seq("d"))

  /** An event's epoch-µs day. */
  private def dayOf: Column =
    expr("(ts div 1000) div 86400000000").as("day")

  /** The HLL sliding rows' input: each event's `day` and its user as
    * the string `uid`. */
  private def userDays(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables.events(s, dir)
      .select(dayOf, col("user_id").cast("string").as("uid"))

  /** `day, est_users` from a p=5 register table keyed by day. */
  private def usersEstimate(regs: DataFrame): DataFrame =
    Sketches.hllSummary(regs, 5)
      .withColumnRenamed("key", "day")
      .withColumn("est_users", expr(Sketches.hllEstimateSql(5)))
      .select("day", "est_users")

  /** Rolling 7-day `day, est_users` from per-day registers `day,
    * register, m`: each window is one register max over its days. */
  private def slidingUsers(dayRegs: DataFrame, days: DataFrame)
      : DataFrame =
    usersEstimate(expandWindow7(dayRegs, days)
      .groupBy(col("d").as("key"), col("register"))
      .agg(max("m").as("m")))

  /** The HDR rows' input: positive event values as floor-1e6
    * micro-units `vi` (the ONE float op, the same
    * "floor(value * 1000000e0)" text in both engines; everything after
    * is integer bit arithmetic), next to `keys`. */
  private def valueMicros(s: org.apache.spark.sql.SparkSession,
      dir: String, keys: Column*): DataFrame =
    Tables.events(s, dir)
      .filter(col("value").isNotNull && col("value") > 0)
      .select(keys :+
        expr("CAST(floor(value * 1000000e0) AS BIGINT)").as("vi"): _*)

  private val Percents = Seq(50, 90, 99)

  /** `pNN_<suffix>` for NN in [[Percents]] per `by`, read off a
    * [[Sketches.cumCounts]] frame's `value`, plus `extra` aggregates. */
  private def percentiles(cum: DataFrame, by: Column, value: String,
      suffix: String, extra: Column*): DataFrame = {
    val aggs = Percents.map(p =>
      Sketches.quantileAt(p, value).as(s"p${p}_$suffix")) ++ extra
    cum.groupBy(by).agg(aggs.head, aggs.tail: _*)
  }

  /** Rolling 7-day `day, p50_sketch, p90_sketch, p99_sketch` from
    * per-day histograms `day, bucket, lo, cnt`: each window is a
    * cell-wise add over its days. */
  private def slidingPercentiles(dayHist: DataFrame, days: DataFrame)
      : DataFrame =
    percentiles(Sketches.cumCounts(
        Sketches.hdrMerge(expandWindow7(dayHist, days), "d"), "d", "bucket"),
      col("d").as("day"), "lo", "sketch")

  /** The audit rows' `pNN_exact, pNN_sketch, pNN_err_pm` columns. The
    * sketch reads bucket lower bounds, so err_pm is non-negative
    * (truncating div and flooring // agree). value > 0 does not prevent
    * vi = 0 on sub-microunit data, and a zero divisor splits the
    * engines — Spark `div` returns NULL, DuckDB `//` raises — so the
    * explicit CASE (mirrored in the oracle) makes it NULL in both. */
  private def errPmColumns: Seq[Column] = Percents.flatMap { p =>
    Seq(col(s"p${p}_exact"), col(s"p${p}_sketch"),
      expr(s"CASE WHEN p${p}_exact = 0 THEN NULL ELSE " +
        s"(p${p}_exact - p${p}_sketch) * 1000 div p${p}_exact END")
        .as(s"p${p}_err_pm"))
  }

  /** hll_sliding_users' permille error — ONE shared double string
    * (house discipline): est_users is one shared-SQL division,
    * exact_users an exact integer ≥ 1 (a day exists only with
    * events), so the floor'd permille is engine-identical. */
  private val SlidingErrPermilleSql =
    "CAST(floor(abs(est_users - CAST(exact_users AS DOUBLE)) " +
      "* 1000e0 / CAST(exact_users AS DOUBLE)) AS BIGINT)"

  /** hll_sliding_from_table's persisted per-day register table —
    * SF-suffixed at-rest layout under the pid-scoped
    * [[graft.queries.artifactRoot]] (same concurrency contract as
    * TrainingQueries' sketch tables; writes serialize through
    * [[TrainingQueries.overwriteThenAppend]]). The oracle never reads it
    * — it recomputes per-day registers from `events` (parquet
    * round-trips the integers losslessly). */
  private def hllDayExportPath(dir: String): String =
    s"$artifactRoot/hll_day_regs_${new java.io.File(dir).getName}" +
      ".parquet"

  /** hdr_sliding_from_table's persisted per-day bucket-histogram
    * table — the [[hllDayExportPath]] layout for the HDR family
    * (same pid-scoped root, same [[TrainingQueries.overwriteThenAppend]]
    * serialization). One contract DIFFERENCE vs the HLL table,
    * documented because it changes the ingest law: HDR cells merge by
    * ADDITION (`hdr_merge_shards`), which is shard-safe but NOT
    * idempotent — a day re-appended whole would double its counts
    * (HLL's register-max forgives exactly that). The append
    * discipline is therefore at-most-once per closed day (in
    * production: per-day partition overwrite / atomic rename), and
    * the read-back merge exists for SHARD-split appends of one day,
    * never for re-delivered history. */
  private def hdrDayExportPath(dir: String): String =
    s"$artifactRoot/hdr_day_hist_${new java.io.File(dir).getName}" +
      ".parquet"

  /** The sliding-estimate oracle — shared verbatim by
    * hll_sliding_estimate (localCheckpoint answer path) and
    * hll_sliding_from_table (parquet-persisted day-grain register
    * table): the write/append/read round-trip is lossless integers,
    * so both rows must hash-match the same recomputation from
    * `events`. */
  private lazy val hllSlidingEstimateOracleSql: String = {
    val est = Sketches.hllEstimateSql(5)
    s"""WITH ev AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(user_id AS VARCHAR) AS uid
      |  FROM events
      |), hh AS (
      |  SELECT day,
      |    ('0x' || substr(md5(uid), 1, 15))::BIGINT AS h
      |  FROM ev
      |), rg AS (
      |  SELECT day, h // 36028797018963968 AS register,
      |    MAX(CASE WHEN h % 36028797018963968 = 0 THEN 56
      |      ELSE 56 - length(bin(h % 36028797018963968)) END) AS m
      |  FROM hh GROUP BY day, register
      |), days AS (
      |  SELECT DISTINCT day FROM rg
      |), wr AS (
      |  SELECT d.day AS wd, rg.register, MAX(rg.m) AS m
      |  FROM days d JOIN rg ON rg.day BETWEEN d.day - 6 AND d.day
      |  GROUP BY 1, 2
      |), su AS (
      |  SELECT wd AS day,
      |    (32 - COUNT(*)) * 72057594037927936 +
      |      CAST(SUM(1::BIGINT << (56 - m)) AS BIGINT) AS s_scaled
      |  FROM wr GROUP BY wd
      |)
      |SELECT day, $est AS est_users FROM su ORDER BY day""".stripMargin
  }

  /** The sliding-quantile-sketch oracle — shared verbatim by
    * hdr_sliding_sketch (localCheckpoint answer path) and
    * hdr_sliding_from_table (parquet-persisted day-grain histogram
    * table): bucket/lo/cnt are lossless integers through the
    * write/append/read round-trip, so both rows must hash-match the
    * same recomputation from `events`. */
  private lazy val hdrSlidingSketchOracleSql: String =
    s"""WITH e AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(floor(value * 1000000e0) AS BIGINT) AS vi
      |  FROM events WHERE value IS NOT NULL AND value > 0
      |), b AS (
      |  SELECT day, vi,
      |    ${Sketches.hdrBucketDuck("vi")} AS bucket,
      |    ${Sketches.hdrBucketLoDuck("vi")} AS lo
      |  FROM e
      |), hist AS (
      |  SELECT day, bucket, MIN(lo) AS lo,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM b GROUP BY day, bucket
      |), days AS (
      |  SELECT DISTINCT day FROM hist
      |), wh AS (
      |  SELECT d.day AS wd, hist.bucket, MIN(hist.lo) AS lo,
      |    CAST(SUM(hist.cnt) AS BIGINT) AS cnt
      |  FROM days d
      |  JOIN hist ON hist.day BETWEEN d.day - 6 AND d.day
      |  GROUP BY 1, 2
      |), skcum AS (
      |  SELECT wd, lo, cnt,
      |    SUM(cnt) OVER (PARTITION BY wd ORDER BY bucket) AS cum,
      |    SUM(cnt) OVER (PARTITION BY wd) AS n
      |  FROM wh
      |)
      |SELECT wd AS day,
      |  MIN(CASE WHEN cum * 100 >= 50 * n THEN lo END)
      |    AS p50_sketch,
      |  MIN(CASE WHEN cum * 100 >= 90 * n THEN lo END)
      |    AS p90_sketch,
      |  MIN(CASE WHEN cum * 100 >= 99 * n THEN lo END)
      |    AS p99_sketch
      |FROM skcum GROUP BY wd ORDER BY day""".stripMargin

  val all: Map[String, Q] = Map(

    // SLIDING-WINDOW DISTINCT via register merge — the operation
    // stickiness_report documents as its sketch-requiring sibling:
    // rolling 7-day distinct users per day needs the UNION of seven
    // daily distinct sets per output row. Exact computation shuffles
    // every (day, user) pair into every window it touches (7× write
    // amplification at 100 TB, growing with window length), while
    // per-day HLL registers (days × 32 rows at p=5, SF-invariant)
    // make each window one register-max over ≤ 7×32 rows — zero
    // corpus reads past the one scan, ANY window length for the same
    // price, and yesterday's registers never recompute (the
    // hll_merge_shards incremental-ingest story applied to time).
    // The exact sliding count rides along as the TEST-SCALE audit
    // (pair-row discipline; its day×user expansion is the 7× blowup
    // the sketch exists to avoid). p=5 keeps sf0.01's ~150-user
    // windows in the raw-HLL regime; the gate checks determinism,
    // not accuracy, below it.
    //
    // r18 verdict: THIS row is the audit twin; the PRODUCTION form is
    // hll_sliding_estimate below — estimate columns from the
    // checkpointed per-day register frame ALONE, no corpus-scale
    // (day, user) distinct, no 7× window expansion of raw rows.
    "hll_sliding_users" -> { (s, dir) =>
      val ev = userDays(s, dir)
      val regs = Sketches.hllRegisters(ev, col("day"), col("uid"), 5)
        .withColumnRenamed("key", "day")
        .localCheckpoint()
      val days = regs.select("day").distinct()
      val exact = expandWindow7(ev.distinct(), days)
        .select(col("d"), col("uid")).distinct()
        .groupBy(col("d").as("day"))
        .agg(count(lit(1)).as("exact_users"))
      slidingUsers(regs, days).join(exact, "day")
        .withColumn("err_pm", expr(SlidingErrPermilleSql))
        .select("day", "est_users", "exact_users", "err_pm")
        .orderBy("day")
    },

    // hll_sliding_users' SKETCH-ONLY production twin (r18 verdict
    // task #1 — the hll_pair_estimate discipline applied to the
    // sliding rows): rolling 7-day distinct users per day, ONE corpus
    // pass, ZERO joins (r22, verdict #2). Each event's register/rho
    // explodes to its ≤ 7 window anchors and aggregates STRAIGHT to
    // (anchor, register) with map-side partials — the day-grain
    // pre-aggregate, the days-distinct, the anchor join (r21's
    // equi-join, r20's BroadcastNestedLoopJoin) and the
    // construction-time checkpoint all fold into the one aggregate
    // the window algebra already paid. The explode is 7 longs AFTER
    // the one md5 per event, and the partial aggregate caps the
    // exchange at (days+6) × 32 rows per partition — SF-invariant, so
    // the 7× anchor fan-out never reaches a shuffle. An anchor is a
    // REAL output day iff one of its rows came from day == anchor;
    // the max'd `obs` flag carries that through the aggregate, and
    // its per-anchor window max rides the same hash partitioning the
    // summary groupBy reuses (no extra exchange). Estimates are the
    // shared-string raw-HLL division — identical output, pinned by
    // the shared hll_sliding_from_table oracle. Durable variant:
    // hll_sliding_from_table persists the day-grain registers and
    // runs the window algebra over the read-back table.
    "hll_sliding_estimate" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val winRegs = Sketches.hllRegisterRho(userDays(s, dir)
          .select(col("day"), Sketches.hash60(col("uid")).as("h")), 5)
        .select(col("day"),
          explode(sequence(col("day"), col("day") + 6)).as("key"),
          col("register"), col("rho"))
        .groupBy("key", "register")
        .agg(max("rho").as("m"),
          max(when(col("day") === col("key"), 1).otherwise(0))
            .as("obs"))
      val observed = winRegs
        .withColumn("_obs_d", max("obs").over(Window.partitionBy("key")))
        .filter(col("_obs_d") === 1)
        .select("key", "register", "m")
      usersEstimate(observed).orderBy("day")
    },

    // hll_sliding_estimate over a PERSISTED day-grain sketch table
    // (r19 verdict task #1 — the hll_pair_from_table +
    // hll_table_ingest pattern applied at day grain, retiring the
    // last localCheckpoint-only production row a rolling-monitoring
    // deployment would run daily): the per-day register frame is
    // WRITTEN to a parquet sketch table — all closed history in one
    // scan (the write an ingest job runs ONCE), then the newest
    // closed day APPENDS incrementally: only ITS events scan,
    // yesterday never recomputes, and the read-back register-max
    // groupBy is the hll_merge_shards law applied to time (≤ days×32
    // rows, idempotent under re-appended overlap). The rolling 7-day
    // estimates then derive from READING the table back — the window
    // algebra of hll_sliding_estimate unchanged, the answer-time
    // plan's FileScans touch ONLY the ≤ days×32-row sketch table
    // (PlanPins pins `events` absent) — restart-safe, shareable
    // across jobs, ANY window length for the same price. Results are
    // identical to hll_sliding_estimate (parquet round-trips the
    // integer registers losslessly), so both rows share one oracle.
    "hll_sliding_from_table" -> { (s, dir) =>
      val ev = userDays(s, dir)
      val maxDay = TrainingQueries.splitBound(ev, "day",
        s"hll_sliding_from_table: events table at $dir is empty — " +
          "no day bound to split closed history vs the newest day")
      def regs(f: DataFrame) =
        Sketches.hllRegisters(f, col("day"), col("uid"), 5)
          .withColumnRenamed("key", "day")
      // at rest: every closed day before the newest; appended: the
      // newly closed day's OWN registers. The read-back register-max
      // merge is idempotent — a re-appended day cannot inflate any
      // register (the ingest law at day grain).
      val tbl = Sketches.hllMerge(TrainingQueries.overwriteThenAppend(
        regs(ev.filter(col("day") < maxDay)),
        regs(ev.filter(col("day") === maxDay)), hllDayExportPath(dir)),
        "day")
      slidingUsers(tbl, tbl.select("day").distinct()).orderBy("day")
    },

    // As-of join: every non-purchase event picks up the user's most
    // recent purchase value at-or-before its own timestamp. One hash
    // exchange + per-partition sort, NO join node (AsofJoin unions the
    // tagged sides and runs one last()-window) — per-key cost is
    // (L+R)·log(L+R), never L·R. The oracle is DuckDB's NATIVE
    // `ASOF LEFT JOIN` — a fully independent implementation of the
    // same semantics, including the inclusive `>=` tie rule.
    "asof_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val left = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"))
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user"),
          expr("ts div 1000").as("r_ts_us"), col("value"))
      AsofJoin.backward(left, right,
          left("user_id"), right("r_user"),
          left("ts_us"), right("r_ts_us"),
          payload = Seq("last_purchase_value" -> right("value")),
          matchedTimeCol = Some("last_purchase_ts_us"))
        .orderBy("event_id")
    },

    // Forward as-of: for every non-purchase event, the user's NEXT
    // purchase at-or-after it — time-to-conversion attribution, the
    // mirror of asof_join's "state at event time". Identical plan
    // (union-tag + ONE exchange + one window; see AsofJoin), just a
    // flipped frame + running first(); the oracle is DuckDB's native
    // ASOF with the `<=` inequality.
    "asof_forward" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val left = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"))
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user"),
          expr("ts div 1000").as("r_ts_us"), col("value"))
      AsofJoin.forward(left, right,
          left("user_id"), right("r_user"),
          left("ts_us"), right("r_ts_us"),
          payload = Seq("next_purchase_value" -> right("value")),
          matchedTimeCol = Some("next_purchase_ts_us"))
        .orderBy("event_id")
    },

    // First-order Markov transition matrix over per-user event
    // streams — the "what do users do next" table product analytics
    // builds funnels from: for every consecutive (event, next event)
    // pair within a user's timeline, transition counts and the
    // row-normalized probability in integer permille. One lead()
    // window per user (user-bounded partitions, all parallel), one
    // types²-bounded aggregate, and the row totals ride a
    // types-cardinality broadcast join back — nothing scales beyond
    // events for the window and types² afterward.
    "event_transitions" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_type"), col("event_id"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      val trans = ev
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val fromTot = trans.groupBy("from_type").agg(sum("n").as("n_from"))
      trans.join(broadcast(fromTot), "from_type")
        .withColumn("p_permille", expr("n * 1000 div n_from"))
        .orderBy("from_type", "to_type")
    },

    // Binned range join: customers matched to same-nation suppliers
    // whose account-balance band (±200) contains the customer's
    // balance — the point-in-interval shape (band lookups, tier
    // tables, IP ranges) Spark would otherwise plan as an O(N·M)
    // BroadcastNestedLoopJoin. RangeJoin bins the number line (width =
    // the 400-unit band, so ≤ 2 bins per interval), explodes interval
    // bins, and equi-joins on (nation, bin) + residual BETWEEN — an
    // ordinary shuffled join, AQE-eligible (RangeJoinSpec pins both
    // the no-BNLJ plan and brute-force equality).
    "range_join_binned" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
          (col("s_acctbal") - 200).as("lo"),
          (col("s_acctbal") + 200).as("hi"))
      graft.operators.RangeJoin.pointInInterval(
          c, col("c_acctbal"), sup, col("lo"), col("hi"),
          binWidth = 400.0,
          pointKey = Some(col("c_nationkey")),
          intervalKey = Some(col("s_nationkey")))
        .select(col("c_custkey"), col("s_suppkey"),
          col("c_acctbal"), col("s_acctbal"))
        .orderBy("c_custkey", "s_suppkey")
    },

    // Interval-OVERLAP join — pointInInterval's two-sided sibling
    // (RangeJoin.intervalOverlap): customer balance bands (±100) vs
    // same-nation supplier balance bands (±200), all pairs whose bands
    // intersect — the interval×interval shape (validity windows,
    // genomic ranges, session×promo overlap) that naive Spark plans as
    // a BroadcastNestedLoopJoin. Both sides explode to 400-wide bins
    // (≤2 bins for the 200-band, ≤3 for the 400-band) and the pair is
    // claimed ONLY in the bin of max(lo_a, lo_b) — exactly-once by
    // construction, no distinct (RangeJoinSpec pins brute-force
    // equality + the claim rule; PlanPinsSpec pins the no-BNLJ plan).
    // Band arithmetic is IEEE double add on both engines — identical
    // bytes — and output columns are the raw acctbals.
    "interval_overlap" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          (col("c_acctbal") - 100).as("c_lo"),
          (col("c_acctbal") + 100).as("c_hi"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
          (col("s_acctbal") - 200).as("s_lo"),
          (col("s_acctbal") + 200).as("s_hi"))
      graft.operators.RangeJoin.intervalOverlap(
          c, col("c_lo"), col("c_hi"), sup, col("s_lo"), col("s_hi"),
          binWidth = 400.0,
          leftKey = Some(col("c_nationkey")),
          rightKey = Some(col("s_nationkey")))
        .select(col("c_custkey"), col("s_suppkey"),
          col("c_acctbal"), col("s_acctbal"))
        .orderBy("c_custkey", "s_suppkey")
    },

    // Retention cohorts: users grouped by the week of their FIRST
    // event; for each (cohort, weeks-since) cell, how many of that
    // cohort were active — the classic retention triangle. The cohort
    // comes from a whole-partition window min (no join-back of a
    // first-seen table), so the plan is ONE exchange on user plus the
    // final cell partial-agg; weeks are integer epoch-µs divisions
    // (no calendar/timezone semantics to drift between engines).
    // Activity signal = high-value purchases (value ≥ 100) — sparse
    // enough (~0.5/user/week) that cohorts differ and cells decay,
    // i.e. the output actually discriminates.
    "retention_cohorts" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value") >= 100)
        .select(col("user_id"),
          expr("((ts div 1000) div 86400000000) div 7").as("week"))
      ev.withColumn("cohort_week",
          min("week").over(Window.partitionBy("user_id")))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("weeks_since"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_week", "weeks_since")
    },

    // Attribution flavor of the as-of join: each purchase claims the
    // user's most recent CLICK, but only within a 24h lookback — the
    // `tolerance` path (pandas merge_asof semantics). Same single
    // exchange; the tolerance is a post-window null-out, so the plan
    // shape is identical to the unbounded join. The oracle composes
    // DuckDB's ASOF (latest at-or-before) with an age filter — the
    // equivalent relational definition of a bounded lookback.
    "asof_tolerance" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val left = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"), col("value").as("purchase_value"))
      val right = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("r_user"),
          expr("ts div 1000").as("r_ts_us"),
          col("event_id").as("click_id"))
      AsofJoin.backward(left, right,
          left("user_id"), right("r_user"),
          left("ts_us"), right("r_ts_us"),
          payload = Seq("click_id" -> right("click_id")),
          matchedTimeCol = Some("click_ts_us"),
          tolerance = Some(lit(24L * 3600 * 1000000)))
        .orderBy("event_id")
    },

    // Ordered funnel with stage deadlines: how far does each user get
    // through signup → click-within-24h → purchase-within-24h-of-that-
    // click, each stage strictly after the previous? Three cascaded
    // running-min windows over ONE partitioning (user, ordered by
    // time) — Catalyst plans a single exchange + sort and chains the
    // Window operators, so the cost at 100 TB is one shuffle of the
    // events regardless of funnel depth; per-user state is three
    // longs, never a collected event list. (user_id, ts) is unique in
    // this dataset, so "strictly after" needs no tie rule. The oracle
    // mirrors the windows in SQL.
    "funnel_stages" -> { (s, dir) =>
      funnelPerUser(s, dir)
        .select(when(col("p_any").isNotNull, lit("3_purchase"))
          .when(col("c_any").isNotNull, lit("2_click"))
          .when(col("s_any").isNotNull, lit("1_signup"))
          .otherwise(lit("0_none")).as("funnel_stage"))
        .groupBy("funnel_stage").agg(count(lit(1)).as("n_users"))
        .orderBy("funnel_stage")
    },

    // Funnel CONVERSION rates with confidence — the report a growth
    // team actually reads: stage-over-stage conversion (click within
    // a day of signup; purchase within a day of that click) in
    // permille, with Wilson 95% bounds so a 5-user cohort's 60% is
    // not read like a 5k-user cohort's (the quality_audit discipline
    // applied to the funnel; same shared-SQL Wilson string →
    // hash-exact doubles, zero-denominator guarded in exact
    // integers). Same per-user window chain as funnel_stages; the
    // two-stage frame is built by exploding a 1-row count aggregate.
    "funnel_wilson" -> { (s, dir) =>
      val u = funnelPerUser(s, dir)
      val counts = u.agg(
        sum(when(col("s_any").isNotNull, 1L).otherwise(0L)).as("ns"),
        sum(when(col("c_any").isNotNull, 1L).otherwise(0L)).as("nc"),
        sum(when(col("p_any").isNotNull, 1L).otherwise(0L)).as("np"))
      def guarded(sign: String) =
        "CASE WHEN n_prev = 0 THEN CAST(0 AS BIGINT) ELSE " +
          TrainingQueries.wilsonPermicronSql("n_conv", "n_prev", sign) +
          " END"
      counts.select(explode(array(
          struct(lit("click_given_signup").as("stage"),
            col("ns").as("n_prev"), col("nc").as("n_conv")),
          struct(lit("purchase_given_click").as("stage"),
            col("nc").as("n_prev"), col("np").as("n_conv")))).as("r"))
        .select("r.*")
        .withColumn("conv_permille", expr(
          "CASE WHEN n_prev = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE n_conv * 1000 div n_prev END"))
        .withColumn("wilson_low_1e6", expr(guarded("-")))
        .withColumn("wilson_high_1e6", expr(guarded("+")))
        .orderBy("stage")
    },

    // Exact per-type VALUE percentiles (p50/p90/p99) — the
    // corpus_quantiles histogram trick on the event stream's payload:
    // aggregate a (type, value) histogram first (distinct payload
    // values are bounded — 2-decimal money-like amounts), then the
    // cumulative window runs on the histogram, never a corpus sort.
    "value_quantiles" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val hist = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("cnt"))
      val cum = sum("cnt").over(
        Window.partitionBy("event_type").orderBy("value"))
      val tot = sum("cnt").over(Window.partitionBy("event_type"))
      val ranked = hist.select(col("event_type"), col("value"),
        cum.as("cum"), tot.as("n"))
      def qd(p: Double) =
        min(when(col("cum") >= ceil(lit(p) * col("n")), col("value")))
      ranked.groupBy("event_type")
        .agg(qd(0.5).as("p50_value"), qd(0.9).as("p90_value"),
          qd(0.99).as("p99_value"))
        .orderBy("event_type")
    },

    // HDR-SKETCH value percentiles — value_quantiles' bounded-state
    // sibling and the quantile member of the Sketches trio
    // (operators/Sketches scaladoc): the exact histogram above is
    // safe only while distinct payload values stay bounded; this one
    // collapses each value to a (exponent, 4-mantissa-bit) log
    // bucket, so the per-type histogram holds ≤ 960 buckets at ANY
    // value cardinality and shards merge by addition. Values enter
    // as floor-1e6 micro-units (the ONE float op, the house shared-
    // double discipline — the same "floor(value * 1000000e0)" text
    // in both engines); everything after is integer bit arithmetic.
    // The report reads p50/p90/p99 off bucket LOWER bounds next to
    // the exact micro-unit answer: sketch <= exact < sketch·17/16,
    // so err_pm is non-negative (truncating div and flooring //
    // agree) and must stay under 62.5‰ — the 2^-4 design bound made
    // visible, audited by the oracle at every SF. Plan: two
    // histogram aggregates off one scan; windows run on bucket- and
    // value-cardinality frames, never the event stream.
    "hdr_value_quantiles" -> { (s, dir) =>
      val e = valueMicros(s, dir, col("event_type"))
      val sk = percentiles(Sketches.cumCounts(
          Sketches.hdrHistogram(e, "event_type"), "event_type", "bucket"),
        col("event_type"), "lo", "sketch", count(lit(1)).as("n_buckets"))
      val ex = percentiles(Sketches.cumCounts(
          e.groupBy("event_type", "vi").agg(count(lit(1)).as("cnt")),
          "event_type", "vi"),
        col("event_type"), "vi", "exact")
      sk.join(ex, "event_type")
        .select(col("event_type") +: errPmColumns :+ col("n_buckets"): _*)
        .orderBy("event_type")
    },

    // SLIDING-WINDOW QUANTILES via bucket-histogram addition —
    // hll_sliding_users' quantile sibling (the two sliding rows
    // cover the sketch trio's distinct + quantile axes): rolling
    // 7-day p50/p90/p99 of the event payload per day. Exact sliding
    // quantiles re-sort every event into every window it touches
    // (7× write amplification, growing with window length); per-day
    // HDR bucket histograms (days × ≤960 integer rows, SF-invariant)
    // make each window a cell-wise ADD over ≤ 7×960 rows — the
    // hdr_merge_shards law applied to time, any window length for
    // the same price, closed days never recompute. The exact sliding
    // quantiles ride along as the TEST-SCALE audit; err_pm is the
    // non-negative ≤62.5‰ bound of hdr_value_quantiles, audited per
    // window.
    //
    // r18 verdict: THIS row is the audit twin; the PRODUCTION form is
    // hdr_sliding_sketch below — sketch percentiles from the per-day
    // histograms alone, no day×event expansion, no corpus re-sort.
    "hdr_sliding_quantiles" -> { (s, dir) =>
      val e = valueMicros(s, dir, dayOf)
      val hist = Sketches.hdrHistogram(e, "day").localCheckpoint()
      val days = hist.select("day").distinct()
      val ex = percentiles(Sketches.cumCounts(
          expandWindow7(e, days).groupBy("d", "vi")
            .agg(count(lit(1)).as("cnt")), "d", "vi"),
        col("d").as("day"), "vi", "exact")
      slidingPercentiles(hist, days).join(ex, "day")
        .select(col("day") +: errPmColumns: _*)
        .orderBy("day")
    },

    // hdr_sliding_quantiles' SKETCH-ONLY production twin (r18 verdict
    // task #1, the hll_sliding_estimate discipline for quantiles):
    // rolling 7-day p50/p90/p99, ONE corpus pass, ZERO joins (r22,
    // verdict #2 — the hll_sliding_estimate single-pass shape for the
    // bucket histograms): each event's (bucket, lo) explodes to its
    // ≤ 7 window anchors and aggregates STRAIGHT to (anchor, bucket)
    // with map-side partials — min(lo) over contributing events ≡
    // min of per-day minima, count ≡ sum of per-day counts, so the
    // day-grain pre-aggregate, the days-distinct, the anchor join and
    // the checkpoint of the r21 shape all fold into the window
    // aggregate. The exchange stays capped at (days+6) × 960 rows per
    // partition; an anchor is a real output day iff the max'd `obs`
    // flag saw day == anchor (rides the cumulative window's existing
    // partitioning — no extra exchange). hdr_sliding_quantiles above
    // stays registered as the test-scale audit twin carrying the
    // exact percentiles; results are pinned by the shared
    // hdr_sliding_from_table oracle.
    "hdr_sliding_sketch" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val winHist = Sketches.hdrBuckets(valueMicros(s, dir, dayOf))
        .select(col("day"),
          explode(sequence(col("day"), col("day") + 6)).as("d"),
          col("bucket"), col("lo"))
        .groupBy("d", "bucket")
        .agg(min("lo").as("lo"), count(lit(1)).as("cnt"),
          max(when(col("day") === col("d"), 1).otherwise(0)).as("obs"))
      val observed = Sketches.cumCounts(winHist, "d", "bucket")
        .withColumn("_obs_d", max("obs").over(Window.partitionBy("d")))
        .filter(col("_obs_d") === 1)
      percentiles(observed, col("d").as("day"), "lo", "sketch")
        .orderBy("day")
    },

    // hdr_sliding_sketch over a PERSISTED day-grain histogram table —
    // the hll_sliding_from_table pattern for the HDR family,
    // completing durable-table symmetry across BOTH sliding
    // estimators (distinct AND quantiles): the per-day bucket
    // histograms are WRITTEN to a parquet sketch table — closed
    // history in one scan (the write an ingest job runs once), the
    // newest closed day APPENDED incrementally (only ITS events scan;
    // yesterday never recomputes) — and the rolling 7-day p50/p90/p99
    // derive from READING the table back: the window is a cell-wise
    // ADD over ≤ 7×960 rows (the hdr_merge_shards law applied to
    // time), the answer-time plan's FileScans touch ONLY the
    // ≤ days×960-row table (PlanPins pins `events` absent) —
    // restart-safe, shareable across jobs, any window length for the
    // same price. Contract note (vs the HLL table): ADDITION is
    // shard-safe but not idempotent, so the append discipline is
    // at-most-once per closed day — see hdrDayExportPath. Results are
    // identical to hdr_sliding_sketch (lossless integer round-trip),
    // so both rows share one oracle.
    "hdr_sliding_from_table" -> { (s, dir) =>
      val e = valueMicros(s, dir, dayOf)
      val maxDay = TrainingQueries.splitBound(e, "day",
        s"hdr_sliding_from_table: events table at $dir has no " +
          "positive-value rows — no day bound to split closed " +
          "history vs the newest day")
      // at rest: every closed day before the newest; appended: the
      // newly closed day's OWN histogram. The read-back cell-wise ADD
      // collapses shard-split appends of one day; it is NOT a
      // re-delivery shield (see the at-most-once contract on
      // hdrDayExportPath).
      val tbl = Sketches.hdrMerge(TrainingQueries.overwriteThenAppend(
        Sketches.hdrHistogram(e.filter(col("day") < maxDay), "day"),
        Sketches.hdrHistogram(e.filter(col("day") === maxDay), "day"),
        hdrDayExportPath(dir)), "day")
      slidingPercentiles(tbl, tbl.select("day").distinct()).orderBy("day")
    },

    // HDR member of the shard-merge family (hll_merge_shards /
    // cms_merge_shards / kmv_merge_shards — this completes all four
    // sketches): Spark shards events by user_id parity, builds an
    // independent per-shard bucket histogram, and merges by ADDITION
    // (lo is a pure function of bucket, so min() re-derives it);
    // the oracle derives the UNsharded histogram directly, so hash
    // equality on the cell table proves the HDR merge law across
    // engines on real data. Plan: two partial histogram aggregates +
    // one union exchange of ≤ 2 × types × 960 rows — SF-invariant
    // past the scans.
    "hdr_merge_shards" -> { (s, dir) =>
      val e = valueMicros(s, dir, col("user_id"), col("event_type"))
      def shard(p: Int) = Sketches.hdrHistogram(
        e.filter(pmod(col("user_id"), lit(2)) === p), "event_type")
      Sketches.hdrMerge(shard(0).unionByName(shard(1)), "event_type")
        .select("event_type", "bucket", "lo", "cnt")
        .orderBy("event_type", "bucket")
    },

    // Gap-based sessionization through Spark's NATIVE session_window
    // (the same operator the streaming path uses, so batch backfill and
    // live sessions share one definition): a session extends while the
    // next event arrives within 6h of the previous one (INCLUSIVE — an
    // event exactly 6h later still merges, pinned by SessionizeSpec);
    // session end = last event + gap. One partial-agg shuffle on
    // (user_id, merged window) — Spark merges windows map-side, so at
    // 100 TB the exchange carries per-session partials, not raw events.
    // The oracle re-derives sessions relationally (lag → break flag at
    // diff > gap → running sum → group), a genuinely different
    // algorithm.
    // Top user JOURNEYS — the most common session paths (first 5
    // event types in event order, '>'-joined): the product question
    // behind every funnel ("what do sessions actually look like?").
    // Sessions come from the native session_window operator (same
    // 6-hour gap as sessionize — map-side window merging, per-session
    // partials on the exchange); the in-session order is recovered
    // deterministically by array_sort over (ts_us, event_id, type)
    // structs since collect_list has no order guarantee. Path
    // cardinality is types^5-bounded, the count aggregate shrinks to
    // it, and the top-10 is a TakeOrdered. The 5-event prefix cap is
    // what keeps path cardinality bounded at any corpus size.
    "session_path_topk" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      val sessions = graft.streaming.Sessions.gapSessions(
        ev, timeCol = "event_ts", keyCol = "user_id", gap = "6 hours",
        aggs = Seq(collect_list(struct(
          expr("ts div 1000").as("ts_us"), col("event_id"),
          col("event_type"))).as("evs")))
      sessions
        .withColumn("path", expr("array_join(transform(" +
          "slice(array_sort(evs), 1, 5), x -> x.event_type), '>')"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n_sessions").desc, col("path"))))
        .select("rank", "path", "n_sessions")
        .orderBy("rank")
    },

    "sessionize" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      graft.streaming.Sessions.gapSessions(
          ev, timeCol = "event_ts", keyCol = "user_id", gap = "6 hours",
          aggs = Seq(count(lit(1)).as("n_events"),
            countDistinct(col("event_type")).as("n_types"),
            decSum(col("value")).as("sum_value")))
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events"), col("n_types"), col("sum_value"))
        .orderBy("user_id", "session_start_us")
    },

    // Session DISTRIBUTION report — the one-row summary a product
    // dashboard heads with: how many sessions, and the exact
    // p50/p90/p99 of session SIZE (events) and SPAN (first→last
    // event µs). Sessions come from the same native session_window
    // definition as sessionize (span = end − start − gap, recovering
    // MAX(ts) − MIN(ts) exactly); each percentile axis runs the
    // histogram-cumsum trick, and since r22 (verdict #7) the cumsum
    // is the two-pass range-partitioned
    // [[graft.operators.Cumulative.rangeCumSum]] — the span axis's
    // µs-grain histogram cardinality approaches the SESSION count, so
    // the single-partition Window.orderBy it replaces was the one
    // frame here that genuinely grows with the corpus. The three
    // 1-row frames compose by broadcast crossJoin.
    "session_stats" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      // span = MAX(ts) − MIN(ts) as aggregates INSIDE the session
      // aggregate (≡ session_end − session_start − gap), NOT
      // w.end − w.start arithmetic: re-aggregating a frame derived
      // from session_window's start/end is rewrite-hazardous — under
      // some downstream plan shapes (caught live when the r22
      // two-pass cumsum replaced the window over the span histogram)
      // Spark collapses the chained aggregates and start/end revert
      // to the PRE-MERGE per-row window, degenerating every span to
      // 0. min/max are plain aggregate outputs — no rewrite applies.
      val sess = graft.streaming.Sessions.gapSessions(
          ev, timeCol = "event_ts", keyCol = "user_id", gap = "6 hours",
          aggs = Seq(count(lit(1)).as("n_events"),
            min(unix_micros(col("event_ts"))).as("_mn"),
            max(unix_micros(col("event_ts"))).as("_mx")))
        .select(col("n_events"), (col("_mx") - col("_mn")).as("dur_us"))
      // twoPass: the µs-grain SPAN histogram's cardinality approaches
      // the session count (grows with the corpus — the r22 verdict-#7
      // offender), so its cumsum runs two-pass; the SIZE histogram is
      // bounded by the longest session (distinct event-counts, not
      // session count), so its single-partition window is a
      // boundedness pin, not a hazard — and the two-pass machinery
      // measured pure overhead at that cardinality.
      def qhist(c: String, twoPass: Boolean) = {
        import org.apache.spark.sql.expressions.Window
        val hist = sess.groupBy(c).agg(count(lit(1)).as("cnt"))
        val ranked =
          if (twoPass)
            graft.operators.Cumulative.rangeCumSum(
                hist, c, Seq(("cnt", "cum")), Seq(("cnt", "n")))
              .select(col(c), col("cum"), col("n"))
          else hist.select(col(c),
            // no partition key: the size histogram is a bounded frame
            // evaluated in one task
            sum("cnt").over(Window.orderBy(c)).as("cum"),
            sum("cnt").over().as("n"))
        def qd(p: Double) =
          min(when(col("cum") >= ceil(lit(p) * col("n")), col(c)))
        ranked.agg(qd(0.5).as(s"p50_$c"), qd(0.9).as(s"p90_$c"),
          qd(0.99).as(s"p99_$c"))
      }
      sess.agg(count(lit(1)).as("n_sessions"))
        .crossJoin(broadcast(qhist("n_events", twoPass = false)))
        .crossJoin(broadcast(qhist("dur_us", twoPass = true)))
    })

  /** Shared per-user funnel CTE chain — the SQL mirror of
    * [[funnelPerUser]]. */
  private val funnelUserCte =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
      |), w1 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'signup' THEN ts_us END)
      |    OVER (PARTITION BY user_id ORDER BY ts_us
      |          ROWS UNBOUNDED PRECEDING) AS s_ts
      |  FROM e
      |), w2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click'
      |                      AND ts_us <= s_ts + 86400000000
      |                     THEN ts_us END)
      |    OVER (PARTITION BY user_id ORDER BY ts_us
      |          ROWS UNBOUNDED PRECEDING) AS c_ts
      |  FROM w1
      |), w3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase'
      |                      AND ts_us <= c_ts + 86400000000
      |                     THEN ts_us END)
      |    OVER (PARTITION BY user_id ORDER BY ts_us
      |          ROWS UNBOUNDED PRECEDING) AS p_ts
      |  FROM w2
      |), u AS (
      |  SELECT user_id, MIN(s_ts) AS s_any, MIN(c_ts) AS c_any,
      |    MIN(p_ts) AS p_any
      |  FROM w3 GROUP BY user_id
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "hll_sliding_users" -> {
      val est = Sketches.hllEstimateSql(5)
      s"""WITH ev AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(user_id AS VARCHAR) AS uid
        |  FROM events
        |), hh AS (
        |  SELECT day,
        |    ('0x' || substr(md5(uid), 1, 15))::BIGINT AS h
        |  FROM ev
        |), rg AS (
        |  SELECT day, h // 36028797018963968 AS register,
        |    MAX(CASE WHEN h % 36028797018963968 = 0 THEN 56
        |      ELSE 56 - length(bin(h % 36028797018963968)) END) AS m
        |  FROM hh GROUP BY day, register
        |), days AS (
        |  SELECT DISTINCT day FROM rg
        |), wr AS (
        |  SELECT d.day AS wd, rg.register, MAX(rg.m) AS m
        |  FROM days d JOIN rg ON rg.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1, 2
        |), su AS (
        |  SELECT wd AS day,
        |    (32 - COUNT(*)) * 72057594037927936 +
        |      CAST(SUM(1::BIGINT << (56 - m)) AS BIGINT) AS s_scaled
        |  FROM wr GROUP BY wd
        |), se AS (
        |  SELECT day, $est AS est_users FROM su
        |), du AS (
        |  SELECT DISTINCT day, uid FROM ev
        |), ex AS (
        |  SELECT d.day AS day,
        |    CAST(COUNT(DISTINCT du.uid) AS BIGINT) AS exact_users
        |  FROM days d JOIN du ON du.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1
        |), f AS (
        |  SELECT se.day, est_users, exact_users
        |  FROM se JOIN ex ON ex.day = se.day
        |)
        |SELECT day, est_users, exact_users,
        |  $SlidingErrPermilleSql AS err_pm
        |FROM f ORDER BY day""".stripMargin
    },

    "hll_sliding_estimate" -> hllSlidingEstimateOracleSql,
    // identical window algebra over the parquet-persisted day-grain
    // register table — lossless integer round-trip, so the same
    // oracle pins the at-rest write, the incremental closed-day
    // append AND the read-back merge
    "hll_sliding_from_table" -> hllSlidingEstimateOracleSql,

    // Sessions re-derived relationally (lag → break → running sum),
    // the genuinely-different algorithm the sessionize oracle uses;
    // path order pinned by (ts, event_id).
    "session_path_topk" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM e
        |), p AS (
        |  SELECT user_id, sess,
        |    array_to_string(
        |      (array_agg(event_type ORDER BY ts, event_id))[1:5], '>')
        |      AS path
        |  FROM g GROUP BY user_id, sess
        |), c AS (
        |  SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
        |)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path)
        |    AS INT) AS rank,
        |  path, n_sessions
        |FROM c ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin,
    "interval_overlap" ->
      """SELECT c.c_custkey, s.s_suppkey, c.c_acctbal, s.s_acctbal
        |FROM customer c JOIN supplier s
        |  ON c.c_nationkey = s.s_nationkey
        | AND c.c_acctbal - 100 <= s.s_acctbal + 200
        | AND s.s_acctbal - 200 <= c.c_acctbal + 100
        |ORDER BY c.c_custkey, s.s_suppkey""".stripMargin,
    "range_join_binned" ->
      """SELECT c.c_custkey, s.s_suppkey, c.c_acctbal, s.s_acctbal
        |FROM customer c JOIN supplier s
        |  ON c.c_nationkey = s.s_nationkey
        | AND c.c_acctbal BETWEEN s.s_acctbal - 200 AND s.s_acctbal + 200
        |ORDER BY c.c_custkey, s.s_suppkey""".stripMargin,
    "asof_join" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
        |  r.value AS last_purchase_value,
        |  epoch_us(r.ts) AS last_purchase_ts_us
        |FROM (SELECT * FROM events WHERE event_type <> 'purchase') l
        |ASOF LEFT JOIN
        |  (SELECT user_id, ts, value FROM events
        |   WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    "asof_forward" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
        |  r.value AS next_purchase_value,
        |  epoch_us(r.ts) AS next_purchase_ts_us
        |FROM (SELECT * FROM events WHERE event_type <> 'purchase') l
        |ASOF LEFT JOIN
        |  (SELECT user_id, ts, value FROM events
        |   WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY l.event_id""".stripMargin,
    "event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type, event_id
        |  FROM events
        |), t AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS to_type
        |  FROM e
        |), c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM t
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2
        |), ft AS (
        |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        |  FROM c GROUP BY from_type
        |)
        |SELECT from_type, to_type, n, n_from,
        |  n * 1000 // n_from AS p_permille
        |FROM c JOIN ft USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "retention_cohorts" ->
      """WITH e AS (
        |  SELECT user_id, (epoch_us(ts) // 86400000000) // 7 AS week
        |  FROM events
        |  WHERE event_type = 'purchase' AND value >= 100
        |), c AS (
        |  SELECT *, MIN(week) OVER (PARTITION BY user_id) AS cohort_week
        |  FROM e
        |)
        |SELECT cohort_week, week - cohort_week AS weeks_since,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM c GROUP BY 1, 2
        |ORDER BY cohort_week, weeks_since""".stripMargin,
    "asof_tolerance" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
        |  l.value AS purchase_value,
        |  CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 86400000000
        |    THEN r.event_id END AS click_id,
        |  CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 86400000000
        |    THEN epoch_us(r.ts) END AS click_ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN
        |  (SELECT user_id, ts, event_id FROM events
        |   WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    "funnel_stages" ->
      s"""$funnelUserCte
        |SELECT CASE WHEN p_any IS NOT NULL THEN '3_purchase'
        |            WHEN c_any IS NOT NULL THEN '2_click'
        |            WHEN s_any IS NOT NULL THEN '1_signup'
        |            ELSE '0_none' END AS funnel_stage,
        |  COUNT(*) AS n_users
        |FROM u GROUP BY 1 ORDER BY funnel_stage""".stripMargin,
    "funnel_wilson" -> {
      def guarded(sign: String) =
        "CASE WHEN n_prev = 0 THEN CAST(0 AS BIGINT) ELSE " +
          TrainingQueries.wilsonPermicronSql("n_conv", "n_prev", sign) +
          " END"
      s"""$funnelUserCte, n AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN s_any IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ns,
        |    CAST(SUM(CASE WHEN c_any IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN p_any IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS np
        |  FROM u
        |), st AS (
        |  SELECT 'click_given_signup' AS stage, ns AS n_prev,
        |    nc AS n_conv FROM n
        |  UNION ALL
        |  SELECT 'purchase_given_click', nc, np FROM n
        |)
        |SELECT stage, n_prev, n_conv,
        |  CASE WHEN n_prev = 0 THEN CAST(0 AS BIGINT)
        |       ELSE n_conv * 1000 // n_prev END AS conv_permille,
        |  ${guarded("-")} AS wilson_low_1e6,
        |  ${guarded("+")} AS wilson_high_1e6
        |FROM st ORDER BY stage""".stripMargin
    },
    "session_stats" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           > INTERVAL 6 HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM e
        |), s AS (
        |  SELECT user_id, sess, COUNT(*) AS n_events,
        |    epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
        |  FROM g GROUP BY user_id, sess
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  quantile_disc(n_events, 0.5) AS p50_n_events,
        |  quantile_disc(n_events, 0.9) AS p90_n_events,
        |  quantile_disc(n_events, 0.99) AS p99_n_events,
        |  quantile_disc(dur_us, 0.5) AS p50_dur_us,
        |  quantile_disc(dur_us, 0.9) AS p90_dur_us,
        |  quantile_disc(dur_us, 0.99) AS p99_dur_us
        |FROM s""".stripMargin,
    "value_quantiles" ->
      """SELECT event_type,
        |  quantile_disc(value, 0.5) AS p50_value,
        |  quantile_disc(value, 0.9) AS p90_value,
        |  quantile_disc(value, 0.99) AS p99_value
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "hdr_sliding_quantiles" ->
      s"""WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value * 1000000e0) AS BIGINT) AS vi
        |  FROM events WHERE value IS NOT NULL AND value > 0
        |), b AS (
        |  SELECT day, vi,
        |    ${Sketches.hdrBucketDuck("vi")} AS bucket,
        |    ${Sketches.hdrBucketLoDuck("vi")} AS lo
        |  FROM e
        |), hist AS (
        |  SELECT day, bucket, MIN(lo) AS lo,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM b GROUP BY day, bucket
        |), days AS (
        |  SELECT DISTINCT day FROM hist
        |), wh AS (
        |  SELECT d.day AS wd, hist.bucket, MIN(hist.lo) AS lo,
        |    CAST(SUM(hist.cnt) AS BIGINT) AS cnt
        |  FROM days d
        |  JOIN hist ON hist.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1, 2
        |), skcum AS (
        |  SELECT wd, lo, cnt,
        |    SUM(cnt) OVER (PARTITION BY wd ORDER BY bucket) AS cum,
        |    SUM(cnt) OVER (PARTITION BY wd) AS n
        |  FROM wh
        |), sk AS (
        |  SELECT wd AS day,
        |    MIN(CASE WHEN cum * 100 >= 50 * n THEN lo END)
        |      AS p50_sketch,
        |    MIN(CASE WHEN cum * 100 >= 90 * n THEN lo END)
        |      AS p90_sketch,
        |    MIN(CASE WHEN cum * 100 >= 99 * n THEN lo END)
        |      AS p99_sketch
        |  FROM skcum GROUP BY wd
        |), we AS (
        |  SELECT d.day AS wd, e.vi, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM days d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1, 2
        |), excum AS (
        |  SELECT wd, vi, cnt,
        |    SUM(cnt) OVER (PARTITION BY wd ORDER BY vi) AS cum,
        |    SUM(cnt) OVER (PARTITION BY wd) AS n
        |  FROM we
        |), ex AS (
        |  SELECT wd AS day,
        |    MIN(CASE WHEN cum * 100 >= 50 * n THEN vi END) AS p50_exact,
        |    MIN(CASE WHEN cum * 100 >= 90 * n THEN vi END) AS p90_exact,
        |    MIN(CASE WHEN cum * 100 >= 99 * n THEN vi END) AS p99_exact
        |  FROM excum GROUP BY wd
        |)
        |SELECT sk.day,
        |  p50_exact, p50_sketch,
        |  CASE WHEN p50_exact = 0 THEN NULL ELSE
        |    (p50_exact - p50_sketch) * 1000 // p50_exact END
        |    AS p50_err_pm,
        |  p90_exact, p90_sketch,
        |  CASE WHEN p90_exact = 0 THEN NULL ELSE
        |    (p90_exact - p90_sketch) * 1000 // p90_exact END
        |    AS p90_err_pm,
        |  p99_exact, p99_sketch,
        |  CASE WHEN p99_exact = 0 THEN NULL ELSE
        |    (p99_exact - p99_sketch) * 1000 // p99_exact END
        |    AS p99_err_pm
        |FROM sk JOIN ex ON ex.day = sk.day
        |ORDER BY sk.day""".stripMargin,

    "hdr_sliding_sketch" -> hdrSlidingSketchOracleSql,
    // identical window algebra over the parquet-persisted day-grain
    // histogram table — lossless integer round-trip, so the same
    // oracle pins the at-rest write, the incremental closed-day
    // append AND the read-back cell-add merge
    "hdr_sliding_from_table" -> hdrSlidingSketchOracleSql,

    // merge-law row: the oracle never shards (hll_merge_shards
    // discipline) — the unsharded histogram IS what shard-and-add
    // must equal
    "hdr_merge_shards" ->
      s"""WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(value * 1000000e0) AS BIGINT) AS vi
        |  FROM events WHERE value IS NOT NULL AND value > 0
        |), b AS (
        |  SELECT event_type, vi,
        |    ${Sketches.hdrBucketDuck("vi")} AS bucket,
        |    ${Sketches.hdrBucketLoDuck("vi")} AS lo
        |  FROM e
        |)
        |SELECT event_type, bucket, MIN(lo) AS lo,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM b GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    "hdr_value_quantiles" ->
      s"""WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(value * 1000000e0) AS BIGINT) AS vi
        |  FROM events WHERE value IS NOT NULL AND value > 0
        |), b AS (
        |  SELECT event_type, vi,
        |    ${Sketches.hdrBucketDuck("vi")} AS bucket,
        |    ${Sketches.hdrBucketLoDuck("vi")} AS lo
        |  FROM e
        |), hist AS (
        |  SELECT event_type, bucket, MIN(lo) AS lo,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM b GROUP BY event_type, bucket
        |), skcum AS (
        |  SELECT event_type, lo, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
        |      AS cum,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM hist
        |), sk AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN cum * 100 >= 50 * n THEN lo END)
        |      AS p50_sketch,
        |    MIN(CASE WHEN cum * 100 >= 90 * n THEN lo END)
        |      AS p90_sketch,
        |    MIN(CASE WHEN cum * 100 >= 99 * n THEN lo END)
        |      AS p99_sketch,
        |    CAST(COUNT(*) AS BIGINT) AS n_buckets
        |  FROM skcum GROUP BY event_type
        |), excum AS (
        |  SELECT event_type, vi,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY vi) AS cum,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM (SELECT event_type, vi, CAST(COUNT(*) AS BIGINT) AS cnt
        |        FROM e GROUP BY event_type, vi)
        |), ex AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN cum * 100 >= 50 * n THEN vi END) AS p50_exact,
        |    MIN(CASE WHEN cum * 100 >= 90 * n THEN vi END) AS p90_exact,
        |    MIN(CASE WHEN cum * 100 >= 99 * n THEN vi END) AS p99_exact
        |  FROM excum GROUP BY event_type
        |)
        |SELECT s.event_type, p50_exact, p50_sketch,
        |  CASE WHEN p50_exact = 0 THEN NULL ELSE
        |    (p50_exact - p50_sketch) * 1000 // p50_exact END
        |    AS p50_err_pm,
        |  p90_exact, p90_sketch,
        |  CASE WHEN p90_exact = 0 THEN NULL ELSE
        |    (p90_exact - p90_sketch) * 1000 // p90_exact END
        |    AS p90_err_pm,
        |  p99_exact, p99_sketch,
        |  CASE WHEN p99_exact = 0 THEN NULL ELSE
        |    (p99_exact - p99_sketch) * 1000 // p99_exact END
        |    AS p99_err_pm,
        |  n_buckets
        |FROM sk s JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           > INTERVAL 6 HOUR
        |         THEN 1 ELSE 0 END AS brk,
        |    event_type
        |  FROM events
        |), g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM e
        |)
        |SELECT user_id,
        |  epoch_us(MIN(ts)) AS session_start_us,
        |  epoch_us(MAX(ts) + INTERVAL 6 HOUR) AS session_end_us,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, sess
        |ORDER BY user_id, session_start_us""".stripMargin)
}
