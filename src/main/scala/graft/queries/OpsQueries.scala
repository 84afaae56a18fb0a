package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Governance + warehouse-operations tier: the queries a data-platform
  * team runs AROUND the training pipeline — right-to-be-forgotten
  * sweeps, re-identification (l-diversity) audits, slowly-changing
  * dimension builds, load seasonality, hot-key salting advisories and
  * blocked fuzzy matching. Every query follows the engine's oracle
  * discipline: integer / exact-decimal arithmetic (or ONE shared SQL
  * string when a double expression is unavoidable) so Spark and DuckDB
  * produce hash-identical frames, and every shape is the one a
  * 1000-executor deployment wants — broadcast semi-joins for small
  * driven sets, partial-aggregable rollups, TakeOrdered top-k, and
  * bounded window partitions.
  */
object OpsQueries {

  /** Deterministic stand-in for the GDPR tombstone list: a user is
    * tombstoned iff the first md5 byte of "erase:<id>" is below 0x18
    * (~9%: 14 users at sf0.01, and still ≥1 in the 15-user sf0.001
    * smoke fixture). Production swaps this derived frame for an actual
    * deletion-request table; every downstream shape is unchanged
    * because the sweep only sees a small keyed frame. */
  private def tombstones(e: DataFrame): DataFrame =
    e.select(col("user_id")).distinct()
      .filter(substring(md5(concat(lit("erase:"),
        col("user_id").cast("string"))), 1, 2) < "18")

  /** Discrete-Laplace noise ladder for [[all]]'s `dp_count_release` —
    * the INTEGER differential-privacy mechanism (two-sided geometric;
    * Ghosh, Roughgarden & Sundararajan 2009: the universally optimal
    * count mechanism, and what real DP deployments release because
    * float Laplace leaks through its mantissa — Mironov 2012). At
    * ε = 1, sensitivity 1: P(k) = p₀·e^{−|k|} with p₀ = (1−e⁻¹)/(1+e⁻¹).
    * The CDF over k ∈ [−32, 32] (tail mass < 10⁻¹³ — the clamp is the
    * standard bounded-noise release) is computed HOST-side and embedded
    * as shortest-round-trip double literals in ONE CASE ladder string
    * both engines evaluate: the uniform draw `u` is exact in both
    * (integer md5 prefix + a power-of-two scale — no rounding), so
    * every comparison is between identical doubles and the sampled
    * noise is engine-identical with no shared-ln hazard. */
  private[queries] def dpNoiseSql(u: String): String = {
    val p = math.exp(-1.0)
    val K = 32
    val p0 = (1 - p) / (1 + p)
    val probs = (-K to K).map(k => p0 * math.pow(p, math.abs(k)))
    val cum = probs.scanLeft(0.0)(_ + _).tail
    def dlit(c: Double): String = {
      val s = c.toString
      if (s.contains('E')) s.replace("E", "e") else s + "e0"
    }
    val cases = (-K until K).zip(cum).map { case (k, c) =>
      s"WHEN $u < ${dlit(c)} THEN CAST($k AS BIGINT)"
    }.mkString(" ")
    s"CASE $cases ELSE CAST($K AS BIGINT) END"
  }

  val all: Map[String, Q] = Map(

    // DIFFERENTIALLY-PRIVATE count release — the governance tier's
    // publishing end: per-source document counts released under ε = 1
    // pure DP via the discrete-Laplace mechanism (see [[dpNoiseSql]]:
    // integer noise from a host-side CDF ladder, engine-exact — the
    // float-Laplace ln() hazard never arises). The uniform draw is the
    // seeded md5-bucket discipline every sampler here uses, making the
    // release REPRODUCIBLE — in production the seed input is a secret
    // release nonce instead of a bare constant, and only
    // (source, released_count) ship; n_docs and dp_noise are kept in
    // this frame for the oracle hash gate. Shape: one source-cardinality
    // aggregate + per-row ladder arithmetic — nothing scales past the
    // scan.
    "dp_count_release" -> { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("u", expr(
          "(CAST(conv(substring(md5(concat('dp:', source)), 1, 8), " +
            "16, 10) AS BIGINT) + 0.5e0) / 4294967296.0e0"))
        .withColumn("dp_noise", expr(dpNoiseSql("u")))
        .select(col("source"), col("n_docs"), col("dp_noise"),
          (col("n_docs") + col("dp_noise")).as("released_count"))
        .orderBy("source")
    },

    // DIFFERENTIALLY-PRIVATE k-ary HISTOGRAM release (r15 verdict
    // task #7) — dp_count_release generalized from one count to a
    // histogram with PER-USER CONTRIBUTION BOUNDING, the step real DP
    // deployments cannot skip: a raw histogram's per-bucket
    // sensitivity is unbounded (one heavy user can carry hundreds of
    // events into one bucket), so each user is first clamped to ONE
    // vote per bucket (distinct (user, bucket) — at sf0.001 bucket 0
    // holds 169 events but releases from 15 votes). After the clamp,
    // add/remove-one-user moves each bucket by ≤ 1, so every bucket's
    // release is the ε = 1 discrete-Laplace ladder of [[dpNoiseSql]]
    // (engine-exact, no float-Laplace hazard); USER-level privacy
    // composes to ε·(buckets touched) — the accounting every
    // histogram release states, tightened in production by capping
    // buckets-per-user or splitting ε. Negative noised counts clamp
    // to 0 (post-processing, free). Buckets are value-decades
    // (⌊value⌋ div 10) — k-ary with real variation, unlike the flat
    // per-type user counts. Shape: scan → two shrinking aggregates
    // (user×bucket distinct, then bucket counts) → per-row ladder —
    // no join, no window, nothing scales past the first exchange
    // (pinned in PlanPinsSpec).
    "dp_histogram_release" -> { (s, dir) =>
      Tables.events(s, dir)
        // Non-negativity guard (r16 ADVICE): Spark `div` truncates
        // toward zero while DuckDB `//` floors, so the two bucket
        // functions diverge on negative values (-1 div 10 = 0 vs
        // -1 // 10 = -1). The guard documents the assumption the
        // generators currently satisfy — the hdr_value_quantiles
        // `value > 0` discipline — and makes the query total if a
        // future generator emits negatives.
        .filter(col("value") >= 0)
        .select(col("user_id"),
          expr("CAST(floor(value) AS BIGINT) div 10").as("bucket"))
        .distinct()
        .groupBy("bucket").agg(count(lit(1)).as("n_users"))
        .withColumn("u", expr(
          "(CAST(conv(substring(md5(concat('dph:', " +
            "CAST(bucket AS STRING))), 1, 8), 16, 10) AS BIGINT) " +
            "+ 0.5e0) / 4294967296.0e0"))
        .withColumn("dp_noise", expr(dpNoiseSql("u")))
        .select(col("bucket"), col("n_users"), col("dp_noise"),
          greatest(col("n_users") + col("dp_noise"), lit(0L))
            .as("released_count"))
        .orderBy("bucket")
    },

    // Right-to-be-forgotten SWEEP — the purge manifest a deletion job
    // executes and the audit trail it files: for every tombstoned
    // user, how many events, how many distinct types, the time span,
    // and the exact-decimal monetary total being erased. The
    // tombstone list is tiny by nature (deletion requests, not
    // users), so it BROADCASTS into a left-semi join against the
    // event scan — one pass over the fact table, partial-aggregable
    // rollup, no shuffle bigger than the tombstoned slice. At 100 TB
    // the same plan holds: the scan dominates, and the manifest is
    // requests-sized. NOTE: the md5 stand-in above selects ~9% of ALL
    // users — broadcast-safe at test scales only, and deliberately
    // dense so the sf0.001 fixture keeps rows; a production manifest
    // is an absolute-sized request table, which is what the forced
    // broadcast models.
    "erasure_sweep" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      e.join(broadcast(tombstones(e)), Seq("user_id"), "left_semi")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          min(expr("ts div 1000")).as("first_us"),
          max(expr("ts div 1000")).as("last_us"),
          decSum(col("value")).as("value_sum"))
        .orderBy("user_id")
    },

    // l-DIVERSITY audit — k-anonymity's sequel (Machanavajjhala et
    // al., ICDE'06): a quasi-identifier group can be large (k-safe)
    // yet still leak if every member shares ONE sensitive value.
    // Quasi-identifiers here are (source, 50-char length bucket); the
    // sensitive attribute is lang. Per group l = distinct sensitive
    // values; the report buckets groups by l — l=1 groups are the
    // leaks. Two cascaded shrinking aggregates, the k_anonymity_report
    // shape with a distinct-count in the middle.
    "l_diversity_report" -> { (s, dir) =>
      val groups = Tables.documents(s, dir)
        .groupBy(col("source"), expr("n_chars div 50").as("len_bucket"))
        .agg(count(lit(1)).as("k"),
          countDistinct(col("lang")).as("l"))
      groups.groupBy("l")
        .agg(count(lit(1)).as("n_groups"), sum("k").as("n_docs"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("l")
    },

    // t-CLOSENESS audit — the third member of the privacy trio (Li,
    // Li & Venkatasubramanian, ICDE'07) next to k_anonymity_report and
    // l_diversity_report: a group can be k-large AND l-diverse yet
    // still leak if its sensitive-value DISTRIBUTION differs sharply
    // from the corpus (skewness attack). Per quasi-identifier group
    // (source, 50-char length bucket — the l_diversity axes), the
    // total-variation distance between the group's lang distribution
    // and the corpus lang distribution, in integer permille
    // (TVD = Σ|p−q| div 2 over ALL langs, absent langs contributing
    // their corpus share) — integer arithmetic for engine parity, the
    // length_drift_report discipline applied per group. Shape: one doc
    // scan, group- and lang-cardinality aggregates, the lang frame
    // (web-bounded: languages, not documents) broadcast-crossed into
    // groups, one group×lang left join — nothing scales beyond
    // groups×langs at any corpus size.
    "t_closeness_report" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("source"), expr("n_chars div 50").as("len_bucket"),
          col("lang"))
      val gl = d.groupBy("source", "len_bucket", "lang")
        .agg(count(lit(1)).as("n"))
      val g = gl.groupBy("source", "len_bucket").agg(sum("n").as("k"))
      val tot = d.agg(count(lit(1)).as("n_total"))
      val qd = d.groupBy("lang").agg(count(lit(1)).as("q_n"))
        .crossJoin(broadcast(tot))
        .select(col("lang"), expr("q_n * 1000 div n_total")
          .as("q_permille"))
      g.crossJoin(broadcast(qd))
        .join(gl, Seq("source", "len_bucket", "lang"), "left")
        .withColumn("p_permille", expr("coalesce(n, 0) * 1000 div k"))
        .groupBy("source", "len_bucket", "k")
        .agg(expr("sum(abs(p_permille - q_permille)) div 2")
          .as("tvd_permille"))
        .orderBy("source", "len_bucket")
    },

    // SCD TYPE-2 dimension build — the warehouse pattern for "what
    // was this customer's priority WHEN the order shipped":
    // gaps-and-islands over each customer's order history collapses
    // runs of equal priority into validity intervals
    // [valid_from, valid_to) with an open current row. Change
    // detection is one lag window, interval closing one lead window —
    // both over the SAME (custkey | orderdate, orderkey)
    // partitioning, so Catalyst runs them in a single sort. Window
    // partitions are per-customer (bounded by one customer's
    // orders), and the custkey%100 sample filter pushes below the
    // window into the scan — the build itself is all-customer safe.
    "scd2_dimension" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val changes = Tables.orders(s, dir)
        .filter(pmod(col("o_custkey"), lit(100)) === 0)
        .withColumn("prev_pri", lag(col("o_orderpriority"), 1).over(w))
        .filter(col("prev_pri").isNull ||
          col("prev_pri") =!= col("o_orderpriority"))
      changes
        .withColumn("version", row_number().over(w))
        .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
        .select(col("o_custkey"), col("version"),
          col("o_orderpriority").as("priority"),
          col("o_orderdate").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("o_custkey", "version")
    },

    // TPC-H Q18 shape (large-volume orders): the classic
    // agg-then-join — per-order quantity totals in exact decimal,
    // TakeOrdered top-20 (per-partition heaps, never a global sort),
    // and only THEN the 20-row frame broadcast into orders ⋈
    // customer. Joining before aggregating (the naive plan) would
    // shuffle every lineitem row with its order payload; this plan's
    // joins move 20 rows.
    "q18_big_orders" -> { (s, dir) =>
      val top = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(decSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("sum_qty").desc, col("l_orderkey")).limit(20)
      Tables.orders(s, dir)
        .join(broadcast(top), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("sum_qty").desc, col("l_orderkey"))))
        .select("rank", "c_name", "l_orderkey", "o_orderdate",
          "o_totalprice", "sum_qty")
        .orderBy("rank")
    },

    // Load SEASONALITY profile — the hour-of-week heatmap behind
    // capacity planning: event volume per (day-of-week, hour-of-day)
    // cell plus its integer-ppm share of total traffic. Day-of-week
    // comes from epoch-day arithmetic ((days + 4) mod 7, anchored on
    // 1970-01-01 = Thursday) rather than either engine's dayofweek()
    // — those disagree on week start, the arithmetic cannot. One
    // partial-aggregable 168-cell rollup plus a broadcast 1-row
    // total.
    "seasonality_profile" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(expr("(ts div 1000 div 86400000000 + 4) % 7").as("dow"),
          expr("(ts div 1000 div 3600000000) % 24").as("hour_of_day"))
      val cells = e.groupBy("dow", "hour_of_day")
        .agg(count(lit(1)).as("n"))
      val total = e.agg(count(lit(1)).as("n_total"))
      cells.crossJoin(broadcast(total))
        .select(col("dow"), col("hour_of_day"), col("n"),
          expr("n * 1000000 div n_total").as("ppm"))
        .orderBy("dow", "hour_of_day")
    },

    // Hot-key SALTING advisor — turns shard_skew_report/hot_keys
    // observations into the action an on-call takes: for every key
    // above 7.5‰ of traffic, the salt fan-out that brings each
    // (key, salt) cell under the 5‰ target, ceiling-divided in exact
    // integers, plus the verified post-salt share. Runs the two-pass
    // Misra-Gries heavy-hitter shape (capacity-bounded exchange at
    // ANY key cardinality) — the advisory arithmetic is free once the
    // exact recount exists.
    "salt_advisor" -> { (s, dir) =>
      graft.operators.HeavyHitters.hotKeys(
          Tables.events(s, dir), col("user_id"), thresholdPpm = 7500L,
          capacity = 1024)
        .select(col("k").as("user_id"), col("n_events"),
          expr("n_events * 1000 div n_total").as("permille"),
          expr("(n_events * 200 + n_total - 1) div n_total")
            .as("salt_factor"),
          expr("n_events * 1000 div " +
            "(((n_events * 200 + n_total - 1) div n_total) * n_total)")
            .as("post_permille"))
        .orderBy(col("n_events").desc, col("user_id").asc)
    },

    // Blocked FUZZY match — entity resolution's workhorse: candidate
    // pairs from COMPOUND blocking keys, then exact Levenshtein ≤ 2
    // verification on the candidates only. The r13 verdict showed the
    // word-only block is a 100× ceiling (TPC-H draws first/last words
    // from ~92 colors, so block SIZE grows with the dictionary and
    // candidates grow QUADRATICALLY); the fix is the house's own
    // dedup discipline, twice over:
    //   1. COMPOUND key (word, length-bucket): lev ≤ 2 implies a
    //      length delta ≤ 2, so with bucket width 3 a qualifying pair
    //      sits in the same or adjacent buckets — each side emits
    //      both `len div 3` and `len div 3 + 1`, making same-or-
    //      adjacent an EQUI-join (pairs reachable via two keys are
    //      absorbed by the existing distinct). Measured effect on the
    //      testdata dictionary: max block 8 (was unbounded growth).
    //   2. A doc-freq CAP on compound keys mirroring
    //      Dedup.ngramJaccardPairs(maxDocFreq): any block that still
    //      exceeds 200 members is dropped outright, bounding
    //      per-block candidates at 200²/2 at ANY dictionary size.
    //      The cap is mirrored in the oracle so outputs stay
    //      engine-identical (no fixture pair is anywhere near it).
    // Both engines implement unit-cost Levenshtein, so the verified
    // distance is engine-exact.
    "fuzzy_name_pairs" -> { (s, dir) =>
      val MaxBlock = 200L
      val names = Tables.part(s, dir)
        .select(col("p_name").as("name")).distinct()
      val keyed = names.select(col("name"),
          explode(array(substring_index(col("name"), " ", 1),
            substring_index(col("name"), " ", -1))).as("word"))
        .distinct()
        .select(col("name"), col("word"),
          explode(array(expr("length(name) div 3"),
            expr("length(name) div 3 + 1"))).as("lb"))
      // strategy-neutral like the survivor anti-joins: the kept-key
      // frame is block-key-cardinality, stats/AQE pick the join side
      val kept = keyed.groupBy("word", "lb")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxBlock).select("word", "lb")
      val capped = keyed.join(kept, Seq("word", "lb"), "left_semi")
      capped.as("x").join(capped.as("y"),
          col("x.word") === col("y.word") && col("x.lb") === col("y.lb") &&
          col("x.name") < col("y.name"))
        .select(col("x.name").as("name_a"), col("y.name").as("name_b"))
        .distinct()
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 2)
        .orderBy("name_a", "name_b")
    },

    // RFM segmentation — the classic customer-value grid: per
    // customer Recency (days since last order, vs the corpus max
    // date), Frequency (order count) and Monetary (exact-decimal
    // spend), each cut into exact quartiles (quartile 1 = best:
    // most recent / most frequent / highest spend, with custkey
    // tie-breaks so ntile is deterministic in both engines), then
    // segment cell counts. The three ntile windows are global sorts
    // over the CUSTOMER dimension — orders of magnitude smaller than
    // the fact table at any scale (a 100 TB deployment that can't
    // afford them swaps in approx-percentile cuts at a documented
    // epsilon; exact quartiles are what the oracle can pin).
    "rfm_segments" -> { (s, dir) =>
      val perCust = Tables.orders(s, dir)
        .select(col("o_custkey"),
          // o_orderdate ships as TIMESTAMP_NTZ in current testdata;
          // the NTZ→TIMESTAMP cast is exact under the UTC-pinned
          // session and matches DuckDB's epoch_us on the same bytes
          expr("unix_micros(cast(o_orderdate as timestamp)) " +
            "div 86400000000").as("day"),
          col("o_totalprice"))
        .groupBy("o_custkey")
        .agg(max("day").as("last_day"), count(lit(1)).as("frequency"),
          decSum(col("o_totalprice")).as("monetary"))
      val mx = perCust.agg(max("last_day").as("max_day"))
      perCust.crossJoin(broadcast(mx))
        .withColumn("recency_days", expr("max_day - last_day"))
        .withColumn("r_quartile", ntile(4).over(
          Window.orderBy(col("recency_days").asc, col("o_custkey"))))
        .withColumn("f_quartile", ntile(4).over(
          Window.orderBy(col("frequency").desc, col("o_custkey"))))
        .withColumn("m_quartile", ntile(4).over(
          Window.orderBy(col("monetary").desc, col("o_custkey"))))
        .groupBy("r_quartile", "f_quartile", "m_quartile")
        .agg(count(lit(1)).as("n_customers"),
          decSum(col("monetary")).as("monetary_sum"))
        .orderBy("r_quartile", "f_quartile", "m_quartile")
    },

    // RFM, the 100 TB PATH — rfm_segments' documented alternative
    // landed as code (r13's ask): the three global ntile sorts are
    // replaced by HISTOGRAM-CUT quartiles. Each metric maps to an
    // integer bucket axis (recency: days — calendar-bounded;
    // frequency: negated count — order-count-bounded; monetary:
    // negated exact-cent $1000 buckets — spend-bounded), the
    // per-bucket counts cumulate in a histogram-sized window (the
    // length_outliers discipline — never a customer-sized sort), and
    // quartile breakpoints are the smallest buckets whose cumulative
    // count crosses k·n/4 (exact integer cross-multiplication).
    // Customers then classify by three broadcast 1-row comparisons.
    // Semantics vs the exact query: boundary TIES land in one
    // quartile together (bucket granularity) instead of being split
    // by the custkey tie-break — the standard approx-quantile trade,
    // here fully DETERMINISTIC and oracle-mirrored, so the 100 TB
    // plan is itself hash-pinned. The exact ntile query stays as the
    // oracle anchor for quartile semantics.
    "rfm_segments_approx" -> { (s, dir) =>
      val perCust = Tables.orders(s, dir)
        .select(col("o_custkey"),
          expr("unix_micros(cast(o_orderdate as timestamp)) " +
            "div 86400000000").as("day"),
          col("o_totalprice"))
        .groupBy("o_custkey")
        .agg(max("day").as("last_day"), count(lit(1)).as("frequency"),
          sum(dec(col("o_totalprice"))).as("monetary_dec"))
      val mx = perCust.agg(max("last_day").as("max_day"))
      val cust = perCust.crossJoin(broadcast(mx))
        .withColumn("r_bucket", expr("max_day - last_day"))
        .withColumn("f_bucket", expr("-frequency"))
        .withColumn("m_bucket",
          expr("-(CAST(monetary_dec * 100 AS BIGINT) div 100000)"))
      def cuts(bucketCol: String, p: String) = {
        val h = cust.groupBy(col(bucketCol).as("b"))
          .agg(count(lit(1)).as("c"))
        val w = Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        h.withColumn("cum", sum("c").over(w))
          .crossJoin(broadcast(cust.agg(count(lit(1)).as("n"))))
          .agg(min(when(expr("cum * 4 >= n"), col("b"))).as(s"${p}1"),
            min(when(expr("cum * 2 >= n"), col("b"))).as(s"${p}2"),
            min(when(expr("cum * 4 >= 3 * n"), col("b"))).as(s"${p}3"))
      }
      def quart(b: String, p: String) =
        s"1 + CAST($b > ${p}1 AS INT) + CAST($b > ${p}2 AS INT) + " +
          s"CAST($b > ${p}3 AS INT)"
      cust.crossJoin(broadcast(cuts("r_bucket", "rb")))
        .crossJoin(broadcast(cuts("f_bucket", "fb")))
        .crossJoin(broadcast(cuts("m_bucket", "mb")))
        .withColumn("r_quartile", expr(quart("r_bucket", "rb")))
        .withColumn("f_quartile", expr(quart("f_bucket", "fb")))
        .withColumn("m_quartile", expr(quart("m_bucket", "mb")))
        .groupBy("r_quartile", "f_quartile", "m_quartile")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("monetary_dec")).cast("double").as("monetary_sum"))
        .orderBy("r_quartile", "f_quartile", "m_quartile")
    },

    // LTV cohort curves — revenue by (signup-cohort month, months
    // since cohort), the retention_cohorts sibling with money on it:
    // a customer's cohort is the month of their FIRST order (window
    // min over the customer partition — one exchange, no join), and
    // every order lands in its month-index diagonal. Month arithmetic is
    // integer (year·12 + month − 1) — no engine date-diff semantics
    // involved. Exact-decimal revenue; cohorts×indices output.
    "ltv_cohorts" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"),
          expr("year(o_orderdate) * 12 + month(o_orderdate) - 1")
            .as("ym"),
          col("o_totalprice"))
      val withCohort = o.withColumn("cohort_ym",
        min("ym").over(Window.partitionBy("o_custkey")))
      withCohort
        .withColumn("month_idx", expr("ym - cohort_ym"))
        .groupBy("cohort_ym", "month_idx")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          decSum(col("o_totalprice")).as("revenue"))
        .orderBy("cohort_ym", "month_idx")
    },

    // Last-touch ATTRIBUTION report — "which purchases did marketing
    // drive?": every purchase as-of-joins its user's latest prior
    // click within a 1-hour window (the AsofJoin operator — union-tag
    // + one exchange + last()-window, never a per-row probe), then a
    // daily rollup splits purchase counts and exact-decimal value
    // into attributed vs organic. The asof machinery is the proven
    // asof_tolerance shape; this query is its business end: the
    // report a growth team actually reads.
    "attribution_report" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("r_user"),
          expr("ts div 1000").as("r_ts_us"),
          col("event_id").as("click_id"))
      val att = graft.operators.AsofJoin.backward(purchases, clicks,
        purchases("user_id"), clicks("r_user"),
        purchases("ts_us"), clicks("r_ts_us"),
        payload = Seq("click_id" -> clicks("click_id")),
        tolerance = Some(lit(3600000000L)))
      att.withColumn("day", expr("ts_us div 86400000000"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("click_id").isNotNull, 1L).otherwise(0L))
            .as("n_attributed"),
          decSum(when(col("click_id").isNotNull, col("value"))
            .otherwise(lit(0.0))).as("attributed_value"),
          decSum(when(col("click_id").isNull, col("value"))
            .otherwise(lit(0.0))).as("organic_value"))
        .orderBy("day")
    },

    // TPC-H Q10 shape (returned-item losers): revenue lost to
    // returned lineitems per customer — returnflag filter pushed to
    // the lineitem scan, exact-decimal revenue aggregated to the
    // customer grain FIRST, TakeOrdered top-20, and only then the
    // 20-row frame joined (broadcast) to customer ⋈ nation for the
    // display columns — the same agg-before-join discipline as
    // q18_big_orders.
    "q10_returns" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
      val ord = Tables.orders(s, dir)
      val top = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(expr(ConsumerQueries.revenueSql).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("o_custkey")).limit(20)
      top
        .join(broadcast(Tables.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("revenue").desc, col("o_custkey"))))
        .select("rank", "c_custkey", "c_name", "n_name", "revenue",
          "n_items")
        .orderBy("rank")
    },

    // Rolling 7-day revenue — the RANGE-frame window the time-series
    // tier was missing: daily exact-decimal order revenue plus its
    // trailing-7-day total, summed in DECIMAL inside the frame (a
    // double frame-sum would be accumulation-order-dependent; the
    // decimal sum is exact under any order) and cast once. The window
    // runs over day-cardinality rows — bounded by the calendar, never
    // by order volume.
    "rolling_revenue" -> { (s, dir) =>
      val daily = Tables.orders(s, dir)
        .groupBy(expr("unix_micros(cast(o_orderdate as timestamp)) " +
          "div 86400000000").as("day"))
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("day_revenue"))
      val w = Window.orderBy("day").rangeBetween(-6, 0)
      daily
        .withColumn("rev_7d",
          sum(dec(col("day_revenue"))).over(w).cast("double"))
        .select("day", "n_orders", "day_revenue", "rev_7d")
        .orderBy("day")
    },

    // TPC-H Q17 shape (small-quantity revenue): the classic
    // CORRELATED-subquery query ("lineitems below 20% of their part's
    // average quantity") rewritten as the window form Catalyst would
    // produce — per-part decimal moments via two window aggregates
    // over ONE partkey partitioning, the 0.2·avg threshold as one
    // shared SQL string (exact-decimal sum / exact count, the only
    // division in double, IEEE-identical in both engines). The brand
    // filter broadcasts into the lineitem scan; the per-part windows
    // are bounded by a part's lineitem count.
    "q17_small_qty" -> { (s, dir) =>
      val p = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#2").select(col("p_partkey"))
      val w = Window.partitionBy("l_partkey")
      Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .withColumn("sq", sum(dec(col("l_quantity"))).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(expr("l_quantity < 0.2e0 * (CAST(sq AS DOUBLE) / cnt)"))
        .agg(count(lit(1)).as("n_small"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) " +
            "AS DOUBLE) / 7.0e0").as("avg_yearly"))
    },

    // CDC MERGE — the warehouse MERGE INTO semantics (Delta/Iceberg's
    // headline op) as one full-outer join: a change batch of deletes
    // (every 13th doc), updates (every 7th surviving doc, re-versioned
    // fingerprint) and inserts (every 11th doc as a new +1e6 id) is
    // applied to the fingerprinted snapshot; each row resolves to
    // deleted/updated/inserted/unchanged and the audit report carries
    // per-action counts plus an order-independent content digest (sum
    // of 32-bit fingerprint prefixes — source_manifest's trick; for
    // deletes the digest records what was REMOVED). The join keys on
    // doc_id only — one exchange each side, AQE-eligible — and the
    // summary is 4 rows at any scale. At 100 TB the change batch is
    // ingest-sized, so its side broadcasts.
    "cdc_merge" -> { (s, dir) =>
      // insert ids live in the +CopyShift block, disjoint from base
      // ids by the invariant dedup_source_matrix asserts
      val docs = Tables.documents(s, dir)
      val base = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      val nullFp = lit(null).cast("string")
      val dels = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select(col("doc_id"), lit("D").as("op"), nullFp.as("new_fp"))
      val upds = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0 &&
          pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), lit("U").as("op"),
          md5(concat(lit("v2:"), col("text"))).as("new_fp"))
      val ins = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select((col("doc_id") + CopyShift).as("doc_id"),
          lit("I").as("op"),
          md5(concat(lit("new:"), col("text"))).as("new_fp"))
      val cdc = dels.unionByName(upds).unionByName(ins)
      base.join(cdc, Seq("doc_id"), "full_outer")
        .withColumn("action",
          when(col("op") === "D", "deleted")
            .when(col("op") === "U", "updated")
            .when(col("op") === "I", "inserted")
            .otherwise("unchanged"))
        .withColumn("final_fp",
          when(col("op") === "D", col("fp"))
            .when(col("op").isNotNull, col("new_fp"))
            .otherwise(col("fp")))
        .groupBy("action")
        .agg(count(lit(1)).as("n_rows"),
          sum(conv(substring(col("final_fp"), 1, 8), 16, 10)
            .cast("long")).as("digest"))
        .orderBy("action")
    },

    // Length-DRIFT report — distribution shift between the older and
    // newer half of the corpus (doc_id order is ingest order in these
    // fixtures) over 50-char length buckets, in exact integer ppm:
    // per bucket both halves' shares and their absolute gap — the
    // per-bucket decomposition of total-variation distance, kept
    // rational on purpose (χ²/KL need engine-dependent ln; TVD's
    // |p−q| needs only integer arithmetic the hash gate can pin).
    // One scan, one bucket-cardinality aggregate, broadcast totals.
    "length_drift_report" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), expr("n_chars div 50").as("len_bucket"))
      val mx = d.agg(max("doc_id").as("max_id"))
      val tagged = d.crossJoin(broadcast(mx))
        .withColumn("is_old", expr("doc_id * 2 <= max_id"))
      val counts = tagged.groupBy("len_bucket")
        .agg(sum(when(col("is_old"), 1L).otherwise(0L)).as("n_old"),
          sum(when(!col("is_old"), 1L).otherwise(0L)).as("n_new"))
      val totals = counts.agg(sum("n_old").as("tot_old"),
        sum("n_new").as("tot_new"))
      counts.crossJoin(broadcast(totals))
        .withColumn("p_old_ppm", expr("n_old * 1000000 div tot_old"))
        .withColumn("p_new_ppm", expr("n_new * 1000000 div tot_new"))
        .withColumn("gap_ppm", abs(col("p_old_ppm") - col("p_new_ppm")))
        .select("len_bucket", "n_old", "n_new", "p_old_ppm",
          "p_new_ppm", "gap_ppm")
        .orderBy("len_bucket")
    })

  val oracle: Map[String, String] = Map(

    "dp_count_release" -> {
      val ladder = dpNoiseSql("u")
      s"""WITH c AS (
        |  SELECT source, COUNT(*) AS n_docs FROM documents
        |  GROUP BY source
        |), uu AS (
        |  SELECT source, n_docs,
        |    (('0x' || substr(md5('dp:' || source), 1, 8))::BIGINT
        |      + 0.5e0) / 4294967296.0e0 AS u
        |  FROM c
        |)
        |SELECT source, n_docs, $ladder AS dp_noise,
        |  n_docs + ($ladder) AS released_count
        |FROM uu ORDER BY source""".stripMargin
    },

    "dp_histogram_release" -> {
      val ladder = dpNoiseSql("u")
      s"""WITH v AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(value) AS BIGINT) // 10 AS bucket
        |  FROM events WHERE value >= 0
        |), c AS (
        |  SELECT bucket, COUNT(*) AS n_users FROM v GROUP BY bucket
        |), uu AS (
        |  SELECT bucket, n_users,
        |    (('0x' || substr(md5('dph:' || CAST(bucket AS VARCHAR)), 1, 8))
        |      ::BIGINT + 0.5e0) / 4294967296.0e0 AS u
        |  FROM c
        |)
        |SELECT bucket, n_users, $ladder AS dp_noise,
        |  greatest(n_users + ($ladder), 0) AS released_count
        |FROM uu ORDER BY bucket""".stripMargin
    },

    "erasure_sweep" ->
      """WITH tomb AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE substr(md5('erase:' || CAST(user_id AS VARCHAR)), 1, 2)
        |    < '18'
        |)
        |SELECT user_id, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  MIN(epoch_us(ts)) AS first_us,
        |  MAX(epoch_us(ts)) AS last_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events JOIN tomb USING (user_id)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "l_diversity_report" ->
      """WITH g AS (
        |  SELECT source, n_chars // 50 AS len_bucket, COUNT(*) AS k,
        |    COUNT(DISTINCT lang) AS l
        |  FROM documents GROUP BY 1, 2
        |)
        |SELECT l, COUNT(*) AS n_groups, CAST(SUM(k) AS BIGINT) AS n_docs,
        |  MIN(k) AS min_k, MAX(k) AS max_k
        |FROM g GROUP BY l ORDER BY l""".stripMargin,

    "t_closeness_report" ->
      """WITH d AS (
        |  SELECT source, n_chars // 50 AS len_bucket, lang FROM documents
        |), gl AS (
        |  SELECT source, len_bucket, lang, COUNT(*) AS n
        |  FROM d GROUP BY 1, 2, 3
        |), g AS (
        |  SELECT source, len_bucket, CAST(SUM(n) AS BIGINT) AS k
        |  FROM gl GROUP BY 1, 2
        |), t AS (SELECT COUNT(*) AS n_total FROM d),
        |q AS (
        |  SELECT lang, CAST(COUNT(*) * 1000 // t.n_total AS BIGINT)
        |    AS q_permille
        |  FROM d CROSS JOIN t GROUP BY lang, t.n_total
        |), j AS (
        |  SELECT g.source, g.len_bucket, g.k, q.q_permille,
        |    COALESCE(gl.n, 0) * 1000 // g.k AS p_permille
        |  FROM g CROSS JOIN q
        |  LEFT JOIN gl ON gl.source = g.source
        |    AND gl.len_bucket = g.len_bucket AND gl.lang = q.lang
        |)
        |SELECT source, len_bucket, k,
        |  CAST(SUM(abs(p_permille - q_permille)) // 2 AS BIGINT)
        |    AS tvd_permille
        |FROM j GROUP BY 1, 2, 3
        |ORDER BY source, len_bucket""".stripMargin,

    "scd2_dimension" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |    LAG(o_orderpriority) OVER w AS prev_pri
        |  FROM orders WHERE o_custkey % 100 = 0
        |  WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey)
        |), ch AS (
        |  SELECT * FROM o
        |  WHERE prev_pri IS NULL OR prev_pri <> o_orderpriority
        |), v AS (
        |  SELECT o_custkey, CAST(ROW_NUMBER() OVER w AS INT) AS version,
        |    o_orderpriority AS priority, o_orderdate AS valid_from,
        |    LEAD(o_orderdate) OVER w AS valid_to
        |  FROM ch
        |  WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey)
        |)
        |SELECT o_custkey, version, priority, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM v ORDER BY o_custkey, version""".stripMargin,

    "q18_big_orders" ->
      """WITH q AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |), t AS (
        |  SELECT * FROM q ORDER BY sum_qty DESC, l_orderkey LIMIT 20
        |)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sum_qty DESC, l_orderkey)
        |    AS INT) AS rank,
        |  c_name, l_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM t JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY rank""".stripMargin,

    "seasonality_profile" ->
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    (epoch_us(ts) // 3600000000) % 24 AS hour_of_day
        |  FROM events
        |), c AS (
        |  SELECT dow, hour_of_day, COUNT(*) AS n FROM e GROUP BY 1, 2
        |), t AS (SELECT COUNT(*) AS n_total FROM e)
        |SELECT dow, hour_of_day, n,
        |  CAST(n * 1000000 // t.n_total AS BIGINT) AS ppm
        |FROM c CROSS JOIN t
        |ORDER BY dow, hour_of_day""".stripMargin,

    "salt_advisor" ->
      """WITH tot AS (SELECT COUNT(*) AS n FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(COUNT(*) * 1000 // t.n AS BIGINT) AS permille,
        |  CAST((COUNT(*) * 200 + t.n - 1) // t.n AS BIGINT)
        |    AS salt_factor,
        |  CAST(COUNT(*) * 1000 //
        |    (((COUNT(*) * 200 + t.n - 1) // t.n) * t.n) AS BIGINT)
        |    AS post_permille
        |FROM events CROSS JOIN tot t
        |GROUP BY user_id, t.n
        |HAVING COUNT(*) * 1000000 >= 7500 * t.n
        |ORDER BY n_events DESC, user_id ASC""".stripMargin,

    "rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS monetary
        |  FROM orders GROUP BY o_custkey
        |), mx AS (SELECT MAX(last_day) AS max_day FROM pc),
        |q AS (
        |  SELECT o_custkey, monetary,
        |    CAST(NTILE(4) OVER (ORDER BY max_day - last_day ASC,
        |      o_custkey) AS INT) AS r_quartile,
        |    CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey)
        |      AS INT) AS f_quartile,
        |    CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey)
        |      AS INT) AS m_quartile
        |  FROM pc CROSS JOIN mx
        |)
        |SELECT r_quartile, f_quartile, m_quartile,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE)
        |    AS monetary_sum
        |FROM q GROUP BY 1, 2, 3
        |ORDER BY r_quartile, f_quartile, m_quartile""".stripMargin,

    "rfm_segments_approx" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |    COUNT(*) AS frequency,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_dec
        |  FROM orders GROUP BY o_custkey
        |), mx AS (SELECT MAX(last_day) AS max_day FROM pc),
        |cust AS (
        |  SELECT o_custkey, monetary_dec,
        |    max_day - last_day AS r_bucket,
        |    -frequency AS f_bucket,
        |    -(CAST(monetary_dec * 100 AS BIGINT) // 100000) AS m_bucket
        |  FROM pc CROSS JOIN mx
        |), nn AS (SELECT COUNT(*) AS n FROM cust),
        |rh AS (SELECT r_bucket AS b, COUNT(*) AS c FROM cust GROUP BY 1),
        |rc AS (SELECT b, SUM(c) OVER (ORDER BY b
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM rh),
        |rq AS (SELECT MIN(CASE WHEN cum * 4 >= n THEN b END) AS rb1,
        |  MIN(CASE WHEN cum * 2 >= n THEN b END) AS rb2,
        |  MIN(CASE WHEN cum * 4 >= 3 * n THEN b END) AS rb3
        |  FROM rc CROSS JOIN nn),
        |fh AS (SELECT f_bucket AS b, COUNT(*) AS c FROM cust GROUP BY 1),
        |fc AS (SELECT b, SUM(c) OVER (ORDER BY b
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM fh),
        |fq AS (SELECT MIN(CASE WHEN cum * 4 >= n THEN b END) AS fb1,
        |  MIN(CASE WHEN cum * 2 >= n THEN b END) AS fb2,
        |  MIN(CASE WHEN cum * 4 >= 3 * n THEN b END) AS fb3
        |  FROM fc CROSS JOIN nn),
        |mh AS (SELECT m_bucket AS b, COUNT(*) AS c FROM cust GROUP BY 1),
        |mc AS (SELECT b, SUM(c) OVER (ORDER BY b
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM mh),
        |mq AS (SELECT MIN(CASE WHEN cum * 4 >= n THEN b END) AS mb1,
        |  MIN(CASE WHEN cum * 2 >= n THEN b END) AS mb2,
        |  MIN(CASE WHEN cum * 4 >= 3 * n THEN b END) AS mb3
        |  FROM mc CROSS JOIN nn),
        |g AS (
        |  SELECT monetary_dec,
        |    1 + CAST(r_bucket > rb1 AS INT) + CAST(r_bucket > rb2 AS INT)
        |      + CAST(r_bucket > rb3 AS INT) AS r_quartile,
        |    1 + CAST(f_bucket > fb1 AS INT) + CAST(f_bucket > fb2 AS INT)
        |      + CAST(f_bucket > fb3 AS INT) AS f_quartile,
        |    1 + CAST(m_bucket > mb1 AS INT) + CAST(m_bucket > mb2 AS INT)
        |      + CAST(m_bucket > mb3 AS INT) AS m_quartile
        |  FROM cust CROSS JOIN rq CROSS JOIN fq CROSS JOIN mq
        |)
        |SELECT r_quartile, f_quartile, m_quartile,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(monetary_dec) AS DOUBLE) AS monetary_sum
        |FROM g GROUP BY 1, 2, 3
        |ORDER BY r_quartile, f_quartile, m_quartile""".stripMargin,

    "ltv_cohorts" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
        |    o_totalprice,
        |    MIN(year(o_orderdate) * 12 + month(o_orderdate) - 1)
        |      OVER (PARTITION BY o_custkey) AS cohort_ym
        |  FROM orders
        |)
        |SELECT cohort_ym, ym - cohort_ym AS month_idx,
        |  COUNT(DISTINCT o_custkey) AS n_customers,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM o GROUP BY 1, 2 ORDER BY cohort_ym, month_idx""".stripMargin,

    "attribution_report" ->
      """WITH att AS (
        |  SELECT l.event_id, epoch_us(l.ts) AS ts_us, l.value,
        |    CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
        |      THEN r.event_id END AS click_id
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |  ASOF LEFT JOIN
        |    (SELECT user_id, ts, event_id FROM events
        |     WHERE event_type = 'click') r
        |    ON l.user_id = r.user_id AND l.ts >= r.ts
        |)
        |SELECT ts_us // 86400000000 AS day,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(CASE WHEN click_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_attributed,
        |  CAST(SUM(CAST(CASE WHEN click_id IS NOT NULL THEN value
        |    ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)
        |    AS attributed_value,
        |  CAST(SUM(CAST(CASE WHEN click_id IS NULL THEN value
        |    ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)
        |    AS organic_value
        |FROM att GROUP BY 1 ORDER BY day""".stripMargin,

    "q10_returns" ->
      s"""WITH t AS (
        |  SELECT o_custkey, ${ConsumerQueries.revenueSql} AS revenue,
        |    COUNT(*) AS n_items
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY o_custkey
        |  ORDER BY revenue DESC, o_custkey LIMIT 20
        |)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey)
        |    AS INT) AS rank,
        |  c_custkey, c_name, n_name, revenue, n_items
        |FROM t JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY rank""".stripMargin,

    "rolling_revenue" ->
      """WITH d AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS day_revenue
        |  FROM orders GROUP BY 1
        |)
        |SELECT day, n_orders, day_revenue,
        |  CAST(SUM(CAST(day_revenue AS DECIMAL(18,2))) OVER (
        |    ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS rev_7d
        |FROM d ORDER BY day""".stripMargin,

    "q17_small_qty" ->
      """WITH li AS (
        |  SELECT l.l_quantity, l.l_extendedprice,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |      OVER (PARTITION BY l_partkey) AS sq,
        |    COUNT(*) OVER (PARTITION BY l_partkey) AS cnt
        |  FROM lineitem l JOIN part p ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#2'
        |)
        |SELECT COUNT(*) AS n_small,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / 7.0e0 AS avg_yearly
        |FROM li
        |WHERE l_quantity < 0.2e0 * (CAST(sq AS DOUBLE) / cnt)""".stripMargin,

    "cdc_merge" ->
      """WITH base AS (
        |  SELECT doc_id, md5(text) AS fp FROM documents
        |), cdc AS (
        |  SELECT doc_id, 'D' AS op, CAST(NULL AS VARCHAR) AS new_fp
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id, 'U', md5('v2:' || text)
        |  FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'I', md5('new:' || text)
        |  FROM documents WHERE doc_id % 11 = 0
        |), m AS (
        |  SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
        |    CASE WHEN c.op = 'D' THEN 'deleted'
        |         WHEN c.op = 'U' THEN 'updated'
        |         WHEN c.op = 'I' THEN 'inserted'
        |         ELSE 'unchanged' END AS action,
        |    CASE WHEN c.op = 'D' THEN b.fp
        |         WHEN c.op IS NOT NULL THEN c.new_fp
        |         ELSE b.fp END AS final_fp
        |  FROM base b FULL OUTER JOIN cdc c ON b.doc_id = c.doc_id
        |)
        |SELECT action, COUNT(*) AS n_rows,
        |  CAST(SUM(('0x' || substr(final_fp, 1, 8))::BIGINT) AS BIGINT)
        |    AS digest
        |FROM m GROUP BY action ORDER BY action""".stripMargin,

    "length_drift_report" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars // 50 AS len_bucket FROM documents
        |), mx AS (SELECT MAX(doc_id) AS max_id FROM d),
        |c AS (
        |  SELECT len_bucket,
        |    CAST(SUM(CASE WHEN doc_id * 2 <= max_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_old,
        |    CAST(SUM(CASE WHEN doc_id * 2 <= max_id THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_new
        |  FROM d CROSS JOIN mx GROUP BY len_bucket
        |), t AS (
        |  SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
        |    CAST(SUM(n_new) AS BIGINT) AS tot_new
        |  FROM c
        |)
        |SELECT len_bucket, n_old, n_new,
        |  CAST(n_old * 1000000 // tot_old AS BIGINT) AS p_old_ppm,
        |  CAST(n_new * 1000000 // tot_new AS BIGINT) AS p_new_ppm,
        |  CAST(abs(n_old * 1000000 // tot_old -
        |    n_new * 1000000 // tot_new) AS BIGINT) AS gap_ppm
        |FROM c CROSS JOIN t ORDER BY len_bucket""".stripMargin,

    "fuzzy_name_pairs" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part),
        |k0 AS (
        |  SELECT DISTINCT name, unnest([
        |    string_split(name, ' ')[1], string_split(name, ' ')[-1]
        |  ]) AS word FROM n
        |), k AS (
        |  SELECT name, word,
        |    unnest([length(name) // 3, length(name) // 3 + 1]) AS lb
        |  FROM k0
        |), df AS (
        |  SELECT word, lb FROM k GROUP BY word, lb
        |  HAVING COUNT(*) <= 200
        |), kc AS (
        |  SELECT k.name, k.word, k.lb FROM k JOIN df USING (word, lb)
        |), p AS (
        |  SELECT DISTINCT x.name AS name_a, y.name AS name_b
        |  FROM kc x JOIN kc y
        |  ON x.word = y.word AND x.lb = y.lb AND x.name < y.name
        |)
        |SELECT name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS INT) AS dist
        |FROM p WHERE levenshtein(name_a, name_b) <= 2
        |ORDER BY name_a, name_b""".stripMargin)
}
