package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.ConsumerConfig
import graft.operators.{Decode, Identify, Sequencing}
import graft.sources.Tables

/** Queries exercising the stream-consumer operator clusters (SURVEY §2)
  * against the driver's test tables, each paired with an ANSI-SQL oracle
  * in [[oracle]]. The `events` table stands in for a decoded micro-batch:
  * `event_id` ≡ arrival order, `user_id` ≡ message key, `ts`+`event_id` ≡
  * the multi-part sequence number, `props` ≡ the raw JSON message payload.
  */
object ConsumerQueries {

  /** Per-shard window: synthetic shard id so the plan scales by
    * partitioning rather than a single global sort (SURVEY §7.4: per-key
    * chains must not repartition(1)).
    *
    * Precision parity: `ts` arrives as an epoch-nano long (nanosAsLong)
    * but DuckDB reads the same TIMESTAMP(NANOS) parquet at µs precision
    * (measured: `epoch_ns(ts)` ends in 000). Both sides therefore order
    * by the µs value with an explicit `event_id` tiebreak — identical
    * orderings even when two events share a µs. */
  private def withShard(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("shard_id",
        concat(lit("S|"), pmod(col("user_id"), lit(4)).cast("string")))
      .withColumn("ts_us", expr("ts div 1000"))

  /** Exact-decimal TPC-H revenue — ONE SQL string for both engines:
    * price and discount are 2-decimal money values, so casting each
    * to DECIMAL(18,2) BEFORE the multiply makes the product an exact
    * 4-decimal value and the SUM exact; the double conversion happens
    * once, on the exact total (correctly rounded, hash-identical).
    * A double-side product would round engine-dependently per row. */
  private[queries] val revenueSql =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(CAST(1.00 AS DECIMAL(18,2)) - " +
      "CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  /** z-score in integer micro-units over the exact integer moments
    * (n, h, s, q) — ONE SQL string for both engines (e0 literals are
    * DOUBLE in both; identical IEEE tree ⇒ hash-exact), with the
    * zero-variance case caught exactly in integers (h·q = s² ⟺
    * variance 0) before any division can produce an Infinity that
    * ANSI-mode casting would reject. */
  private val zScore1e6Sql =
    "CASE WHEN h * q = s * s THEN CAST(0 AS BIGINT) " +
      "ELSE CAST(FLOOR(1e6 * ((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / h) " +
      "/ sqrt((CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) * s) / h) / h))) " +
      "AS BIGINT) END"

  /** Config for the config-driven identify/sequence queries: ids from the
    * message payload, keys and seqNos resolved through the fallback chain
    * (absent on the message ⇒ found on the record, I4). */
  private val cfgPerKey = ConsumerConfig(
    sequencingRequired = true, sequencingPerKey = true,
    idPropertyNames = Seq("k"),
    keyPropertyNames = Seq("user_id"),
    seqNoPropertyNames = Seq("ts"))

  /** The events row re-serialized as the "record" JSON source (the
    * message `props` carries only `k`, so key/seqNo lookups fall back
    * here). `ts` is serialized at µs — see the precision-parity note on
    * [[withShard]]. */
  private def recordJson = to_json(struct(
    col("event_id"), col("user_id"), col("event_type"),
    expr("ts div 1000").as("ts")))

  private val nullStr = lit(null).cast("string")

  val all: Map[String, Q] = Map(
    // §2.7 aggregation baseline (TPC-H Q1 flavor) — decimal-exact sums.
    "q1_agg" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          decAvg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // D2 decode: JSON payload extraction (schemaless message → columns).
    "decode_json" -> { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("prop_k"),
          col("event_type"), col("value"))
        .orderBy("event_id")
    },

    // D2 decode: Base64 → UTF-8 round trip (the wire decode itself).
    "decode_base64" -> { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          base64(encode(col("props"), "UTF-8")).as("data_b64"),
          decode(unbase64(base64(encode(col("props"), "UTF-8"))), "UTF-8")
            .as("payload"))
        .orderBy("event_id")
    },

    // I1 identify: MD5 digests + pipe-joined id/key strings (§1.1).
    "identify_ids" -> { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          md5(col("props").cast("binary")).as("md5_data"),
          concat_ws("|",
            concat(lit("id1:"), col("event_id")),
            concat(lit("id2:"), col("event_type"))).as("id"),
          concat_ws("|", concat(lit("k1:"), col("user_id"))).as("key"),
          concat_ws("|",
            concat(lit("n1:"), expr("ts div 1000")),
            concat(lit("n2:"), col("event_id"))).as("seqNo"))
        .orderBy("event_id")
    },

    // Q5 sequencing per key: one chain per user, prev/next links,
    // heads marked — the reference's core ordering semantic.
    "seq_per_key" -> { (s, dir) =>
      val e = withShard(Tables.events(s, dir))
      Sequencing.perKey(e, col("shard_id"), Seq(col("user_id")),
          Seq(col("ts_us")), col("event_id"))
        .select(col("event_id"), col("shard_id"), col("user_id"),
          col("seq_rn"), col("prev_id"), col("next_id"),
          col("is_first_to_process"))
        .orderBy("event_id")
    },

    // Q4 sequencing per shard: total order within a shard.
    "seq_per_shard" -> { (s, dir) =>
      val e = withShard(Tables.events(s, dir))
      Sequencing.perShard(e, col("shard_id"), Seq(col("ts_us")),
          col("event_id"))
        .select(col("event_id"), col("shard_id"), col("seq_rn"),
          col("prev_id"), col("next_id"))
        .orderBy("event_id")
    },

    // D1 decode with usable/unusable routing: every 7th payload is
    // corrupted before decode; the engine must route exactly those to
    // reason_unusable and pass the rest through intact.
    "decode_split" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .withColumn("data", when(pmod(col("event_id"), lit(7)) === 0,
            lit("!!!not-base64!!!"))
          .otherwise(base64(encode(col("props"), "UTF-8"))))
      Decode.extractJsonMessages(e, col("data"))
        .select(col("event_id"), col("message"), col("reason_unusable"))
        .orderBy("event_id")
    },

    // I3 config-driven identify: ids from the message, keys + seqNos via
    // the msg → userRecord → record fallback chain (I4), flat pipe
    // strings per §1.1.
    "identify_config" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val md5s = Identify.md5s(col("props"), recordJson, nullStr,
        col("props"))
      Identify.idsKeysSeqNos(cfgPerKey, e, col("props"), nullStr,
          recordJson, col("ts").cast("string"), lit(null).cast("int"))
        .select(col("event_id"), col("id"), col("key"), col("seqNo"),
          col("reason_rejected").cast("string").as("reason_rejected"),
          md5s.getField("msg").as("md5_msg"),
          md5s.getField("rec").as("md5_rec"))
        .orderBy("event_id")
    },

    // I3 strictness matrix over data-driven missingness: the message is
    // rebuilt with conditionally-PRESENT JSON properties (to_json drops
    // null struct fields), so `id2` is genuinely absent on every 3rd
    // event and `sn` on every 5th. Under strict, a missing id property
    // rejects with the reference's exact reason; a missing configured
    // seqNo property rejects under required sequencing; ids win the
    // precedence race when both are missing (15ths) — all re-derived
    // independently in SQL (kinesis-identify.js:96-131,158-167).
    "identify_strict" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val msg = to_json(struct(
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        when(pmod(col("event_id"), lit(3)) =!= 0, col("user_id")).as("id2"),
        when(pmod(col("event_id"), lit(5)) =!= 0, col("event_id")).as("sn")))
      val cfg = ConsumerConfig(strict = true,
        idPropertyNames = Seq("k", "id2"),
        seqNoPropertyNames = Seq("k", "sn"))
      Identify.idsKeysSeqNos(cfg, e.withColumn("message", msg),
          col("message"), nullStr, nullStr,
          col("ts").cast("string"), lit(null).cast("int"))
        .select(col("event_id"), col("id"), col("seqNo"),
          col("reason_rejected").cast("string").as("reason_rejected"))
        .orderBy("event_id")
    },

    // Q5 through the config path: keys/seqNos extracted from JSON by
    // property name, normalized by sortKey (INTEGER_LIKE digits), then
    // chained per key — the reference's full identify→sequence flow.
    "seq_config_perkey" -> { (s, dir) =>
      val e = withShard(Tables.events(s, dir))
      Identify.sequence(cfgPerKey, e, col("shard_id"), col("props"),
          nullStr, recordJson, col("ts").cast("string"), col("event_id"))
        .select(col("event_id"), col("seq_rn"), col("prev_id"),
          col("next_id"), col("is_first_to_process"))
        .orderBy("event_id")
    },

    // Q4/Q5 heads only (firstMessagesToProcess): written declaratively
    // as filter(row_number()===1); the ChainHeadsRule optimizer rewrite
    // turns it into a partial-aggregable min_by aggregation (no sort,
    // shuffle carries |chains| rows) — hash-matching the oracle's
    // windowed SQL proves the rewrite is semantics-preserving.
    "seq_heads" -> { (s, dir) =>
      val e = withShard(Tables.events(s, dir))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard_id"), col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      e.withColumn("seq_rn", row_number().over(w))
        .filter(col("seq_rn") === 1)
        .select(col("event_id"), col("shard_id"), col("user_id"),
          col("seq_rn"))
        .orderBy("event_id")
    },

    // Q6 unsequenced: no chains — every message is its own head
    // (reference test/sequencing-none.test.js:66-228).
    "seq_none" -> { (s, dir) =>
      Sequencing.none(Tables.events(s, dir))
        .select(col("event_id"), col("seq_rn"), col("prev_id"),
          col("next_id"), col("is_first_to_process"))
        .orderBy("event_id")
    },

    // Relational baseline: fact-to-dim joins with the small sides
    // broadcast (customer/nation/region fit any executor; lineitem
    // streams through one broadcast-hash-join pipeline with zero
    // shuffle before the final aggregation).
    "q_join_agg" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = broadcast(Tables.customer(s, dir))
      val nat = broadcast(Tables.nation(s, dir))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(decSum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },

    // TPC-H Q3 shape (shipping priority): segment-filtered customers
    // BROADCAST into the orders⋈lineitem stream, revenue in EXACT
    // decimal cents — the price×(1−discount) product runs in decimal
    // (two 2-decimal factors ⇒ exact 4-decimal product; a double
    // product would round engine-dependently before the sum), summed
    // exactly, cast to double once at the end. Top-10 by (revenue,
    // key) via TakeOrdered. Both date filters reach their scans as
    // PushedFilters.
    "q3_topk" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cust = broadcast(Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING"))
      val ord = Tables.orders(s, dir)
        .filter(expr("o_orderdate < TIMESTAMP '1998-01-01'"))
      val li = Tables.lineitem(s, dir)
        .filter(expr("l_shipdate > TIMESTAMP '1998-01-01'"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(expr(revenueSql).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("revenue").desc, col("l_orderkey"))))
        .select("rank", "l_orderkey", "o_orderdate", "o_orderpriority",
          "revenue")
        .orderBy("rank")
    },

    // TPC-H Q5 shape (local-supplier revenue): the 6-way star join
    // with every dimension broadcast and the LOCAL condition
    // (customer and supplier in the same nation) folded into the
    // supplier join — lineitem streams through one
    // broadcast-hash-join pipeline with no shuffle before the
    // nation-keyed aggregate. Same exact-decimal revenue as q3_topk.
    "q5_local_revenue" -> { (s, dir) =>
      val reg = broadcast(Tables.region(s, dir)
        .filter(col("r_name") === "ASIA"))
      val nat = broadcast(Tables.nation(s, dir))
      val cust = broadcast(Tables.customer(s, dir))
      val sup = broadcast(Tables.supplier(s, dir))
      val ord = Tables.orders(s, dir)
        .filter(expr("o_orderdate >= TIMESTAMP '1996-01-01' AND " +
          "o_orderdate < TIMESTAMP '1997-01-01'"))
      Tables.lineitem(s, dir)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(expr(revenueSql).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },

    // D5 passthrough path: non-KPL records emerge as single user records
    // without subSequenceNumber (kpl-deagg-async.js:158-184). The
    // aggregate fan-out path is pinned by DecodeSpec on the real KPL
    // payload (protobuf isn't SQL-expressible).
    "kpl_passthrough" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .withColumn("data", base64(encode(col("props"), "UTF-8")))
      Decode.kplUserRecords(e, col("data"),
          col("user_id").cast("string"), nullStr)
        .select(col("event_id"), col("userPartitionKey"),
          col("subSequenceNumber"), col("userData"))
        .orderBy("event_id")
    },

    // Stream-health diagnostic: the 20 largest inter-event arrival
    // gaps per shard (a producer stall / shard-starvation detector —
    // the question an on-call engineer asks a stuck consumer first).
    // Two windows over ONE shard partitioning: lag for the gap, rank
    // for the per-shard cut; gap ties break on (ts, event_id) so the
    // top-20 is deterministic. The rank≤20 filter compiles to the
    // same WindowGroupLimit shape PlanPinsSpec pins for tfidf — no
    // shard ever materializes a full sort of its events beyond the
    // running window.
    "seq_gaps" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = withShard(Tables.events(s, dir))
      val w = Window.partitionBy("shard_id")
        .orderBy(col("ts_us"), col("event_id"))
      val gapped = e.select(col("shard_id"), col("event_id"),
          col("ts_us"),
          lag("event_id", 1).over(w).as("prev_id"),
          (col("ts_us") - lag("ts_us", 1).over(w)).as("gap_us"))
        .filter(col("gap_us").isNotNull)
      gapped.withColumn("rn", row_number().over(
          Window.partitionBy("shard_id")
            .orderBy(col("gap_us").desc, col("ts_us").asc,
              col("event_id").asc)))
        .filter(col("rn") <= 20)
        .select(col("shard_id"), col("rn"), col("event_id"),
          col("prev_id"), col("gap_us"))
        .orderBy("shard_id", "rn")
    },

    // The deep-backfill variant of seq_gaps: IDENTICAL output (same
    // oracle SQL), computed without the one-task-per-shard sort
    // ceiling. seq_gaps' lag window partitions by shard alone, so a
    // multi-year backfill sorts each shard's whole history in one
    // task. Here events ts-bucket into 24 h blocks first:
    //  - adjacent gaps WITHIN each (shard, bucket) — the lag window
    //    now partitions on both, so sort tasks ∝ shards × buckets
    //    and each sorts one day, not one history;
    //  - a per-bucket rank ≤ 20 prune (WindowGroupLimit, like
    //    seq_gaps' own cut): a shard-global top-20 gap is top-20
    //    within its bucket, so pruning to 20/bucket loses nothing;
    //  - BOUNDARY gaps from a (shard, bucket)-keyed first/last
    //    summary — struct-min/max lexicographic on (ts, id), exactly
    //    the sort order — stitched by a lag over the bucket sequence:
    //    consecutive NONEMPTY buckets pair last→first, so empty days
    //    don't break adjacency. The summary is shards×buckets rows;
    //    its window is trivially small.
    // The final shard-global rank then runs over ≤ 21×buckets rows
    // per shard instead of every gap — the only shard-partitioned
    // window left is bounded by construction.
    "seq_gaps_bucketed" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bucketUs = 24L * 3600000000L
      val e = withShard(Tables.events(s, dir))
        .withColumn("bucket", expr(s"ts_us div $bucketUs"))
      val wb = Window.partitionBy("shard_id", "bucket")
        .orderBy(col("ts_us"), col("event_id"))
      val inBucket = e.select(col("shard_id"), col("bucket"),
          col("event_id"), col("ts_us"),
          lag("event_id", 1).over(wb).as("prev_id"),
          (col("ts_us") - lag("ts_us", 1).over(wb)).as("gap_us"))
        .filter(col("gap_us").isNotNull)
        .withColumn("brn", row_number().over(
          Window.partitionBy("shard_id", "bucket")
            .orderBy(col("gap_us").desc, col("ts_us").asc,
              col("event_id").asc)))
        .filter(col("brn") <= 20)
        .select("shard_id", "event_id", "ts_us", "prev_id", "gap_us")
      val summary = e.groupBy("shard_id", "bucket").agg(
        min(struct(col("ts_us"), col("event_id"))).as("first"),
        max(struct(col("ts_us"), col("event_id"))).as("last"))
      val ws = Window.partitionBy("shard_id").orderBy("bucket")
      val boundary = summary.select(col("shard_id"),
          col("first.ts_us").as("ts_us"),
          col("first.event_id").as("event_id"),
          lag("last", 1).over(ws).as("prev"))
        .filter(col("prev").isNotNull)
        .select(col("shard_id"), col("event_id"), col("ts_us"),
          col("prev.event_id").as("prev_id"),
          (col("ts_us") - col("prev.ts_us")).as("gap_us"))
      inBucket.unionByName(boundary)
        .withColumn("rn", row_number().over(
          Window.partitionBy("shard_id")
            .orderBy(col("gap_us").desc, col("ts_us").asc,
              col("event_id").asc)))
        .filter(col("rn") <= 20)
        .select(col("shard_id"), col("rn"), col("event_id"),
          col("prev_id"), col("gap_us"))
        .orderBy("shard_id", "rn")
    },

    // Partition-key health: per-(hour, shard) event counts with an
    // integer-permille share of the hour's traffic — the skew report
    // that decides whether a partition-key scheme needs salting
    // (S6/§2.1 at fleet scale). One (hour, shard) partial-agg, then
    // the hour totals ride a window over the TINY aggregate — the
    // corpus is scanned once and nothing bigger than hours×shards is
    // ever materialized. Integer div keeps the share bit-identical
    // cross-engine.
    "shard_skew_report" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = withShard(Tables.events(s, dir))
        .withColumn("hour_bucket", expr("ts_us div 3600000000"))
      e.groupBy("hour_bucket", "shard_id")
        .agg(count(lit(1)).as("n_events"))
        .withColumn("hour_total", sum("n_events").over(
          Window.partitionBy("hour_bucket")))
        .select(col("hour_bucket"), col("shard_id"), col("n_events"),
          expr("n_events * 1000 div hour_total").as("permille"))
        .orderBy("hour_bucket", "shard_id")
    },

    // DAU/WAU STICKINESS — the engagement ratio every growth
    // dashboard tracks: per calendar day, distinct daily actives over
    // the week's distinct actives, in permille (a user base that
    // shows up 7/7 days reads 1000; a weekly-digest audience reads
    // ~143). Calendar weeks, not sliding windows, keep the distinct
    // counts exact and cheap (two distinct aggregates, each one
    // exchange); a sliding 7-day distinct would need per-day
    // re-scans or sketches — the documented trade, which
    // hll_sliding_users (TemporalQueries, r18) closes with per-day
    // HLL register merges.
    "stickiness_report" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          expr("ts div 1000 div 86400000000").as("day"))
      val dau = ev.distinct()
        .groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ev.select(col("user_id"), expr("day div 7").as("week"))
        .distinct()
        .groupBy("week").agg(count(lit(1)).as("wau"))
      dau.withColumn("week", expr("day div 7"))
        .join(broadcast(wau), "week")
        .withColumn("stickiness_permille", expr("dau * 1000 div wau"))
        .select("week", "day", "dau", "wau", "stickiness_permille")
        .orderBy("day")
    },

    // Recency-DECAYED popularity — trending scores with a one-day
    // half-life: each event contributes 2^(−age_days), so yesterday's
    // traffic counts half and last month's nothing — the ranking
    // signal "what is hot NOW" that raw counts (forever-memory) and
    // windowed counts (cliff-edge forgetting) both miss. The decay
    // weight is an integer SHIFT (10⁶ >> age_days, clamped at 62 —
    // Java's shift wraps at 64 and the clamp makes the weight an
    // honest 0 instead): exact halving without a single float op, so
    // the per-type sums are order-independent integers, the same
    // determinism discipline as the surprisal buckets. One scan, a
    // 1-row broadcast max-ts, one partial-agg exchange.
    "decayed_counts" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_type"), expr("ts div 1000").as("ts_us"))
      val mx = ev.agg(max("ts_us").as("max_ts"))
      ev.crossJoin(broadcast(mx))
        .withColumn("age_days", expr(
          "least((max_ts - ts_us) div 86400000000, CAST(62 AS BIGINT))"))
        .withColumn("w", expr(
          "shiftright(CAST(1000000 AS BIGINT), CAST(age_days AS INT))"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("w").as("decayed_1e6"))
        .orderBy("event_type")
    },

    // Per-hour top-3 event types (the traffic-composition panel):
    // hourly per-type counts, ranked (count desc, type asc — total
    // order), rank ≤ 3. The cut compiles to WindowGroupLimit
    // (partial per-hour top-k before the rank exchange, like
    // seq_gaps), and hour partitions bound every sort.
    "window_topk" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Tables.events(s, dir)
        .withColumn("hour_bucket", expr("ts div 1000 div 3600000000"))
        .groupBy("hour_bucket", "event_type")
        .agg(count(lit(1)).as("n_events"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("hour_bucket")
            .orderBy(col("n_events").desc, col("event_type"))))
        .filter(col("rank") <= 3)
        .select("hour_bucket", "rank", "event_type", "n_events")
        .orderBy("hour_bucket", "rank")
    },

    // Rate-ANOMALY report — the alert behind every traffic dashboard:
    // per event type, the 3 hours whose volume deviates most from
    // that type's own hourly distribution, scored as a z-score
    // against the exact population mean/stddev. The moments come from
    // integer sums only (H hours, S=Σn, Q=Σn²: mean = S/H, var =
    // (Q−S²/H)/H), so the z expression is ONE shared SQL string both
    // engines evaluate over exact integers — hash-identical doubles,
    // floored to integer micro-units (the Wilson-bound discipline);
    // a zero-variance type is caught by the exact integer guard
    // H·Q = S² before any division. Shapes: one hours×types partial
    // aggregate, a types-cardinality stats rollup broadcast back, and
    // a rank window over each type's hours (hours-bounded
    // partitions). rank ≤ 3 output is non-degenerate on ANY corpus —
    // an anomaly-free week still reports its most extreme hours.
    "rate_anomalies" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, dir)
        .withColumn("hour_bucket", expr("ts div 1000 div 3600000000"))
        .groupBy("event_type", "hour_bucket")
        .agg(count(lit(1)).as("n"))
      val stats = hourly.groupBy("event_type").agg(
        count(lit(1)).as("h"), sum("n").as("s"),
        sum(expr("n * n")).as("q"))
      hourly.join(broadcast(stats), "event_type")
        .withColumn("z_1e6", expr(zScore1e6Sql))
        .withColumn("rank", row_number().over(
          Window.partitionBy("event_type")
            .orderBy(abs(col("z_1e6")).desc, col("hour_bucket"))))
        .filter(col("rank") <= 3)
        .select("event_type", "rank", "hour_bucket", "n", "z_1e6")
        .orderBy("event_type", "rank")
    },

    // Hot-KEY report — the key-grained sequel to shard_skew_report:
    // which individual partition keys own ≥ 7.5‰ of all traffic (the
    // keys a re-salting scheme would split). Runs the two-pass exact
    // heavy-hitter shape (operators.HeavyHitters): per-partition
    // Misra-Gries candidate summaries whose exchange is
    // capacity-bounded at ANY key cardinality, then an exact
    // broadcast-recount of the ≤ capacity candidates — the oracle's
    // full GROUP BY/HAVING is exactly what the operator avoids
    // shuffling at 100 TB, yet the output is identical and exact
    // (sketch error never reaches the recount). share stays integer
    // permille like shard_skew_report.
    "hot_keys" -> { (s, dir) =>
      graft.operators.HeavyHitters.hotKeys(
          Tables.events(s, dir), col("user_id"), thresholdPpm = 7500L,
          capacity = 1024)
        .select(col("k").as("user_id"), col("n_events"),
          expr("n_events * 1000 div n_total").as("permille"))
        .orderBy(col("n_events").desc, col("user_id").asc)
    })

  /** Shared by seq_gaps and seq_gaps_bucketed (same contract, two
    * execution shapes — shard-global sort vs bucketed + stitched). */
  private val seqGapsSql =
    """WITH g AS (
      |  SELECT 'S|' || (user_id % 4) AS shard_id, event_id,
      |    epoch_us(ts) AS ts_us,
      |    LAG(event_id) OVER w AS prev_id,
      |    epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY 'S|' || (user_id % 4)
      |    ORDER BY epoch_us(ts), event_id)
      |), r AS (
      |  SELECT shard_id, event_id, prev_id, gap_us,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY shard_id
      |      ORDER BY gap_us DESC, ts_us ASC, event_id ASC) AS INT)
      |      AS rn
      |  FROM g WHERE gap_us IS NOT NULL
      |)
      |SELECT shard_id, rn, event_id, prev_id, gap_us FROM r
      |WHERE rn <= 20 ORDER BY shard_id, rn""".stripMargin

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS DOUBLE) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "decode_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
        |  event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "decode_base64" ->
      """SELECT event_id,
        |  to_base64(encode(props)) AS data_b64,
        |  decode(from_base64(to_base64(encode(props)))) AS payload
        |FROM events ORDER BY event_id""".stripMargin,
    "identify_ids" ->
      """SELECT event_id,
        |  md5(props) AS md5_data,
        |  concat_ws('|', 'id1:' || event_id, 'id2:' || event_type) AS id,
        |  concat_ws('|', 'k1:' || user_id) AS key,
        |  concat_ws('|', 'n1:' || epoch_us(ts), 'n2:' || event_id) AS seqNo
        |FROM events ORDER BY event_id""".stripMargin,
    "seq_per_key" ->
      """SELECT event_id,
        |  'S|' || (user_id % 4) AS shard_id, user_id,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS seq_rn,
        |  LAG(event_id) OVER w AS prev_id,
        |  LEAD(event_id) OVER w AS next_id,
        |  (ROW_NUMBER() OVER w = 1) AS is_first_to_process
        |FROM events
        |WINDOW w AS (PARTITION BY user_id % 4, user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "seq_per_shard" ->
      """SELECT event_id,
        |  'S|' || (user_id % 4) AS shard_id,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS seq_rn,
        |  LAG(event_id) OVER w AS prev_id,
        |  LEAD(event_id) OVER w AS next_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id % 4 ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    // Ground-truth routing oracle: corruption is keyed on event_id, so
    // the oracle derives the expected split without decoding.
    "decode_split" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 7 <> 0 THEN props END AS message,
        |  CASE WHEN event_id % 7 = 0 THEN 'invalid base64 data' END
        |    AS reason_unusable
        |FROM events ORDER BY event_id""".stripMargin,
    "identify_config" ->
      """SELECT event_id,
        |  'k:' || json_extract_string(props, '$.k') AS id,
        |  'user_id:' || user_id AS key,
        |  'ts:' || epoch_us(ts) AS seqNo,
        |  CAST(NULL AS VARCHAR) AS reason_rejected,
        |  md5(props) AS md5_msg,
        |  md5('{"event_id":' || event_id || ',"user_id":' || user_id
        |      || ',"event_type":"' || event_type || '","ts":'
        |      || epoch_us(ts) || '}') AS md5_rec
        |FROM events ORDER BY event_id""".stripMargin,
    "identify_strict" ->
      """SELECT event_id,
        |  'k:' || json_extract_string(props, '$.k') || '|id2:' ||
        |    CASE WHEN event_id % 3 <> 0 THEN CAST(user_id AS VARCHAR)
        |         ELSE '' END AS id,
        |  'k:' || json_extract_string(props, '$.k') || '|sn:' ||
        |    CASE WHEN event_id % 5 <> 0 THEN CAST(event_id AS VARCHAR)
        |         ELSE '' END AS seqNo,
        |  CASE WHEN event_id % 3 = 0 THEN 'Missing property [id2] for ids'
        |       WHEN event_id % 5 = 0
        |         THEN 'Missing property [sn] for seqNos'
        |  END AS reason_rejected
        |FROM events ORDER BY event_id""".stripMargin,
    "seq_config_perkey" ->
      """SELECT event_id,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS seq_rn,
        |  LAG(event_id) OVER w AS prev_id,
        |  LEAD(event_id) OVER w AS next_id,
        |  (ROW_NUMBER() OVER w = 1) AS is_first_to_process
        |FROM events
        |WINDOW w AS (PARTITION BY user_id % 4, user_id
        |             ORDER BY epoch_us(ts), event_id)
        |ORDER BY event_id""".stripMargin,
    "seq_heads" ->
      """SELECT event_id, 'S|' || (user_id % 4) AS shard_id, user_id,
        |  CAST(rn AS INT) AS seq_rn
        |FROM (
        |  SELECT event_id, user_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id % 4, user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "seq_none" ->
      """SELECT event_id, 1 AS seq_rn,
        |  CAST(NULL AS VARCHAR) AS prev_id,
        |  CAST(NULL AS VARCHAR) AS next_id,
        |  TRUE AS is_first_to_process
        |FROM events ORDER BY event_id""".stripMargin,
    "q_join_agg" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q3_topk" ->
      s"""WITH a AS (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    $revenueSql AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l_shipdate > TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2, 3
        |)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC,
        |    l_orderkey) AS INT) AS rank,
        |  l_orderkey, o_orderdate, o_orderpriority, revenue
        |FROM a ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_revenue" ->
      s"""SELECT n_name, $revenueSql AS revenue, COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "kpl_passthrough" ->
      """SELECT event_id,
        |  CAST(user_id AS VARCHAR) AS userPartitionKey,
        |  CAST(NULL AS INT) AS subSequenceNumber,
        |  to_base64(encode(props)) AS userData
        |FROM events ORDER BY event_id""".stripMargin,
    "seq_gaps" -> seqGapsSql,
    // IDENTICAL contract to seq_gaps — one oracle pins that the
    // bucketed decomposition (in-bucket gaps + boundary stitch +
    // per-bucket prune) loses and invents nothing
    "seq_gaps_bucketed" -> seqGapsSql,
    "shard_skew_report" ->
      """WITH c AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hour_bucket,
        |    'S|' || (user_id % 4) AS shard_id, COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT hour_bucket, shard_id, n_events,
        |  CAST(n_events * 1000 //
        |    SUM(n_events) OVER (PARTITION BY hour_bucket) AS BIGINT)
        |    AS permille
        |FROM c ORDER BY hour_bucket, shard_id""".stripMargin,

    "stickiness_report" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events
        |), dau AS (
        |  SELECT day, COUNT(*) AS dau FROM ud GROUP BY day
        |), uw AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 // 7
        |    AS week
        |  FROM events
        |), wau AS (
        |  SELECT week, COUNT(*) AS wau FROM uw GROUP BY week
        |)
        |SELECT d.day // 7 AS week, d.day, d.dau, w.wau,
        |  d.dau * 1000 // w.wau AS stickiness_permille
        |FROM dau d JOIN wau w ON d.day // 7 = w.week
        |ORDER BY d.day""".stripMargin,

    "decayed_counts" ->
      """WITH mx AS (
        |  SELECT MAX(epoch_us(ts)) AS max_ts FROM events
        |), w AS (
        |  SELECT event_type,
        |    CAST(1000000 AS BIGINT) >> CAST(LEAST(
        |      (mx.max_ts - epoch_us(ts)) // 86400000000, 62) AS INT)
        |      AS w
        |  FROM events CROSS JOIN mx
        |)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(w) AS BIGINT) AS decayed_1e6
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

    "window_topk" ->
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY hour_bucket
        |    ORDER BY n_events DESC, event_type) AS INT) AS rank
        |  FROM hourly
        |)
        |SELECT hour_bucket, rank, event_type, n_events FROM r
        |WHERE rank <= 3 ORDER BY hour_bucket, rank""".stripMargin,

    "rate_anomalies" ->
      s"""WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), st AS (
        |  SELECT event_type, COUNT(*) AS h,
        |    CAST(SUM(n) AS BIGINT) AS s,
        |    CAST(SUM(n * n) AS BIGINT) AS q
        |  FROM hourly GROUP BY event_type
        |), z AS (
        |  SELECT hourly.event_type, hour_bucket, n, $zScore1e6Sql AS z_1e6
        |  FROM hourly JOIN st USING (event_type)
        |), r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY abs(z_1e6) DESC, hour_bucket) AS INT) AS rank
        |  FROM z
        |)
        |SELECT event_type, rank, hour_bucket, n, z_1e6 FROM r
        |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

    "hot_keys" ->
      """WITH tot AS (SELECT COUNT(*) AS n FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(COUNT(*) * 1000 // t.n AS BIGINT) AS permille
        |FROM events CROSS JOIN tot t
        |GROUP BY user_id, t.n
        |HAVING COUNT(*) * 1000000 >= 7500 * t.n
        |ORDER BY n_events DESC, user_id ASC""".stripMargin)
}
