package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sketches, TextAnalysis}
import graft.operators.Sketches.InterEstSql
import graft.sources.Tables

/** Training-data pipeline queries over the `documents` table: text
  * analysis (tokens/quality/lang-id/fingerprints) and the dedup family
  * (exact, SimHash, MinHash+LSH, n-gram Jaccard).
  *
  * Dedup queries run against the corpus UNIONed with an id-shifted copy
  * of itself: planted exact duplicates give the operators ground truth
  * to find (the raw corpus has no duplicate texts), and the DuckDB
  * oracle re-derives everything — signatures included — from the same
  * md5 primitives.
  */
object TrainingQueries {

  /** NFC-normalizable suffix in DECOMPOSED form: e+◌́ (U+0301),
    * A+◌̊ (U+030A), o+◌̈ (U+0308) — composes to "café Ångströ̈m"-style
    * precomposed codepoints under NFC, so `changed` is provably true
    * on injected docs. Shared verbatim by the query and its oracle. */
  private[queries] val DecomposedSuffix =
    " cafe\u0301 A\u030Angstro\u0308m"

  // The dedup family's pair and graph builders over a `(doc_id, text)`
  // corpus. The knobs live here, once: Hamming ≤ 3 simhash pairs,
  // 8-hash/4-band MinHash over word 3-shingles, and word-3-shingle
  // Jaccard over shingles in ≤ 20 docs.

  /** SimHash near-dup pairs `(id_a < id_b, hamming)`. */
  private def simhashPairs(docs: DataFrame): DataFrame =
    Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 3)

  /** `(id, canonical)` for every doc in a [[simhashPairs]] pair. */
  private def simhashComponents(docs: DataFrame): DataFrame =
    Dedup.connectedComponents(simhashPairs(docs), col("id_a"), col("id_b"))

  /** MinHash-LSH candidate pairs `(id_a < id_b)`. */
  private def minhashPairs(docs: DataFrame): DataFrame =
    Dedup.minhashCandidatePairs(docs, col("doc_id"), col("text"),
      numHashes = 8, bands = 4, shingleN = 3)

  /** Shingle-set Jaccard pairs `(id_a, id_b, inter, size_a, size_b,
    * jaccard)` at `jaccard >= minJaccard`. */
  private def jaccardPairs(docs: DataFrame, minJaccard: Double): DataFrame =
    Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      shingleN = 3, maxDocFreq = 20, minJaccard = minJaccard)

  /** A [[jaccardPairs]] row's Jaccard, in integer permille. */
  private def jaccardPm = expr("inter * 1000 div (size_a + size_b - inter)")

  /** A [[jaccardPairs]] row's containment inter/min(|A|,|B|), in
    * integer permille. */
  private def containmentPm = expr("inter * 1000 div least(size_a, size_b)")

  /** The span family's corpus: documents plus the re-crawl tail,
    * tokenized to `(doc_id, toks)`. */
  private def spanBase(s: org.apache.spark.sql.SparkSession, dir: String) =
    withRecrawl(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))

  /** The md5-keyed word-8-gram spans of `toks`, in position order. */
  private def spanGrams = graft.functions.TextShingles.spanGramMd5(8)(col("toks"))

  /** The spans of `grams` (one row per doc and distinct span `g`) that
    * occur in ≥ 2 docs, with `aggs` per span. */
  private def dupSpans(grams: DataFrame, aggs: org.apache.spark.sql.Column*) =
    grams.groupBy("g").agg(count(lit(1)).as("ndocs"), aggs: _*)
      .filter(col("ndocs") >= 2)
      .drop("ndocs")

  /** Shared construction for the incremental-ingest pair: existing =
    * first 80% of the corpus (fingerprints), batch = a re-crawl of the
    * last 40% plus a second scrape of the last 10%, id-shifted so
    * batch ids never collide with existing ones. Split points are
    * corpus-size FRACTIONS, so the regime is scale-invariant. The size
    * probe is a 1-row max aggregate — bounded driver work. */
  private def incrementalIngest(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val fp = TextAnalysis.fingerprint(col("text"))
    val n = d.agg(max("doc_id")).head.getLong(0) + 1
    val existEnd = n * 4 / 5
    val recrawlStart = n * 3 / 5
    val rescrapeStart = n * 9 / 10
    val existing = d.filter(col("doc_id") < existEnd).select(fp.as("fp"))
    val batch = d.filter(col("doc_id") >= recrawlStart)
      .select((col("doc_id") + CopyShift).as("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") >= rescrapeStart)
        .select((col("doc_id") + 2 * CopyShift).as("doc_id"),
          col("text")))
      .select(col("doc_id"), fp.as("fp"))
    // the Bloom variant sizes its sketch from the ACTUAL existing-set
    // row count (one cheap count job at build time), NOT the id-range
    // bound: ids can be sparse — the sf1 scale harness shifts copies
    // by 10^7, making the range bound 1800x the key count — and since
    // round 11 the cap-clip guard means an oversized request is
    // honestly BUILT (real memory, real time), not silently degraded
    // to fpp~1. Measured at sf1: range-sized sketch 69 MB / 19.6 s,
    // count-sized 48 KB / sub-second, identical (exact) result.
    (batch, existing, existing.count())
  }

  /** bpe_merges round 0: every corpus word (≥ 2 chars — shorter words
    * can neither contribute a pair nor ever be merged) as its
    * single-char symbol sequence. */
  private[graft] def bpeInitialWords(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(charSyms.as("syms"))

  /** A word `w` as its single-char symbol sequence. */
  private def charSyms =
    expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")

  /** A learned merge's rendered pair `a || ' ' || b` as `(a, b)`. */
  private def splitPair(pair: String): (String, String) = {
    val Array(a, b) = pair.split(" ", 2)
    (a, b)
  }

  /** Applies `merges` in order to a `syms` array, each greedy leftmost
    * (the training loop's semantics), in one compiled pass. */
  private def applyMerges(merges: Seq[(String, String)]) =
    udf((syms: Seq[String]) => merges.foldLeft(syms) { case (cur, (a, b)) =>
      graft.functions.Bpe.mergePair(cur, a, b)
    })

  /** The memoized [[BpeVocabRounds]]-round merge table as `(a, b)`. */
  private def learnedPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    bpeLearnedMerges(s, dir, nRounds = BpeVocabRounds)
      .map { case (_, pair, _) => splitPair(pair) }

  /** Adjacent-symbol-pair counts over a `syms: array<string>` word
    * stream — the per-round scan of the BPE merge loop. Pair rendering
    * is `a || ' ' || b` (symbols never contain whitespace: they are
    * concatenations of regex-split token chars), identically in the
    * oracle, so the (count desc, pair asc) tie-break totals-orders the
    * same keys in both engines. Two-stage hash aggregate: the shuffle
    * carries per-pair partials (vocab-bounded), never raw corpus
    * pairs — pinned in PlanPinsSpec. */
  private[graft] def bpePairCounts(
      words: org.apache.spark.sql.DataFrame) =
    words
      // deep merge runs collapse whole words to ONE symbol; they
      // contribute no pairs, and must be filtered BEFORE the pair
      // projection because Spark's sequence(1, 0) DESCENDS ([1, 0])
      // and would index past the array under ANSI mode (DuckDB's
      // range(1, 1) is empty, so the oracle needs no twin filter)
      .filter(size(col("syms")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(syms) - 1)," +
          " i -> concat(syms[i - 1], ' ', syms[i]))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))

  /** Process-wide learned-merge memo, keyed by (dir, rounds). The
    * merge loop is deterministic (exact integer counts, total-order
    * tie-break), so every query sharing a key learns the SAME merge
    * table; a tokenizer build is train-once / apply-many, and the
    * memo holds `rounds` (pair, count) entries — driver-sized by
    * construction. bpe_merges reports this table; bpe_encode applies
    * it to the corpus. */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Seq[(Int, String, Long)]]()

  /** Learns the BPE merge table from ONE Spark job: aggregate the
    * word-TYPE histogram (word, count) — Heaps-law-bounded, not
    * corpus-bounded — and replay the exact sequential Sennrich loop
    * driver-side ([[graft.functions.Bpe.trainOnHistogram]]: same
    * (count desc, pair asc in UTF-8 byte order) selection, same
    * greedy-leftmost application, so the merge table is identical to
    * the per-round distributed walk — BpeVocabSpec pins the equality
    * AND the ≤-a-few-jobs cost). This is the r14 verdict's "batch the
    * merge loop" fix taken to its limit: the 50 driver-paced
    * corpus-scan jobs (~42-63 s cold) become one vocab-bounded
    * aggregate; the sequential replay over the histogram costs
    * milliseconds and keeps the oracle's round-by-round contract
    * bit-exact. The driver-side histogram is the same documented
    * bounded-training trade as the ANN tier's sampled k-means; a
    * corpus whose word-TYPE table outgrows the driver uses
    * [[bpeLearnedMergesDistributed]] (semantically identical). */
  private[graft] def bpeLearnedMerges(s: org.apache.spark.sql.SparkSession,
      dir: String, nRounds: Int): Seq[(Int, String, Long)] =
    bpeMemo.computeIfAbsent((dir, nRounds), _ => {
      val hist = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      graft.functions.Bpe.trainOnHistogram(hist, nRounds)
    })

  /** The fully DISTRIBUTED per-round merge loop — the 100 TB fallback
    * for word-type tables too large to collect, and the independent
    * implementation BpeVocabSpec pins [[bpeLearnedMerges]] against.
    * Per round: ONE corpus-scan pair count (vocab-bounded exchange —
    * pinned in PlanPinsSpec), a 1-row driver probe of that tiny
    * aggregate to pick the (count desc, pair asc) best, and a
    * compiled greedy merge pass (functions.Bpe.mergePair) feeding the
    * next round. Each round's merged corpus is cached so round r+1's
    * count reads it instead of replaying r merge passes; the previous
    * round unpersists once its successor is materialized. */
  private[graft] def bpeLearnedMergesDistributed(
      s: org.apache.spark.sql.SparkSession,
      dir: String, nRounds: Int): Seq[(Int, String, Long)] = {
    var cur = bpeInitialWords(s, dir).cache()
    var prev: Option[org.apache.spark.sql.DataFrame] = None
    val merges = Seq.newBuilder[(Int, String, Long)]
    for (r <- 1 to nRounds) {
      val best = bpePairCounts(cur)
        .orderBy(col("n").desc, col("pair").asc).limit(1).head
      // cur is materialized by the count job above, so its
      // predecessor's cache can go
      prev.foreach(_.unpersist())
      val (pair, n) = (best.getString(0), best.getLong(1))
      merges += ((r, pair, n))
      if (r < nRounds) {
        prev = Some(cur)
        cur = cur.select(applyMerges(Seq(splitPair(pair)))(col("syms"))
          .as("syms")).cache()
      }
    }
    cur.unpersist()
    merges.result()
  }

  private val allDocsCte =
    s"""all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $CopyShift AS doc_id, text FROM documents
       |)""".stripMargin

  private[queries] val toksExpr =
    "string_split_regex(trim(lower(text)), '\\s+')"

  /** Word-3-shingle list in DuckDB, mirroring TextAnalysis.shingles. */
  private val shinglesExpr =
    s"""CASE WHEN len($toksExpr) >= 3
       |  THEN list_transform(range(1, len($toksExpr) - 1),
       |         i -> array_to_string(($toksExpr)[i:i+2], ' '))
       |  ELSE [array_to_string($toksExpr, ' ')] END""".stripMargin

  /** hll_shingle_report's error column — ONE shared double string
    * (house discipline): both inputs are exact integers / the shared
    * estimate, so the floor'd permille is engine-identical. */
  private val HllErrPermilleSql =
    "CAST(floor(abs(hll_estimate - CAST(exact_distinct AS DOUBLE)) " +
      "* 1000e0 / CAST(exact_distinct AS DOUBLE)) AS BIGINT)"

  private val stopwordList = TextAnalysis.DefaultStopwords
    .map(w => s"'$w'").mkString("(", ",", ")")

  /** The pair rows' permille error of an intersection estimate vs the
    * exact audit — ONE shared double string (house discipline): the
    * estimate ([[Sketches.InterEstSql]] / [[Sketches.KmvInterEstSql]])
    * is bit-equal across engines, so the floor'd permille is too.
    * NULL when the exact intersection is empty: the permille-of-zero
    * division is undefined, and the zero-overlap regime must still
    * appear as a row, not silently drop. */
  private def errPermilleSql(estCol: String): String =
    "CASE WHEN exact_inter = 0 THEN CAST(NULL AS BIGINT) ELSE " +
      s"CAST(floor(abs($estCol - CAST(exact_inter AS DOUBLE)) " +
      "* 1000e0 / CAST(exact_inter AS DOUBLE)) AS BIGINT) END"
  private val InterErrPermilleSql = errPermilleSql("inter_est")

  /** The sketch-only pair-estimate oracle — shared verbatim by
    * hll_pair_estimate (localCheckpoint answer path) and
    * hll_pair_from_table (parquet-persisted sketch table): the
    * register write/read round-trip is lossless integers, so both
    * rows must hash-match the same recomputation from `documents`. */
  private lazy val hllPairEstimateOracleSql: String = {
    val est = Sketches.hllEstimateSql(8)
    s"""WITH sh AS (
      |  SELECT source, unnest($shinglesExpr) AS sh FROM documents
      |), hh AS (
      |  SELECT source,
      |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
      |  FROM sh
      |), r AS (
      |  SELECT source, h // 4503599627370496 AS register,
      |    MAX(CASE WHEN h % 4503599627370496 = 0 THEN 53
      |      ELSE 53 - length(bin(h % 4503599627370496)) END) AS m
      |  FROM hh GROUP BY source, register
      |), su AS (
      |  SELECT source,
      |    (256 - COUNT(*)) * 9007199254740992 +
      |      CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s_scaled
      |  FROM r GROUP BY source
      |), se AS (
      |  SELECT source, $est AS est FROM su
      |), pairs AS (
      |  SELECT a.source AS s1, b.source AS s2
      |  FROM (SELECT DISTINCT source FROM r) a
      |  JOIN (SELECT DISTINCT source FROM r) b ON a.source < b.source
      |), pu AS (
      |  SELECT s1, s2, register, m FROM pairs
      |  JOIN r ON r.source = s1
      |  UNION ALL
      |  SELECT s1, s2, register, m FROM pairs
      |  JOIN r ON r.source = s2
      |), ur AS (
      |  SELECT s1, s2, register, MAX(m) AS m
      |  FROM pu GROUP BY s1, s2, register
      |), us AS (
      |  SELECT s1, s2,
      |    (256 - COUNT(*)) * 9007199254740992 +
      |      CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s_scaled
      |  FROM ur GROUP BY s1, s2
      |), ue AS (
      |  SELECT s1, s2, $est AS est_union FROM us
      |), j AS (
      |  SELECT ue.s1, ue.s2,
      |    ea.est AS est_s1, eb.est AS est_s2, est_union
      |  FROM ue
      |  JOIN se ea ON ea.source = ue.s1
      |  JOIN se eb ON eb.source = ue.s2
      |)
      |SELECT s1, s2, est_s1, est_s2, est_union,
      |  $InterEstSql AS inter_est
      |FROM j ORDER BY s1, s2""".stripMargin
  }

  /** The KMV pair-estimate oracle — shared verbatim by
    * kmv_pair_estimate (localCheckpoint answer path) and
    * kmv_pair_from_table (parquet-persisted bottom-k table): the
    * sketch write/read round-trip is lossless longs, so both rows
    * must hash-match the same recomputation from `documents`. */
  private lazy val kmvPairEstimateOracleSql: String = {
    val kEst = Sketches.kmvEstimateSql(256)
    s"""WITH shr AS (
      |  SELECT source, unnest($shinglesExpr) AS sh FROM documents
      |), hhd AS (
      |  SELECT DISTINCT source,
      |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
      |  FROM shr
      |), kv AS (
      |  SELECT source, h FROM (
      |    SELECT source, h,
      |      row_number() OVER (PARTITION BY source ORDER BY h) AS rk
      |    FROM hhd)
      |  WHERE rk <= 256
      |), smry AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_k,
      |    MAX(h) AS theta,
      |    CASE WHEN COUNT(*) < 256 THEN 1152921504606846976
      |      ELSE MAX(h) END AS th_eff
      |  FROM kv GROUP BY source
      |), se AS (
      |  SELECT source, th_eff, $kEst AS est FROM smry
      |), pairs AS (
      |  SELECT a.source AS s1, b.source AS s2
      |  FROM (SELECT source FROM smry) a
      |  JOIN (SELECT source FROM smry) b ON a.source < b.source
      |), pt AS (
      |  SELECT p.s1, p.s2, sa.est AS est_s1, sb.est AS est_s2,
      |    LEAST(sa.th_eff, sb.th_eff) AS theta
      |  FROM pairs p
      |  JOIN se sa ON sa.source = p.s1
      |  JOIN se sb ON sb.source = p.s2
      |), cm AS (
      |  SELECT p.s1, p.s2, a.h
      |  FROM pairs p
      |  JOIN kv a ON a.source = p.s1
      |  JOIN kv b ON b.source = p.s2 AND b.h = a.h
      |), nm AS (
      |  SELECT cm.s1, cm.s2, CAST(COUNT(*) AS BIGINT) AS n_match
      |  FROM cm JOIN pt ON pt.s1 = cm.s1 AND pt.s2 = cm.s2
      |  WHERE cm.h < pt.theta GROUP BY 1, 2
      |), f AS (
      |  SELECT pt.s1, pt.s2, est_s1, est_s2,
      |    CAST(COALESCE(nm.n_match, 0) AS BIGINT) AS n_match,
      |    pt.theta
      |  FROM pt LEFT JOIN nm ON nm.s1 = pt.s1 AND nm.s2 = pt.s2
      |)
      |SELECT s1, s2, est_s1, est_s2, n_match, theta,
      |  ${Sketches.KmvInterEstSql} AS inter_est
      |FROM f ORDER BY s1, s2""".stripMargin
  }

  /** The whole-corpus per-source bottom-k table oracle — shared
    * verbatim by kmv_merge_shards (in-flight parity-shard merge) and
    * kmv_table_ingest (durable write + overlapping-batch extend):
    * the oracle never shards or slices, so hash equality on the
    * sketch table IS the bottom-k union law — and, for the ingest
    * row, its IDEMPOTENCE (re-sketched overlap dedups by hash). */
  private lazy val kmvBottomKTableOracleSql: String =
    s"""WITH shr AS (
      |  SELECT source, unnest($shinglesExpr) AS sh FROM documents
      |), hhd AS (
      |  SELECT DISTINCT source,
      |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
      |  FROM shr
      |)
      |SELECT source, h FROM (
      |  SELECT source, h,
      |    row_number() OVER (PARTITION BY source ORDER BY h) AS rk
      |  FROM hhd)
      |WHERE rk <= 256 ORDER BY source, h""".stripMargin

  /** The whole-corpus CMS cell-table oracle — shared verbatim by
    * cms_bigram_sketch (one-shot sketch build), cms_merge_shards
    * (parity shards merged by addition) and cms_table_ingest
    * (disjoint-slice write + append + read-back sum): the oracle
    * never slices, so hash equality on the full cell table IS the
    * addition law, proven in flight and through the durable
    * round-trip. */
  private lazy val cmsCellTableOracleSql: String =
    s"""WITH t AS (
      |  SELECT $toksExpr AS toks FROM documents
      |), b AS (
      |  SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> toks[CAST(i AS INT)] || ' ' ||
      |         toks[CAST(i + 1 AS INT)])) AS key
      |  FROM t WHERE len(toks) >= 2
      |)
      |SELECT CAST(r AS INT) AS r,
      |  ('0x' || substr(md5(CAST(r AS VARCHAR) ||
      |    ':cms:' || key), 1, 15))::BIGINT % 256 AS c,
      |  CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM b, (SELECT unnest([0, 1, 2]) AS r)
      |GROUP BY 1, 2 ORDER BY r, c""".stripMargin

  /** The whole-corpus per-source HLL summary oracle — shared verbatim
    * by hll_shingle_sketch (one-shot register build) and
    * hll_merge_shards (parity shards merged by register max): the
    * oracle never shards, so hash equality proves the merge law. */
  private lazy val hllSourceSketchOracleSql: String = {
    val est = Sketches.hllEstimateSql(8)
    s"""WITH sh AS (
      |  SELECT source, unnest($shinglesExpr) AS sh FROM documents
      |), hh AS (
      |  SELECT source,
      |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
      |  FROM sh
      |), r AS (
      |  SELECT source, h // 4503599627370496 AS register,
      |    MAX(CASE WHEN h % 4503599627370496 = 0 THEN 53
      |      ELSE 53 - length(bin(h % 4503599627370496)) END) AS m
      |  FROM hh GROUP BY source, register
      |), su AS (
      |  SELECT source, 256 - COUNT(*) AS v_zero,
      |    (256 - COUNT(*)) * 9007199254740992 +
      |      CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s_scaled
      |  FROM r GROUP BY source
      |)
      |SELECT source, v_zero, s_scaled, $est AS hll_estimate
      |FROM su ORDER BY source""".stripMargin
  }

  /** The corpus bigram stream (lowercased token pairs), shared by the
    * CMS sketch/report rows; `withDocId` keeps the shard key for the
    * merge-law row. */
  private def bigramStream(s: org.apache.spark.sql.SparkSession,
      dir: String,
      withDocId: Boolean = false): org.apache.spark.sql.DataFrame = {
    // r21: compiled bigram kernel (TextShingles.bigrams) — same
    // strings as the interpreted transform/element_at HOF it replaces
    // (ShingleHashKernelSpec pins the parity)
    val base = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.TextShingles.bigrams(col("text")))
          .as("key"))
    if (withDocId) base else base.select("key")
  }

  /** ONE compiled corpus pass for the sketch family: the word-3-
    * shingle 60-bit md5-prefix hash stream, keyed for the per-source
    * sketch aggregates. Value-identical to
    * `explode(TextAnalysis.shingles(text, 3))` followed by
    * `conv(substring(md5(sh), 1, 15), 16, 10)` — but the
    * tokenize→shingle→digest loop runs COMPILED behind one UDF call
    * per row ([[graft.functions.TextShingles.shingleHash60]]) instead
    * of the interpreted `transform` HOF plus a per-shingle
    * hex/substring/conv chain (the TextShingles class-doc measurement;
    * OPTIMIZATION_r21.md has the per-query numbers). `withDocId`
    * keeps the shard/split key for the merge-law and ingest rows. */
  private def shingleHashStream(s: org.apache.spark.sql.SparkSession,
      dir: String,
      withDocId: Boolean = false): org.apache.spark.sql.DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source").as("key"),
        explode(graft.functions.TextShingles.shingleHash60(3)(
          col("text"))).as("h"))
    if (withDocId) base else base.select("key", "h")
  }

  /** The document ingest rows' overlapping split of the shingle hash
    * stream, from ONE corpus scan: a row with doc_id < 4n/5 is tagged
    * `existing`, one with doc_id ≥ 3n/5 is tagged `batch`, and the
    * overlapping fifth — a deliberate re-crawl, which the idempotent
    * merges must absorb — is exploded to both. Output `slice, key, h`. */
  private def ingestSlices(s: org.apache.spark.sql.SparkSession,
      dir: String, row: String, existing: String, batch: String)
      : DataFrame = {
    val n = docSplit(s, dir, row)
    shingleHashStream(s, dir, withDocId = true)
      .select(explode(array(
          when(col("doc_id") < n * 4 / 5, lit(existing)),
          when(col("doc_id") >= n * 3 / 5, lit(batch)))).as("slice"),
        col("key"), col("h"))
      .filter(col("slice").isNotNull)
  }

  /** The pair-overlap rows' TEST-SCALE audit: `pairs` (keyed `s1, s2`)
    * LEFT-joined to the exact distinct-shingle intersection of the two
    * sources, a corpus-scale self-join. A pair with no common shingle
    * keeps its row, with exact_inter = 0. */
  private def withExactOverlap(pairs: DataFrame,
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val dsh = Tables.documents(s, dir)
      .select(col("source"),
        explode(graft.functions.TextShingles.distinctShingles(3)(
          col("text"))).as("sh"))
      .distinct()
    val exact = dsh.as("x")
      .join(dsh.as("y"), col("x.sh") === col("y.sh") &&
        col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("s1"), col("y.source").as("s2"))
      .agg(count(lit(1)).as("exact_inter"))
    pairs.join(exact, Seq("s1", "s2"), "left")
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
  }

  /** hll_shingle_sketch / hll_merge_shards' output over a p=8
    * per-source register table. */
  private def hllSourceSketch(regs: DataFrame): DataFrame =
    Sketches.hllSummary(regs, 8)
      .withColumnRenamed("key", "source")
      .withColumn("hll_estimate", expr(Sketches.hllEstimateSql(8)))
      .select("source", "v_zero", "s_scaled", "hll_estimate")
      .orderBy("source")

  /** kmv_merge_shards / kmv_table_ingest's output: the k=256 bottom-k
    * merge of per-source sketch tables. */
  private def kmvSourceTable(sketches: DataFrame): DataFrame =
    Sketches.kmvMerge(sketches, 256)
      .withColumnRenamed("key", "source")
      .select("source", "h")
      .orderBy("source", "h")

  /** hll_pair_estimate / hll_pair_from_table's output over a p=8
    * per-source register table. */
  private def hllPairEstimate(regs: DataFrame): DataFrame =
    Sketches.hllPairs(regs, Sketches.pairsOf(regs), 8)
      .select("s1", "s2", "est_s1", "est_s2", "est_union", "inter_est")
      .orderBy("s1", "s2")

  /** kmv_pair_estimate / kmv_pair_from_table's output over a k=256
    * per-source bottom-k table. */
  private def kmvPairEstimate(kv: DataFrame): DataFrame =
    Sketches.kmvPairs(kv, Sketches.pairsOf(Sketches.kmvSummary(kv, 256)),
        256)
      .select("s1", "s2", "est_s1", "est_s2", "n_match", "theta",
        "inter_est")
      .orderBy("s1", "s2")

  /** quota_sample's engine, parameterized on K so QuotaSampleSpec can
    * pin the K > corpus regime (the hardwired registry row uses
    * K = 100). Semantics + the why-one-cap-suffices proof live on the
    * registry entry's comment; `d` must carry `doc_id` and `lang`. */
  private[graft] def quotaSample(d: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("nn"))
    val a0 = counts.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"$k * n div nn"))
      .withColumn("rem", expr(s"($k * n) % nn"))
    val sb = a0.agg(sum("base").as("sbase"))
    val alloc = a0.crossJoin(broadcast(sb))
      .withColumn("seat", row_number().over(
        Window.orderBy(col("rem").desc, col("lang").asc)))
      .withColumn("k_alloc", least(col("base") +
        when(col("seat") <= lit(k) - col("sbase"), 1L).otherwise(0L),
        col("n")))
      .select("lang", "k_alloc")
    val draws = d.withColumn("draw",
      md5(concat(lit("samp:"), col("doc_id").cast("string"))))
    graft.operators.TopK.perGroupNative(
        draws, "lang", "doc_id", "draw", k)
      .withColumnRenamed("rank", "rk")
      .join(alloc, "lang")
      .filter(col("rk") <= col("k_alloc"))
      .select(col("lang"), col("k_alloc"), col("doc_id"),
        col("rk").cast("long").as("rk"))
      .orderBy("lang", "rk")
  }

  /** The composed Gopher/MassiveText-style gate verdict (first failing
    * rule wins), shared by quality_gate (verdict histogram) and
    * quality_audit (per-source pass rates): all per-row codegen'd
    * expressions over one scan — length window, stopword floor,
    * repetition ceilings, language allowlist. */
  private def withQualityVerdict(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t = col("text")
    val rep = graft.functions.Repetition.stats(t)
    val nTok = TextAnalysis.tokenCount(t)
    val stopR = TextAnalysis.stopwordCount(t) / nTok
    val topF = col("_rep.top_tok_count").cast("double") / nTok
    val dupB = when(col("_rep.n_bigrams") > 0,
      col("_rep.dup_bigram_count").cast("double") / col("_rep.n_bigrams"))
      .otherwise(lit(0.0))
    val lang = TextAnalysis.langId(t)
    docs.withColumn("_rep", rep)
      .withColumn("verdict",
        when(nTok < 15, lit("too_short"))
          .when(nTok > 90, lit("too_long"))
          .when(stopR < 0.03, lit("low_stopwords"))
          .when(topF > 0.125, lit("repetitive_token"))
          .when(dupB > 0.1, lit("repetitive_bigrams"))
          .when(!lang.isin("en", "de", "es", "fr"), lit("lang"))
          .otherwise(lit("accept")))
      .drop("_rep")
  }

  /** Wilson 95% bound (z = 1.96) on k successes out of n, floored to
    * integer parts-per-million. ONE SQL string evaluated by BOTH
    * engines (Spark `expr` and the DuckDB oracle share the syntax),
    * so the IEEE operation tree — divisions and one sqrt, all
    * correctly-rounded ops over exact integer inputs — is identical
    * and the 1e6 floor lands on identical doubles. `sign` is "-" for
    * the lower bound, "+" for the upper. */
  private[queries] def wilsonPermicronSql(k: String, n: String,
      sign: String): String = {
    val p = s"(CAST($k AS DOUBLE) / $n)"
    val nd = s"CAST($n AS DOUBLE)"
    // e0 literals = DOUBLE in both engines (see knProbSql's note)
    s"CAST(FLOOR(1e6 * ((($p + 3.8416e0 / (2e0 * $nd)) $sign " +
      s"1.96e0 * sqrt(($p * (1e0 - $p) + 3.8416e0 / (4e0 * $nd)) / $nd)) " +
      s"/ (1e0 + 3.8416e0 / $nd))) AS BIGINT)"
  }

  /** Interpolated Kneser-Ney bigram probability (D = 0.75) over the
    * count columns n12 (bigram count), c1 (left-context total), n1p
    * (distinct followers of the left context), ncont (distinct left
    * contexts of the right word), ntypes (total distinct bigrams):
    * max(n12−D,0)/c1 + (D·n1p/c1)·(ncont/ntypes). ONE SQL string for
    * both engines — identical IEEE tree, hash-exact doubles. */
  private val knProbSql =
    // e-notation literals: `0.75` alone parses as DECIMAL in Spark
    // (and 0.75·n1p/c1 would then round in scale-limited decimal
    // before promoting) while DuckDB's `/` promotes decimals to
    // double — a measured 1-ulp min_p drift; `0.75e0` is a DOUBLE
    // literal in both engines, keeping the whole tree IEEE
    "(greatest(CAST(n12 AS DOUBLE) - 0.75e0, 0.0e0) / c1) + " +
      "((0.75e0 * n1p) / c1) * (CAST(ncont AS DOUBLE) / ntypes)"

  /** Base-10 magnitude bucket of a KN probability — the log-free
    * integer surprisal unit (matches doc_surprisal's digit-gap trick:
    * order-independent integer sums instead of float-sum drift). */
  private val knBucketSql =
    "CASE WHEN p < 1e-5 THEN 5 WHEN p < 1e-4 THEN 4 " +
      "WHEN p < 1e-3 THEN 3 WHEN p < 1e-2 THEN 2 " +
      "WHEN p < 1e-1 THEN 1 ELSE 0 END"

  val all: Map[String, Q] = Map(

    // Token counting, quality facets, language ID, fingerprints — one
    // codegen'd scan pass, no shuffle (orderBy aside).
    "text_stats" -> { (s, dir) =>
      val t = col("text")
      val cols = TextAnalysis.qualityColumns(t).map { case (n, c) => c.as(n) }
      Tables.documents(s, dir).select(
        Seq(col("doc_id")) ++ cols ++ Seq(
          TextAnalysis.langId(t).as("lang_pred"),
          TextAnalysis.fingerprint(t).as("fp"),
          TextAnalysis.bagFingerprint(t).as("bag_fp")): _*)
        .orderBy("doc_id")
    },

    // Gopher-style repetition counters (top/duplicated tokens and
    // bigrams) — one compiled per-row kernel, no shuffle; ratios are
    // single divisions of exact ints (bit-stable vs the oracle, which
    // re-derives the counts RELATIONALLY via unnest + GROUP BY).
    // Division guards: ratios are null when the denominator is 0.
    "text_repetition" -> { (s, dir) =>
      val r = graft.functions.Repetition.stats(col("text"))
      Tables.documents(s, dir).withColumn("r", r)
        .select(col("doc_id"),
          col("r.n_tokens").as("n_tokens"),
          col("r.top_tok_count").as("top_tok_count"),
          col("r.dup_tok_count").as("dup_tok_count"),
          col("r.n_bigrams").as("n_bigrams"),
          col("r.top_bigram_count").as("top_bigram_count"),
          col("r.dup_bigram_count").as("dup_bigram_count"),
          when(col("r.n_tokens") > 0,
            col("r.top_tok_count").cast("double") / col("r.n_tokens"))
            .as("top_tok_frac"),
          when(col("r.n_tokens") > 0,
            col("r.dup_tok_count").cast("double") / col("r.n_tokens"))
            .as("dup_tok_frac"),
          when(col("r.n_bigrams") > 0,
            col("r.dup_bigram_count").cast("double") / col("r.n_bigrams"))
            .as("dup_bigram_frac"))
        .orderBy("doc_id")
    },

    // Exact dedup: one partial-agg shuffle on the canonical fingerprint;
    // every planted duplicate collapses onto its original (keep_id =
    // min, dup_count = 2).
    "dedup_exact" -> { (s, dir) =>
      Dedup.exact(withCopies(s, dir), col("doc_id"),
          TextAnalysis.fingerprint(col("text")))
        .orderBy("keep_id")
    },

    // SimHash: pure per-row 64-bit signature (majority vote of token
    // md5 bits, first 16 hex chars per token).
    "dedup_simhash" -> { (s, dir) =>
      Dedup.withSimhash(Tables.documents(s, dir), col("text"), "simhash")
        .select(col("doc_id"), col("simhash"))
        .orderBy("doc_id")
    },

    // MinHash+LSH: shingle → 8-hash signature → 4 bands → bucket join.
    // Candidate pair cost ∝ band collisions, never n².
    "dedup_minhash_lsh" -> { (s, dir) =>
      minhashPairs(withCopies(s, dir)).orderBy("id_a", "id_b")
    },

    // n-gram Jaccard verification over shingle-sharing candidates with
    // hot-shingle pruning (doc_freq ≤ 20).
    "dedup_ngram_jaccard" -> { (s, dir) =>
      jaccardPairs(withCopies(s, dir), minJaccard = 0.8)
        .orderBy("id_a", "id_b")
    },

    // Per-source ingest MANIFEST — the data-card row + reproducibility
    // digest a corpus release ships per shard: doc/token counts, the
    // id range, and a CONTENT digest (sum of each doc's 32-bit md5
    // fingerprint prefix — order-independent integer arithmetic, so
    // any engine recomputing the shard must land on the same number;
    // a re-ingest whose digest differs changed at least one byte of
    // at least one doc). The 32-bit-chunk sum stays inside BIGINT
    // through ~10⁹ docs per source; past that, widen the sum to
    // DECIMAL (documented, not needed at any test SF). One scan, one
    // source-cardinality aggregate.
    "source_manifest" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("toks"),
          conv(substring(TextAnalysis.fingerprint(col("text")), 1, 8),
            16, 10).cast("long").as("fp32"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
          min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"),
          sum("fp32").as("content_digest"))
        .orderBy("source")
    },

    // n-gram NOVELTY score — the inverse of boilerplate: per doc, the
    // permille of its distinct 3-gram shingles that appear NOWHERE
    // else in the corpus (df = 1). High novelty = genuinely new
    // content; near-zero = assembled from corpus-common fragments —
    // the cheap scalar a mixture builder reads next to the quality
    // gate when up-weighting fresh material. One shingle explode →
    // Zipf-concentrated df aggregate → join back + per-doc integer
    // rollup (the doc_surprisal plan with shingles for tokens).
    "ngram_novelty" -> { (s, dir) =>
      val sh = Tables.documents(s, dir).select(col("doc_id"),
        explode(graft.functions.TextShingles.distinctShingles(3)(
          col("text"))).as("sh"))
      val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      sh.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty_permille",
          expr("n_unique * 1000 div n_shingles"))
        .orderBy("doc_id")
    },

    // Quality × duplication CROSS-TAB — the curation question the two
    // tiers answer only together: do near-duplicates concentrate in
    // particular quality bands (template spam usually fails the
    // repetition rules AND floods the dup graph; if dup_permille is
    // flat across verdicts, dedup and quality filtering are
    // independent cuts and their retention costs multiply). Per gate
    // verdict: docs, docs appearing in ≥1 simhash pair, and the dup
    // rate in permille. One verdict scan (shared withQualityVerdict
    // chain) + the proven pair path + a distinct-endpoint semi-join.
    "quality_dup_crosstab" -> { (s, dir) =>
      val docs = withCopies(s, dir)
      val pairs = simhashPairs(docs).select("id_a", "id_b")
      val dup = pairs.select(col("id_a").as("doc_id"))
        .unionByName(pairs.select(col("id_b").as("doc_id")))
        .distinct()
        .withColumn("is_dup", lit(1L))
      withQualityVerdict(docs)
        .join(dup, Seq("doc_id"), "left")
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
        .withColumn("dup_permille", expr("n_dup * 1000 div n_docs"))
        .orderBy("verdict")
    },

    // Cluster LABELING — "what IS this near-dup cluster": the top-3
    // non-stopword tokens by in-cluster frequency for every simhash
    // component, the string a curation UI shows next to
    // dedup_cluster_report's size/bytes columns so a reviewer can
    // triage template families without opening members. Pairs →
    // closure (∝ duplicates) → one token explode over CLUSTERED docs
    // only (the semi-join keeps unpaired docs out of the explode) →
    // cluster-keyed tf → rank ≤ 3, which compiles to the same
    // WindowGroupLimit partial top-k as tfidf_topk.
    "cluster_labels" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = withCopies(s, dir)
      val comp = simhashComponents(docs).withColumnRenamed("id", "doc_id")
      val toks = docs.join(comp, Seq("doc_id"))
        .select(col("canonical").as("cluster"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .filter(!col("token").isin(TextAnalysis.DefaultStopwords: _*))
      toks.groupBy("cluster", "token").agg(count(lit(1)).as("tf"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("cluster")
            .orderBy(col("tf").desc, col("token"))))
        .filter(col("rank") <= 3)
        .select("cluster", "rank", "token", "tf")
        .orderBy("cluster", "rank")
    },

    // MinHash CALIBRATION curve — the estimator-quality report behind
    // dedup_recall_report's single recall number: candidate pairs
    // bucketed by how many of the 8 minhashes agree, against the
    // exact capped-shingle Jaccard (floored to integer permille per
    // pair, so the per-bucket mean/min/max are order-independent
    // integer aggregates). Agreement/8 IS the minhash Jaccard
    // estimate, so this table is the estimator-vs-truth calibration:
    // a healthy configuration shows mean permille rising ~linearly
    // with the agreement bucket; a flat curve means the shingle space
    // is too saturated for 8 hashes to discriminate (winnowing's
    // measured boilerplate mode) and more hashes buy nothing. Shapes:
    // the two proven pair paths + one signature join (8 smallints per
    // doc) + a ≤9-bucket aggregate.
    "minhash_calibration" -> { (s, dir) =>
      val docs = withCopies(s, dir)
      val cand = minhashPairs(docs)
      val sig = Dedup.withMinhashSignature(docs, col("text"), "sig",
          numHashes = 8, shingleN = 3)
        .select(col("doc_id"), col("sig"))
      val jac = jaccardPairs(docs, minJaccard = 0.0)
        .select(col("id_a"), col("id_b"), jaccardPm.as("jacc_permille"))
      cand
        .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sa")),
          "id_a")
        .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sb")),
          "id_b")
        .withColumn("n_agree",
          expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), v -> v))"))
        .join(jac, Seq("id_a", "id_b"), "left")
        .withColumn("jp", coalesce(col("jacc_permille"), lit(0L)))
        .groupBy("n_agree")
        .agg(count(lit(1)).as("n_pairs"), sum("jp").as("_sum_jp"),
          min("jp").as("min_jaccard_permille"),
          max("jp").as("max_jaccard_permille"))
        .withColumn("mean_jaccard_permille", expr("_sum_jp div n_pairs"))
        .select("n_agree", "n_pairs", "mean_jaccard_permille",
          "min_jaccard_permille", "max_jaccard_permille")
        .orderBy("n_agree")
    },

    // AT-REST LSH SIGNATURE INDEX + incremental probe — the ingest
    // half of the minhash family at 100 TB: the existing corpus's
    // band signatures are computed ONCE and persisted (deterministic
    // md5 minhash ⇒ re-runs rewrite identical bytes — a versioned
    // index artifact, same operational shape as the IVF centroid
    // export), and each daily batch computes only ITS OWN signatures
    // and equi-joins the at-rest table on (band, band_key). Without
    // the index every ingest re-shingles and re-hashes the WHOLE
    // corpus (corpus-scale compute per day); with it, per-ingest cost
    // is batch signatures + a join whose exchange carries band keys,
    // ∝ batch + collisions. Output: distinct (batch doc, existing
    // doc) near-dup candidates — what the ingest pipeline anti-joins
    // or routes to verify. The oracle recomputes both signature sets
    // from the raw text: a hash match proves the persisted index
    // byte-equivalent to recomputation.
    "dedup_lsh_probe" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val n = d.agg(max("doc_id")).head.getLong(0) + 1
      val sigPath = lshIndexPath(dir)
      val corpusSig = Dedup.lshBands(
        d.filter(col("doc_id") < n * 4 / 5), col("doc_id"), col("text"))
        .withColumnRenamed("id", "corpus_id")
      graft.sinks.CorpusWriter.writePartitioned(corpusSig, sigPath,
        partitionCol = "band", sortCols = Seq("corpus_id"))
      val atRest = s.read.parquet(sigPath)
      val batch = shifted(d.filter(col("doc_id") >= n * 3 / 5), "doc_id")
      val batchSig = Dedup.lshBands(batch, col("doc_id"), col("text"))
        .select(col("band"), col("band_key"), col("id").as("batch_id"))
      atRest.join(batchSig, Seq("band", "band_key"))
        .select("batch_id", "corpus_id").distinct()
        .orderBy("batch_id", "corpus_id")
    },

    // TEMPERATURE-scaled source mixing (τ = 0.5) — the multilingual/
    // multi-source sampling rule (UNIMAX-family): target share ∝
    // share^τ, flattening the head without inverting the ordering.
    // τ = 0.5 deliberately: share^0.5 is ONE correctly-rounded IEEE
    // sqrt (bit-identical cross-engine), where a general pow() is
    // libm-dependent — the same determinism rule as the log-free
    // surprisal tier. The ONLY float op is the per-source
    // floor(1e6·√share); everything after — the normalizer Z, target
    // permille, upsampling factor — is exact integer arithmetic on
    // those micro-units (order-independent sums), capped at 4× like
    // mixture_upsample. Shapes: source-cardinality aggregates and
    // 1-row broadcast globals only. (The factor product sq·T·1000
    // fits BIGINT through ~10¹² corpus tokens; beyond that, divide
    // before multiplying — documented, not needed at these SFs.)
    "mixture_temperature" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
      val bySource = d.groupBy("source").agg(sum("toks").as("toks"))
      val total = bySource.agg(sum("toks").as("t"))
      val sq = bySource.crossJoin(broadcast(total))
        .withColumn("sq_1e6", expr(tempSqSql))
      val z = sq.agg(sum("sq_1e6").as("z"))
      sq.crossJoin(broadcast(z))
        .select(col("source"), col("toks"),
          expr("toks * 1000 div t").as("share_permille"),
          expr("sq_1e6 * 1000 div z").as("target_permille"),
          expr("least(sq_1e6 * t * 1000 div (z * toks), " +
            "CAST(4000 AS BIGINT))").as("factor_1e3"))
        .orderBy("source")
    },

    // Candidate-generator EVAL — the dedup family's ann_recall_report:
    // how much of the verified Jaccard-≥0.8 pair set (the doc-freq-
    // capped exact path, the reference signal) does the 8-hash/4-band
    // MinHash-LSH candidate generator recover (recall), and what
    // fraction of its candidates verify (precision — the knob that
    // prices the verify stage's join size)? This is the report that
    // decides bands/hashes BEFORE an sf-scale dedup run: more bands =
    // higher recall + more candidate-join cost, and the answer
    // changes with corpus shingle statistics, so it must be measured
    // on the corpus itself. Both pair sets are the proven queries'
    // shapes; the comparison adds one pairs-sized join and three
    // 1-row aggregates (broadcast crossJoin composition — no driver
    // collect). Measured sf0.1→sf1: 4.7× at 10× docs — the eval's
    // cost tracks its two input pair sets, which grow with the LSH
    // family's chance band collisions (the priced regime; SCALE.md
    // round 13). At 100 TB this is a TUNING diagnostic, run on an
    // md5-bucketed sample slice: the rates it estimates are
    // corpus-statistics properties, not an inventory that needs every
    // pair.
    "dedup_recall_report" -> { (s, dir) =>
      val docs = withCopies(s, dir)
      val cand = minhashPairs(docs)
      val truth = jaccardPairs(docs, minJaccard = 0.8).select("id_a", "id_b")
      val hit = truth.join(cand, Seq("id_a", "id_b"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
        .withColumn("recall_permille", expr(
          "CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE n_hit * 1000 div n_truth END"))
        .withColumn("precision_permille", expr(
          "CASE WHEN n_cand = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE n_hit * 1000 div n_cand END"))
    },

    // SimHash near-dup pairing: 4×16-bit band tables over the 64-bit
    // signature (exact Hamming≤3 recall by pigeonhole), verified with
    // the codegen'd builtin bit_count(a XOR b) — planted copies land at
    // distance 0.
    "dedup_simhash_pairs" -> { (s, dir) =>
      simhashPairs(withCopies(s, dir)).orderBy("id_a", "id_b")
    },

    // LEAKAGE-SAFE train/val/test split — the well-known correctness
    // fix train_split alone cannot give: if two near-duplicate docs
    // land in train and test, the test set leaks (memorization reads
    // as generalization). The split key must therefore be the
    // near-dup COMPONENT, not the doc: simhash pairs → connected
    // components → every member inherits its canonical's seeded md5
    // bucket, so an entire duplicate cluster moves as one unit.
    // Unpaired docs are their own canonical — for them this IS
    // train_split (same "split:" seed, deliberately: adopting the
    // leakage-safe split only reassigns docs that have near-dups).
    // Shapes: the proven pair/closure path (∝ duplicates) + one
    // left join back + the per-row bucket projection.
    "leakage_safe_split" -> { (s, dir) =>
      val docs = withCopies(s, dir).select(col("doc_id"))
      val comp = simhashComponents(withCopies(s, dir))
        .withColumnRenamed("id", "doc_id")
      val canon = docs.join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("canonical"), col("doc_id")).as("canonical"))
      val bucket = substring(
        md5(concat(lit("split:"), col("canonical").cast("string"))), 1, 2)
      canon.select(col("doc_id"), col("canonical"), bucket.as("bucket"),
          when(bucket < "cc", lit("train"))
            .when(bucket < "e6", lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy("doc_id")
    },

    // Template-HUB centrality — PageRank (3 unrolled power iterations,
    // damping 0.85) over the SimHash near-dup graph: high-rank docs
    // sit at the center of large near-dup neighborhoods, i.e. the
    // boilerplate templates whose variants flood the corpus (the doc
    // a curator inspects FIRST — components says how big a cluster
    // is, centrality says which member is its hub). Arithmetic is
    // INTEGER micro-units end to end: ranks are BIGINT (start 10⁶),
    // per-edge contribution is rank div degree (integer division
    // BEFORE the sum, so the aggregate is an order-independent
    // integer sum), damping is ×85 div 100 — no float appears
    // anywhere, which is what makes 3 chained iterations
    // bit-reproducible in both engines (a float formulation would
    // compound order-dependent sums per round). Per iteration: one
    // edges⋈ranks join (∝ edges, which the band family keeps
    // ∝ duplicates) + one dst-keyed integer sum; truncation at 3
    // rounds is the documented trade (hub ORDERING stabilizes within
    // a few rounds on near-dup graphs — full convergence buys nothing
    // a curator reads). Dangling mass is not redistributed (isolated
    // docs settle at the 0.15 floor) — the standard simplified form.
    // Measured sf0.1→sf1 steady: 3.3× at 10× docs, under the band
    // family's chance-collision edge growth the iterations ride on
    // (SCALE.md round 13).
    "pagerank_hubs" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = withCopies(s, dir).select(col("doc_id"))
      // r22: materialize the pair lineage ONCE (the components
      // operator's standing discipline, ∝ duplicates) — the rank
      // loop's lazy plan otherwise re-embeds, and at broadcast/stage
      // time re-evaluates, the whole simhash pairing per iteration
      // (edges is referenced by deg + three contrib rounds)
      val pairs = graft.operators.Checkpoints.truncate(
        simhashPairs(withCopies(s, dir)).select("id_a", "id_b"))
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"),
          col("id_a").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      var rank = docs.select(col("doc_id"), lit(1000000L).as("rank"))
      for (_ <- 1 to 3) {
        val r = rank.select(col("doc_id").as("rid"), col("rank"))
        val contrib = edges
          .join(r, col("src") === col("rid"))
          .join(deg, "src")
          .select(col("dst").as("doc_id"), expr("rank div deg").as("c"))
          .groupBy("doc_id").agg(sum("c").as("s"))
        rank = docs
          .join(contrib, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (lit(150000L) +
              expr("coalesce(s, CAST(0 AS BIGINT)) * 85 div 100"))
              .as("rank"))
      }
      // no partition key: the window runs over the 20-row limit, a
      // bounded frame evaluated in one task
      rank.orderBy(col("rank").desc, col("doc_id")).limit(20)
        .withColumn("hub_rank", row_number().over(
          Window.orderBy(col("rank").desc, col("doc_id"))))
        .select("hub_rank", "doc_id", "rank")
        .orderBy("hub_rank")
    },

    // k-anonymity audit over the (lang, source, length-bucket)
    // quasi-identifier — the privacy-release check run before
    // publishing per-doc corpus metadata: how many identifier groups
    // (and member docs) fall in each re-identification risk band
    // (unique / k≤5 / k≤20 / k>20). The 50-char length bucket is part
    // of the identifier because released length metadata narrows
    // groups exactly like a categorical column does — and it is what
    // makes the audit bite (two-column groups are all comfortably
    // large; adding length produces genuine singletons). Two cascaded
    // shrinking aggregates, like vocab_fof.
    "k_anonymity_report" -> { (s, dir) =>
      val groups = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 50").as("len_bucket"))
        .agg(count(lit(1)).as("k"))
      groups.select(
          when(col("k") === 1, "unique")
            .when(col("k") <= 5, "high")
            .when(col("k") <= 20, "medium")
            .otherwise("low").as("risk_band"),
          col("k"))
        .groupBy("risk_band")
        .agg(count(lit(1)).as("n_groups"), sum("k").as("n_docs"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("risk_band")
    },

    // MODALITY-AGREEMENT dedup report — the cross-check a pipeline
    // runs before trusting either near-dup signal alone: text SimHash
    // pairs (surface overlap) full-outer-joined against
    // embedding-cosine pairs (semantic overlap) on the SAME id space,
    // each pair tagged by which modality found it. text-only rows are
    // template/boilerplate twins whose embeddings diverged;
    // embedding-only rows are paraphrase-like semantic dups invisible
    // to fingerprints — the two slices route to DIFFERENT policies
    // (trim vs sample-cap), which is why the report exists. Both pair
    // generators are the proven bucketed shapes (4×16-bit band join;
    // label buckets + exact chord-bound grid refinement), and the
    // agreement join itself keys on (id_a, id_b) — pairs-sized inputs,
    // so every stage is ∝ duplicates, never corpus².
    "dedup_modality_agreement" -> { (s, dir) =>
      val textPairs = simhashPairs(withCopies(s, dir))
        .select("id_a", "id_b").withColumn("in_text", lit(1L))
      val allVecs = withCopy(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label")
      val embPairs = graft.operators.Similarity.cosineDupPairs(allVecs,
          col("vec_id"), col("embedding"), "label", threshold = 0.99)
        .select("id_a", "id_b").withColumn("in_embedding", lit(1L))
      textPairs.join(embPairs, Seq("id_a", "id_b"), "full_outer")
        .select(col("id_a"), col("id_b"),
          coalesce(col("in_text"), lit(0L)).as("in_text"),
          coalesce(col("in_embedding"), lit(0L)).as("in_embedding"))
        .orderBy("id_a", "id_b")
    },

    // Dedup cluster resolution: connected components over the SimHash
    // near-dup pairs — (a,b),(b,c) collapse to one survivor via the
    // transitive closure (min-label propagation; rounds = component
    // diameter, ~2 for planted-copy near-cliques). The oracle closes
    // the same edge set with a recursive CTE.
    "dedup_components" -> { (s, dir) =>
      simhashComponents(withCopies(s, dir)).orderBy("id")
    },

    // The full near-dup collapse a training pipeline actually ships:
    // pair → cluster → keep one survivor per component (the min-id
    // canonical) plus every unpaired doc, through the strategy-neutral
    // anti-join of Dedup.survivors — same adaptive pattern as
    // dedup_incremental.
    "dedup_survivors" -> { (s, dir) =>
      val docs = withCopies(s, dir)
      Dedup.survivors(docs.select("doc_id"), simhashPairs(docs))
        .orderBy("doc_id")
    },

    // Unicode NFC normalization: deterministic DECOMPOSED-form
    // suffixes (combining acute/ring/diaeresis — the ASCII corpus has
    // none) are injected identically on both sides, normalized, and
    // pinned byte-for-byte via md5 — the canonical-composition pass
    // that keeps composed-vs-decomposed crawls from evading dedup.
    // `changed` must be true exactly on the injected docs.
    "text_normalize" -> { (s, dir) =>
      val injected = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(TrainingQueries.DecomposedSuffix)).otherwise(lit("")))
      val norm = graft.functions.Nfc.nfc(injected)
      Tables.documents(s, dir).select(col("doc_id"),
          md5(norm.cast("binary")).as("nfc_fp"),
          (norm =!= injected).as("changed"))
        .orderBy("doc_id")
    },

    // Corpus vocabulary: global token top-20 by frequency (Zipf head) —
    // explode → two-stage partial-agg count (shuffle carries per-token
    // partials, ∝ vocab, not corpus) → the final top-k is a sort of
    // the VOCAB-sized aggregate, with (count desc, token asc) total
    // order so the cut is deterministic.
    "vocab_topk" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text"))))
          .as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)
    },

    // STRING-KEY heavy hitters — the boilerplate-bigram detector
    // through the documented hash path of operators/HeavyHitters:
    // bigrams hash to xxhash64 longs for the two-pass sketch
    // (capacity-bounded exchanges at any vocabulary size — the
    // 100 TB regime where the bigram vocabulary outgrows memory and
    // vocab_topk's full aggregate stops being free), then the ≤
    // capacity hot HASHES broadcast back against the distinct
    // (hash, bigram) labels to restore the text. A hash collision
    // would merge two bigrams' counts and fail the plain GROUP
    // BY/HAVING oracle loudly — 64-bit xxhash at any realistic
    // vocabulary keeps that probability negligible, and the oracle
    // makes it checked rather than assumed.
    "hot_bigrams" -> { (s, dir) =>
      val big = Tables.documents(s, dir)
        .select(explode(graft.functions.TextShingles.bigrams(col("text")))
          .as("bigram"))
      val hot = graft.operators.HeavyHitters.hotKeys(big,
        xxhash64(col("bigram")), thresholdPpm = 1500L, capacity = 2048)
      val labels = big
        .select(xxhash64(col("bigram")).as("k"), col("bigram"))
        .distinct()
      labels.join(broadcast(hot), "k")
        .select(col("bigram"), col("n_events").as("n_occurrences"),
          expr("n_events * 1000 div n_total").as("permille"))
        .orderBy(col("n_occurrences").desc, col("bigram").asc)
    },

    // RAG-style CHUNKING report: fixed 64-token windows at stride 48
    // (16-token overlap), the segmentation a retrieval corpus build
    // applies before embedding. Per doc: token count, chunk count,
    // the first chunk's md5 (byte-pins the window content, not just
    // its length) and the last chunk's (possibly short) token count.
    // Pure per-row array arithmetic — no shuffle before the final
    // sort; GREATEST(n, 1) keeps the chunk-count formula in positive
    // integer division, where Spark's truncating `div` and DuckDB's
    // flooring `//` agree.
    "chunk_report" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", TextAnalysis.tokens(lower(col("text"))))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("n_chunks",
          expr("(greatest(n_tokens, 1) - 1) div 48 + 1"))
        .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
          md5(concat_ws(" ", slice(col("toks"), 1, 64)))
            .as("chunk0_md5"),
          least(lit(64L),
            col("n_tokens") - lit(48L) * (col("n_chunks") - 1))
            .as("last_chunk_tokens"))
        .orderBy("doc_id")
    },

    // VOCAB COVERAGE — the vocab-size decision metric a tokenizer
    // build reads next to vocab_fof: fix the candidate vocab to the
    // frequency top-V (V=10 here; deterministic (count desc, token
    // asc) cut like vocab_topk) and report, per document, how many
    // token occurrences fall OUTSIDE it (the OOV mass that would
    // fragment into bytes/unk). Shape: the vocab is a V-row aggregate
    // broadcast back over the token stream (left join against the
    // tiny side — never a corpus-sized shuffle), then one doc-keyed
    // partial agg. Integer permille keeps the oracle exact.
    "vocab_coverage" -> { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(10)
        .select(col("token"), lit(1L).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
            .as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          expr("n_oov * 1000 div n_tokens").as("oov_permille"))
        .orderBy("doc_id")
    },

    // Per-document keyword extraction: top-3 terms by a tf-idf-style
    // weight. Two-pass shape — (doc, token) term frequencies with
    // map-side partials, then the document-frequency aggregate reads
    // the ALREADY-AGGREGATED tf output (corpus-distinct-terms sized,
    // not corpus-token sized) and its join back is vocab-sized
    // (Zipf-small → broadcast), never a second corpus scan. The
    // rank<=3 cut compiles to WindowGroupLimit (partial per-group
    // top-k before the doc_id exchange, plan-verified), so no
    // partition ever materializes a full per-doc sort.
    // The weight is tf/(df+1) — a PROPORTIONAL
    // idf rather than log-idf, deliberately: integer÷integer is one
    // correctly-rounded IEEE op, bit-identical across engines, where
    // ln() is only 1-ulp-accurate and mathematically-tied scores
    // (2·ln 9 = ln 81) could rank differently in Spark vs the oracle.
    // Ranking is total-ordered by (score desc, token asc) so the
    // top-3 cut is deterministic.
    "tfidf_topk" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .filter(!col("token").isin(TextAnalysis.DefaultStopwords: _*))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("token").asc)
      tf.join(dfreq, Seq("token"))
        .withColumn("score", col("tf") / (col("df") + lit(1)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "token", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    },

    // The composed quality gate a corpus build actually ships — the
    // Gopher/MassiveText-style accept/reject verdict with the FIRST
    // failing rule as the reason (length window, stopword floor,
    // repetition ceilings, language allowlist), all per-row codegen'd
    // expressions over one scan; the gate COMPOSES the stats, lang-id
    // and repetition tiers into one plan.
    "quality_gate" -> { (s, dir) =>
      withQualityVerdict(Tables.documents(s, dir))
        .groupBy("verdict").agg(count(lit(1)).as("n_docs"))
        .orderBy("verdict")
    },

    // Quality-gate AUDIT with confidence bounds — the report a corpus
    // owner reads per SOURCE: pass rate through the composed gate plus
    // a Wilson 95% interval, so a source with 40 docs at 60% pass is
    // not read as equal evidence to one with 40k docs at 60% (the
    // interval says which sources are RELIABLY below the bar and
    // which just need more crawl before judging). Wilson (not normal
    // approximation) because gate pass rates sit near 0 or 1 for
    // curated sources, exactly where the normal interval collapses.
    // Same single-scan verdict plan as quality_gate, re-aggregated by
    // source; the interval arithmetic runs on the source-cardinality
    // aggregate rows. The bound expressions are built from ONE shared
    // SQL string ([[wilsonSql]]) evaluated by both engines, so the
    // identical IEEE operation tree (divisions, one sqrt — all
    // correctly rounded ops over integer inputs) makes the doubles
    // hash-exact, the same trick as the cosine oracles.
    "quality_audit" -> { (s, dir) =>
      withQualityVerdict(Tables.documents(s, dir))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("verdict") === "accept", 1L).otherwise(0L))
            .as("n_pass"))
        .withColumn("pass_permille", expr("n_pass * 1000 div n_docs"))
        .withColumn("wilson_low_1e6",
          expr(wilsonPermicronSql("n_pass", "n_docs", "-")))
        .withColumn("wilson_high_1e6",
          expr(wilsonPermicronSql("n_pass", "n_docs", "+")))
        .orderBy("source")
    },

    // Incremental ingest: dedupe a NEW crawl batch against the
    // EXISTING corpus — the daily-increment pattern (a re-crawl
    // overlaps what's already ingested, and scrapes duplicate pages
    // within itself). Split points are FRACTIONS of the corpus size
    // (existing = first 80%, re-crawl = last 40% 1M-shifted, in-batch
    // second scrape = last 10% 2M-shifted), so the benched regime is
    // scale-INVARIANT: at every SF the batch overlaps half the
    // existing tail and 20% of the corpus is genuinely new — the
    // sf0.1→sf1 growth ratio measures the same daily-increment shape,
    // not a degenerate all-new batch (the r9 fixed-threshold version
    // drifted regimes with SF). Accepted = in-batch min-id per
    // fingerprint, anti-joined against the existing fingerprint set.
    // Catalyst rewrites the declared groupBy→anti-join into anti-join
    // FIRST (pushed below the union — valid because the join key IS
    // the grouping key) so known-duplicate rows never reach the
    // aggregate, and picks the join strategy from stats: broadcast at
    // this toy SF, a fingerprint-hashed shuffle anti-join once the
    // existing set outgrows the broadcast threshold — exactly the
    // adaptive behavior a 100 TB ingest needs (declare the logical
    // plan, let the optimizer place the exchanges; plan re-read via
    // tools/Explain). The size probe is a 1-row max aggregate —
    // bounded driver work, like the Similarity dim probe.
    "dedup_incremental" -> { (s, dir) =>
      val (batch, existing, _) = incrementalIngest(s, dir)
      batch.groupBy("fp").agg(min("doc_id").as("doc_id"))
        .join(existing.distinct(), Seq("fp"), "left_anti")
        .select("doc_id").orderBy("doc_id")
    },

    // Same incremental-ingest answer, Bloom-accelerated: the existing
    // corpus's fingerprint set becomes a ~1.2 GB-at-10⁹-keys Bloom
    // filter (one codegen'd native aggregate, no driver scan); batch
    // rows the filter PROVES new (no false negatives) bypass the
    // anti-join entirely, and only true dups + ~1% false positives
    // pay it. The anti-join sits BELOW the min-id aggregate (they
    // commute — fp is both join and grouping key), so known
    // duplicates never reach the exchange and the aggregate runs ONCE
    // over the branch union. Result is bit-identical to
    // dedup_incremental — the SAME DuckDB oracle checks both —
    // because the exact anti-join scrubs the false positives. This is
    // the variant that survives when the existing set outgrows both
    // the broadcast cap (raw keys too big) and patience (shuffling
    // the whole daily batch); see operators/BloomAntiJoin for the
    // full scale argument and the measured sf1 profile.
    "dedup_incremental_bloom" -> { (s, dir) =>
      val (batch, existing, existCount) = incrementalIngest(s, dir)
      graft.operators.BloomAntiJoin.antiJoin(
          batch, "fp", existing, "fp",
          expectedItems = math.max(1L, existCount), fpp = 0.01)
        .groupBy("fp").agg(min("doc_id").as("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },

    // Zipf-surprisal quality score — the CCNet/RefinedWeb idea (rank
    // documents by how RARE their vocabulary is under the corpus's OWN
    // unigram distribution; high scores = jargon/noise/boilerplate-free
    // rare text, low = stopword soup) made log-free: each token scores
    // the base-10 magnitude gap digits(N) − digits(n_token) — an
    // integer Zipf bucket, exact in every engine, so the oracle
    // hash-matches where a -Σ ln p formulation would drift in the last
    // bit (same reason tfidf/collocations use rational scores). Shape:
    // one explode scan → vocab partial-agg (shuffle ∝ vocab); the
    // corpus total rides a broadcast 1-row crossJoin; the token rejoin
    // shuffles ∝ token occurrences with map-side combine on the
    // per-doc re-agg — no corpus-squared anything.
    "doc_surprisal" -> { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
      val total = vocab.agg(sum("n").as("n_total"))
      toks.join(vocab, "token")
        .crossJoin(broadcast(total))
        .withColumn("surp",
          length(col("n_total").cast("string")) -
            length(col("n").cast("string")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("surp").as("surprisal"))
        .withColumn("mean_surprisal",
          col("surprisal").cast("double") / col("n_tokens"))
        .orderBy("doc_id")
    },

    // Language-ID CONFIDENCE report — the margin between the best and
    // runner-up marker scores, per doc. A classifier's argmax is only
    // trustworthy when the margin is wide; corpus builds threshold on
    // it before trusting per-lang routing (docs at margin 0 are the
    // ambiguous tail that goes to 'und' review). Pure per-row column
    // arithmetic over the same regexp counters langId uses — no
    // shuffle at all before the output sort; integer scores so the
    // oracle is exact.
    "lang_margin" -> { (s, dir) =>
      val lowered = lower(col("text"))
      val scores = TextAnalysis.LangMarkers.map { case (l, pat) =>
        l -> regexp_count(lowered, lit(pat))
      } :+ ("zh" -> regexp_count(col("text"),
        lit(TextAnalysis.CjkPattern)))
      val arr = sort_array(array(scores.map(_._2.cast("long")): _*),
        asc = false)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang"),
          arr.getItem(0).as("best"),
          arr.getItem(1).as("second"),
          (arr.getItem(0) - arr.getItem(1)).as("margin"))
        .orderBy("doc_id")
    },

    // Bigram-LM surprisal — doc_surprisal's unigram rarity score is
    // blind to word-ORDER anomalies (shuffled text scores identically);
    // scoring under the corpus's own bigram distribution catches
    // gibberish with plausible vocabulary. Same log-free integer
    // formulation (surprisal = digits(N) − digits(n), the base-10
    // Zipf bucket — bit-identical cross-engine); same shapes as
    // doc_surprisal: one bigram explode scan → bigram-vocab agg →
    // 1-row broadcast total → per-doc re-agg. The bigram vocab is
    // larger than the unigram one but still vocab²-bounded and Zipf-
    // concentrated, so the join-back stays a vocab-sized exchange.
    "bigram_surprisal" -> { (s, dir) =>
      val big = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.TextShingles.bigrams(col("text")))
            .as("bigram"))
      val vocab = big.groupBy("bigram").agg(count(lit(1)).as("n"))
      val total = vocab.agg(sum("n").as("n_total"))
      big.join(vocab, "bigram")
        .crossJoin(broadcast(total))
        .withColumn("surp",
          length(col("n_total").cast("string")) -
            length(col("n").cast("string")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("surp").as("surprisal"))
        .withColumn("mean_surprisal",
          col("surprisal").cast("double") / col("n_bigrams"))
        .orderBy("doc_id")
    },

    // Kneser-Ney-smoothed bigram surprisal — the standard fix for
    // bigram_surprisal's blind spot: a raw-count bigram LM assigns
    // frequency-proportional probability to "francisco" after ANY
    // word because "san francisco" is common, where KN discounts raw
    // continuations (absolute discount D = 0.75) and backs off to the
    // CONTINUATION count — in how many distinct left-contexts a word
    // appears — the novel-combination signal quality filtering
    // actually wants. All four count tables (bigram counts, left
    // totals + follower-type counts, continuation counts, total
    // types) are vocab-sized Zipf aggregates; the probability is one
    // shared SQL expression both engines evaluate ([[knProbSql]] —
    // identical IEEE tree over exact integer counts, hash-exact like
    // the cosine oracles), and the per-doc rollup keeps the log-free
    // discipline: an integer base-10 bucket SUM (order-independent)
    // plus MIN(p) (order-independent), never a float sum.
    "kn_surprisal" -> { (s, dir) =>
      val big = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.TextShingles.bigramPairs(col("text")))
            .as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      val lft = c12.groupBy("w1").agg(sum("n12").as("c1"),
        count(lit(1)).as("n1p"))
      val cont = c12.groupBy("w2").agg(count(lit(1)).as("ncont"))
      val types = c12.agg(count(lit(1)).as("ntypes"))
      big
        .join(c12, Seq("w1", "w2"))
        .join(lft, Seq("w1"))
        .join(cont, Seq("w2"))
        .crossJoin(broadcast(types))
        .withColumn("p", expr(knProbSql))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_bigrams"),
          sum(expr(knBucketSql)).as("kn_surprisal"),
          min(col("p")).as("min_p"))
        .withColumn("mean_surprisal",
          col("kn_surprisal").cast("double") / col("n_bigrams"))
        .orderBy("doc_id")
    },

    // Corpus report with subtotals: one ROLLUP pass produces the
    // (lang, source) cells, per-lang subtotals and the grand total —
    // Spark expands the grouping sets BEFORE the exchange, so partial
    // aggregation still combines map-side and the shuffle carries one
    // partial row per (set, group), never a second scan per level
    // (the hand-rolled alternative is 3 scans + a union). grouping_id
    // disambiguates a genuine NULL group from a rollup subtotal.
    "corpus_rollup" -> { (s, dir) =>
      Tables.documents(s, dir)
        .rollup(col("lang"), col("source"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"))
        .orderBy(col("gid").asc, col("lang").asc_nulls_first,
          col("source").asc_nulls_first)
    },

    // Deterministic train/val/test split: a seeded md5 bucket per doc,
    // compared against fixed hex thresholds (0xcc/256 ≈ 80%, 0xe6/256 ≈
    // 90%) — pure per-row projection, no shuffle, reproducible across
    // runs/engines, and stable under corpus growth (a doc's split never
    // changes when other docs are added — the property random-number
    // splits lack).
    "train_split" -> { (s, dir) =>
      val bucket = substring(
        md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)
      Tables.documents(s, dir).select(
          col("doc_id"), col("source"), bucket.as("bucket"),
          when(bucket < "cc", lit("train"))
            .when(bucket < "e6", lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy("doc_id")
    },

    // Winnowing document fingerprints: rolling k-gram hashes, min per
    // window, distinct — any shared substring of length >= w+k-1
    // guarantees a shared fingerprint.
    "text_winnowing" -> { (s, dir) =>
      val fps = graft.functions.TextShingles
        .winnowedFingerprints(k = 8, w = 8)(col("text"))
      Tables.documents(s, dir)
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), explode(fps).as("fp"))
        .orderBy("doc_id", "fp")
    },

    // Per-source document cap — the corpus-balancing step (don't let
    // one crawl domain dominate): keep the top-5 docs per source by
    // token count, through the NATIVE top-k plan node on a second,
    // independent contract (string group key, long score) — the node
    // groups the source column DIRECTLY, so there is no surrogate-hash
    // collision risk and no join-back to recover the source name.
    "source_cap" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("tokens"))
      graft.operators.TopK.perGroupNative(
          d, "source", "doc_id", "tokens", k = 5)
        .select(col("source"), col("doc_id"),
          col("tokens").cast("long").as("tokens"), col("rank"))
        .orderBy("source", "rank")
    },

    // Decontamination: flag corpus docs sharing ANY word-3-shingle with
    // a benchmark set (here: doc_id < 20 stands in for the eval set).
    // Shape: the benchmark's shingle set is TINY next to the corpus —
    // a broadcast semi-join against it, so the corpus streams through
    // one scan with no corpus-sized shuffle.
    "decontaminate" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val shingles = graft.functions.TextShingles.distinctShingles(3)
      val bench = broadcast(d.filter(col("doc_id") < 20)
        .select(explode(shingles(col("text"))).as("sh")).distinct())
      val corpusSh = d.filter(col("doc_id") >= 20)
        .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
      val contaminated = corpusSh.join(bench, "sh")
        .select("doc_id").distinct()
      d.filter(col("doc_id") >= 20)
        .join(contaminated.withColumn("contaminated", lit(true)),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"))
        .orderBy("doc_id")
    },

    // Bigram collocation mining: top-20 adjacent-word pairs by
    // pointwise-mutual-information LIFT — n_ab·N / (n_a·n_b), the
    // PMI without the log. Same top-20 as PMI (log is monotone), but
    // every score is two correctly-rounded IEEE ops on exact integer
    // counts, so the ranking is bit-identical in the oracle, where
    // log-PMI's 1-ulp ln() could flip mathematically-tied ranks.
    // Shape: ONE corpus scan feeds the bigram pair-agg (map-side
    // partials on the pair key, min-count pruned right at the agg),
    // the unigram agg is vocab-sized, and both lookup joins hash on a
    // single-token key against vocab-sized sides — AQE broadcasts
    // them when vocab allows. The token-total N is a 1-row aggregate
    // (bounded driver work, same pattern as the corpus-size probes).
    "collocations_topk" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(TextAnalysis.tokens(lower(col("text"))).as("toks"))
      // corpus token total rides the plan as a broadcast 1-row
      // crossJoin (the mixture_sample shape) — no driver .head
      // serializing an extra job into query CONSTRUCTION
      val total = d.agg(sum(size(col("toks"))).as("n_total"))
      val uni = d.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      val pairs = d.filter(size(col("toks")) >= 2)
        .select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      pairs
        .join(uni.select(col("w").as("w1"), col("n").as("n_a")), "w1")
        .join(uni.select(col("w").as("w2"), col("n").as("n_b")), "w2")
        .crossJoin(broadcast(total))
        .withColumn("lift",
          (col("n_ab").cast("double") * col("n_total").cast("double")) /
            (col("n_a").cast("double") * col("n_b")))
        .select("w1", "w2", "n_ab", "n_a", "n_b", "lift")
        .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
        .limit(20)
    },

    // Contamination REPORT: for each contaminated doc, how many of its
    // distinct shingles appear in the benchmark set and the overlap
    // fraction — the evidence a decontamination threshold (e.g. the
    // PaLM-style "≥70% 8-gram overlap" rule) is actually set from,
    // where `decontaminate` only gives the boolean. Shape: the same
    // broadcast semi-join as decontaminate feeds a doc_id partial-agg
    // overlap count; the per-doc totals are a pure projection of the
    // same scan, and the final inner join's overlap side is only the
    // CONTAMINATED docs (tiny), so AQE broadcasts it — no corpus-sized
    // exchange anywhere. overlap_frac is one long÷long IEEE division,
    // bit-identical in the oracle.
    "contamination_overlap" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val shingles = graft.functions.TextShingles.distinctShingles(3)
      val bench = broadcast(d.filter(col("doc_id") < 20)
        .select(explode(shingles(col("text"))).as("sh")).distinct())
      val corpusSh = d.filter(col("doc_id") >= 20)
        .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
      val totals = d.filter(col("doc_id") >= 20)
        .select(col("doc_id"), size(shingles(col("text"))).as("n_shingles"))
      val overlap = corpusSh.join(bench, "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      totals.join(overlap, Seq("doc_id"))
        .withColumn("overlap_frac", col("n_overlap") / col("n_shingles"))
        .select("doc_id", "n_shingles", "n_overlap", "overlap_frac")
        .orderBy("doc_id")
    },

    // Stratified hash sampling — corpus rebalancing (downsample the
    // over-represented stratum, keep the rest): per-stratum keep-rates
    // applied through the SAME seeded md5 bucket as train_split, so
    // sampling is deterministic, reproducible, independent of both row
    // order and corpus growth, and a pure per-row projection+filter (no
    // shuffle, no RNG state). 256 hex buckets give rate granularity
    // 1/256; 'en' keeps ~25% ('40'/256), every other lang keeps all.
    "sample_stratified" -> { (s, dir) =>
      val bucket = substring(
        md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 2)
      Tables.documents(s, dir)
        .filter(when(col("lang") === "en", bucket < "40")
          .otherwise(lit(true)))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },

    // Vocabulary DRIFT between two corpus snapshots (first vs second
    // half by doc_id — stand-ins for last week's crawl vs this
    // week's): per-token chi-square contribution, top-20 — the
    // distribution-shift monitor a continuously-ingesting pipeline
    // alarms on. One scan feeds a single (token, half) aggregate
    // (map-side partials); the per-half totals are a 2-row aggregate
    // OVER the vocab-sized output broadcast back, so the corpus is
    // never re-scanned and the chi-square math runs on the vocab
    // table. Scores are chains of correctly-rounded IEEE ops on exact
    // integer counts in pinned order — bit-identical in the oracle
    // (same reason tfidf/collocations avoid ln). Min-count floor
    // keeps hapax noise out of the top-20.
    "vocab_drift" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      // the corpus midpoint joins the plan as a broadcast 1-row
      // crossJoin instead of a build-time driver .head (mixture_sample
      // shape) — one declarative plan, no extra serialized job
      val halfDf = d.agg((max("doc_id") / 2).cast("long").as("_half"))
      val counts = d.crossJoin(broadcast(halfDf))
        .select(when(col("doc_id") <= col("_half"), lit("a"))
            .otherwise(lit("b")).as("half"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy("token").agg(
          sum(when(col("half") === "a", 1L).otherwise(0L)).as("c1"),
          sum(when(col("half") === "b", 1L).otherwise(0L)).as("c2"))
        .filter(col("c1") + col("c2") >= 20)
      val totals = counts
        .agg(sum("c1").as("n1"), sum("c2").as("n2"))
      counts.crossJoin(broadcast(totals))
        .withColumn("e1",
          ((col("c1") + col("c2")).cast("double") * col("n1")) /
            (col("n1") + col("n2")))
        .withColumn("e2",
          ((col("c1") + col("c2")).cast("double") * col("n2")) /
            (col("n1") + col("n2")))
        .withColumn("chi2",
          ((col("c1") - col("e1")) * (col("c1") - col("e1"))) / col("e1") +
            ((col("c2") - col("e2")) * (col("c2") - col("e2"))) / col("e2"))
        .select("token", "c1", "c2", "chi2")
        .orderBy(col("chi2").desc, col("token").asc)
        .limit(20)
    },

    // Mixture rebalancing to a token BUDGET — the data-mixing step of
    // a corpus build (cap each over-represented source at a budget;
    // DoReMi-style static mixtures are exactly this with other
    // weights). Budget is data-derived (half the per-source average,
    // so the regime is scale-invariant); each source's keep-rate is
    // total/(2·n_src·tok_s), and acceptance is the SAME seeded-md5
    // uniform as train_split — deterministic, row-order independent,
    // and a doc's fate never changes when other docs arrive. Plan:
    // per-source token totals are a source-cardinality aggregate, the
    // 1-row global rides a broadcast crossJoin (no driver collect),
    // rates join back broadcast, and the accept test is a per-row
    // projection — the only exchanges are source-sized. Keep-rate
    // comparisons are correctly-rounded IEEE ops on identical
    // operands in identical order, so Spark and the oracle agree
    // exactly (no log, no RNG).
    "mixture_sample" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("toks"))
      val bySource = d.groupBy("source").agg(sum("toks").as("tok_s"))
      val global = bySource
        .agg(sum("tok_s").as("total"), count(lit(1)).as("n_src"))
      val rates = bySource.crossJoin(broadcast(global))
        .select(col("source"),
          (col("total").cast("double") /
            (col("n_src") * lit(2) * col("tok_s"))).as("rate"))
      val u = conv(substring(
          md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long") / lit(4294967296.0)
      d.join(broadcast(rates), "source")
        .filter(u < col("rate"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs_kept"), sum("toks").as("tokens_kept"))
        .orderBy("source")
    },

    // End-to-end training-corpus composition — the whole pipeline a
    // corpus build runs, as ONE declarative plan Catalyst optimizes
    // together: exact-dedup survivors (planted copies collapse) →
    // token-count quality gate → deterministic md5 split →
    // per-(split, lang) counts. Pins that the operators COMPOSE, not
    // just work in isolation.
    "corpus_pipeline" -> { (s, dir) =>
      val corpus = withCopy(Tables.documents(s, dir), "doc_id", "text",
        "lang")
      val keep = Dedup.exact(corpus, col("doc_id"),
          TextAnalysis.fingerprint(col("text")))
        .select(col("keep_id").as("doc_id"))
      val bucket = substring(
        md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)
      corpus.join(keep, "doc_id")
        .filter(TextAnalysis.tokenCount(col("text")) >= 10)
        .select(col("lang"),
          when(bucket < "cc", lit("train"))
            .when(bucket < "e6", lit("val"))
            .otherwise(lit("test")).as("split"))
        .groupBy("split", "lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("split", "lang")
    },

    // The write side of the pipeline under the oracle gate: survivors
    // (exact-dedup + length gate, token counts precomputed) go through
    // CorpusWriter.writePartitioned — lang-partitioned directories,
    // doc_id-sorted files, salted 2-way write parallelism per lang —
    // and the REGISTERED result is the RE-READ with a partition
    // predicate (lang) + range predicate (doc_id). The oracle computes
    // the same rows straight from `documents`, so a hash match proves
    // the write→read round trip is value-preserving; CorpusWriterSpec
    // asserts this query's scan prunes at planning time
    // (PartitionFilters) and pushes the range (PushedFilters) — layout
    // AND fidelity, one query.
    "corpus_write_read" -> { (s, dir) =>
      val corpus = withCopy(Tables.documents(s, dir), "doc_id", "text",
        "lang")
      val keep = Dedup.exact(corpus, col("doc_id"),
          TextAnalysis.fingerprint(col("text")))
        .select(col("keep_id").as("doc_id"))
      val survivors = corpus.join(keep, "doc_id")
        .filter(TextAnalysis.tokenCount(col("text")) >= 10)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val path = corpusExportPath(dir)
      graft.sinks.CorpusWriter.writePartitioned(survivors, path,
        partitionCol = "lang", sortCols = Seq("doc_id"),
        filesPerPartition = 2)
      s.read.parquet(path)
        .filter(col("lang") === "en" &&
          col("doc_id").between(100L, 100000L))
        .select("doc_id", "lang", "n_tokens")
        .orderBy("doc_id")
    },

    // PII scrubbing: deterministic synthetic PII (emails/phones on
    // doc_id%5, URLs/IPs on doc_id%7 — the raw corpus has none) is
    // injected IDENTICALLY on both sides, then redacted through the
    // shared TextAnalysis.PiiPatterns chain. Pure per-row codegen'd
    // regexp pass, no shuffle; the oracle re-runs the same patterns in
    // RE2 (the list is restricted to the Java∩RE2-identical subset)
    // and the md5 of the full redacted text pins every replacement
    // byte-for-byte.
    "text_redact" -> { (s, dir) =>
      val idS = col("doc_id").cast("string")
      val withPii = concat(col("text"),
        when(col("doc_id") % 5 === 0, concat(
          lit(" reach me at user"), idS, lit("@example.com or +1555"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, concat(
          lit(" docs at https://example.org/d/"), idS,
          lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".17"))).otherwise(lit(""))).as("t")
      val red = TextAnalysis.redactPii(withPii)
      val tokCounts = TextAnalysis.PiiPatterns.map { case (name, _, tok) =>
        regexp_count(red, lit(tok)).as(s"n_${name}s")
      }
      Tables.documents(s, dir).select(
          Seq(col("doc_id"), md5(red.cast("binary")).as("redacted_fp"),
            length(red).as("n_chars_redacted")) ++ tokCounts: _*)
        .orderBy("doc_id")
    },

    // Exact per-source token-length quantiles (p50/p90/p99), SQL
    // percentile_disc definition (smallest value at cumulative rank ≥
    // ceil(p·n) — all-integer output, so cross-engine exact). Shape for
    // 100 TB: aggregate a (source, tokens) HISTOGRAM first (partial-agg
    // shuffle; output ∝ #sources × #distinct lengths, tiny), then run
    // the cumulative window on the histogram — never a corpus-wide
    // per-group sort, which is how a naive percentile over raw rows
    // would execute. The oracle is DuckDB's native quantile_disc
    // (probed: same ceil(p·n) indexing, including FP boundaries).
    "corpus_quantiles" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val hist = Tables.documents(s, dir)
        .groupBy(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tokens"))
        .agg(count(lit(1)).as("cnt"))
      val cum = sum("cnt").over(
        Window.partitionBy("source").orderBy("tokens"))
      val tot = sum("cnt").over(Window.partitionBy("source"))
      val ranked = hist.select(col("source"), col("tokens"),
        cum.as("cum"), tot.as("n"))
      def qd(p: Double) =
        min(when(col("cum") >= ceil(lit(p) * col("n")), col("tokens")))
      ranked.groupBy("source")
        .agg(qd(0.5).as("p50_tokens"), qd(0.9).as("p90_tokens"),
          qd(0.99).as("p99_tokens"))
        .orderBy("source")
    },

    // Percentile-based length outlier trim — the corpus-cleaning cut
    // ("drop the shortest 5% and longest 5%") with EXACT corpus-wide
    // thresholds, reported per source. Same histogram trick as
    // corpus_quantiles: the cumulative window runs over the
    // TOKEN-COUNT HISTOGRAM, never a corpus-wide sort. BOUNDEDNESS
    // PIN (r22 verdict #7 adjudication): the frame's cardinality is
    // distinct PER-DOC TOKEN COUNTS — bounded by the longest document
    // (≤ ~10⁶ distinct values for any real corpus, since every
    // pipeline caps doc length), NOT by corpus row count, so the
    // single-partition window does not grow with corpus size and the
    // two-pass [[graft.operators.Cumulative.rangeCumSum]] rewrite
    // (applied to the genuinely-growing frames: heaps_law's bucket
    // curve, session_stats' µs-grain span histogram) measured pure
    // overhead here (1.6× the row, min-of-4 A/B at sf0.1). The 1-row
    // threshold pair broadcasts back over the per-row classification,
    // so the corpus pays one histogram partial-agg + one classify
    // scan.
    "length_outliers" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select(col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("tokens"))
      val hist = d.groupBy("tokens").agg(count(lit(1)).as("cnt"))
      // no partition key: the histogram has one row per distinct
      // token count, a bounded frame evaluated in one task
      val ranked = hist.select(col("tokens"),
        sum("cnt").over(Window.orderBy("tokens")).as("cum"),
        sum("cnt").over().as("n"))
      def qd(p: Double) =
        min(when(col("cum") >= ceil(lit(p) * col("n")), col("tokens")))
      val th = ranked.agg(qd(0.05).as("lo"), qd(0.95).as("hi"))
      d.crossJoin(broadcast(th))
        .groupBy("source").agg(
          sum(when(col("tokens") < col("lo"), 1L).otherwise(0L))
            .as("n_short"),
          sum(when(col("tokens") > col("hi"), 1L).otherwise(0L))
            .as("n_long"),
          sum(when(col("tokens").between(col("lo"), col("hi")), 1L)
            .otherwise(0L)).as("n_kept"))
        .orderBy("source")
    },

    // Corpus analytics: per-source integer rollups (one partial-agg
    // shuffle; all-int outputs are engine-deterministic).
    "corpus_stats" -> { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("source")
    },

    // Sequence packing — the pretraining step that concatenates docs
    // into fixed-token-budget training sequences (the concatenate-and-
    // chop formulation every causal-LM data loader uses; a doc whose
    // start offset lands in chunk k belongs to sequence k). Packing is
    // made embarrassingly parallel by salting docs into md5 buckets:
    // ONE hash exchange on bucket, then a partition-local running sum
    // (UNBOUNDED PRECEDING frame streams — WindowExec never buffers
    // the whole bucket) assigns offsets, and seq_id is integer
    // division. At 100 TB the bucket count is the parallelism knob
    // (set ≈ cluster cores); determinism is by construction (md5
    // bucket + doc_id order), so re-runs and the oracle agree exactly.
    "pack_sequences" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
        .withColumn("bucket",
          pmod(conv(substring(md5(concat(lit("pack:"),
            col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(32L)))
      val w = Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("off", sum("toks").over(w) - col("toks"))
        .withColumn("seq_id", expr("off div 256"))
        .groupBy("bucket", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
        .orderBy("bucket", "seq_id")
    },

    // Deterministic sharded EPOCH SHUFFLE — the global training-order
    // permutation every data loader needs: a training run must visit
    // docs in a different, reproducible random order each epoch,
    // and at 100 TB "shuffle the corpus" cannot be a global sort.
    // The scalable shape: hash every doc with an epoch-seeded md5
    // ("shuf:e1|" — epoch 2 re-seeds to a fresh independent
    // permutation, and re-running epoch 1 replays it exactly, which
    // is what makes a crashed run resumable mid-epoch), route it to
    // shard = hash mod N (one exchange), and order WITHIN each shard
    // by the same hash — the loader then reads shards in index order
    // and each shard's file in position order, and the concatenation
    // is a uniform permutation of the corpus. Per-shard sort is
    // corpus/N rows; in production N is set so a shard ≈ one output
    // file (1-4 GB), so every sort is executor-sized and all N run in
    // parallel — the same reason pack_sequences buckets first. Here
    // N=8 at CORRECTNESS scale.
    "epoch_shuffle" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("hx",
          md5(concat(lit("shuf:e1|"), col("doc_id").cast("string"))))
        .withColumn("shard",
          pmod(conv(substring(col("hx"), 1, 8), 16, 10).cast("long"),
            lit(8L)).cast("int"))
      d.withColumn("pos", row_number().over(
          Window.partitionBy("shard").orderBy(col("hx"), col("doc_id"))))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    },

    // Epoch-based upsampling — the other half of data mixing (see
    // mixture_sample for the downsampling half): low-resource sources
    // are repeated to approach the LARGEST source's token count, with
    // the epoch factor capped at 4 (the empirical "repeating data
    // beyond ~4 epochs stops helping" rule). Every doc gets
    // floor(factor) full copies plus one more with probability
    // frac(factor) via the same seeded-md5 uniform as train_split —
    // deterministic and row-order independent. Plan: the factor table
    // is source-cardinality (broadcast back), the blow-up happens
    // per-row via explode(sequence(...)) — no shuffle grows with the
    // upsampled volume except the final source×epoch-sized aggregate.
    "mixture_upsample" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
      val bySource = d.groupBy("source").agg(sum("toks").as("tok_s"))
      val target = bySource.agg(max("tok_s").as("target"))
      val factors = bySource.crossJoin(broadcast(target))
        .select(col("source"),
          least(col("target").cast("double") / col("tok_s"), lit(4.0))
            .as("factor"))
      val u = conv(substring(
          md5(concat(lit("epoch:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long") / lit(4294967296.0)
      d.join(broadcast(factors), "source")
        .withColumn("copies", (floor(col("factor")) +
          when(u < col("factor") - floor(col("factor")), 1L).otherwise(0L))
          .cast("int"))
        .select(col("source"), col("toks"),
          explode(sequence(lit(1), col("copies"))).as("epoch"))
        .groupBy("source", "epoch")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"))
        .orderBy("source", "epoch")
    },

    // Per-language ADAPTIVE quality threshold — a single global length
    // cutoff (length_outliers) over-filters terse languages and
    // under-filters verbose ones, so real corpus builds (CCNet-style)
    // set the cutoff per language. Same exact-histogram trick as
    // corpus_quantiles, but the window is PARTITIONed by lang: the
    // histogram is (lang × distinct-length)-sized however big the
    // corpus, the per-lang 10th percentile comes from a running sum
    // over it, and the cutoffs join back broadcast. The oracle mirrors
    // the cum >= ceil(p·n) formulation literally, so the boundary
    // convention is identical by construction.
    "adaptive_quality" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select(col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("tokens"))
      val hist = d.groupBy("lang", "tokens").agg(count(lit(1)).as("cnt"))
      val byLang = Window.partitionBy("lang")
      val ranked = hist.select(col("lang"), col("tokens"),
        sum("cnt").over(byLang.orderBy("tokens")).as("cum"),
        sum("cnt").over(byLang.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("n"))
      val th = ranked.groupBy("lang").agg(
        min(when(col("cum") >= ceil(lit(0.10) * col("n")), col("tokens")))
          .as("cutoff"))
      d.join(broadcast(th), "lang")
        .groupBy("lang").agg(
          max(col("cutoff")).as("cutoff"),
          sum(when(col("tokens") >= col("cutoff"), 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("tokens") < col("cutoff"), 1L).otherwise(0L))
            .as("n_dropped"))
        .orderBy("lang")
    },

    // Tokenizer-training prep: the first BPE merge scan — adjacent
    // character-pair frequencies over the word stream. One corpus
    // scan exploding each word into its (len−1) 2-char windows, then
    // a two-stage partial agg whose shuffle carries per-PAIR partials:
    // the pair alphabet is bounded by charset² (≤ a few thousand keys
    // for any natural-language corpus), so the exchange is constant-
    // sized at 100 TB and the top-50 cut sorts only that tiny
    // aggregate. (count desc, pair asc) total order makes the cut
    // deterministic across engines.
    "bpe_pair_counts" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(50)
    },

    // BPE tokenizer training — the actual MERGE LOOP, not just the
    // first-scan diagnostic (bpe_pair_counts): five rounds of
    //   count adjacent symbol pairs → pick the (count desc, pair asc)
    //   best → greedily apply it to the whole token stream → recount.
    // This is what a tokenizer build runs; the output is the merge
    // table's first five entries with their selection-time counts.
    //
    // Scale shape (r15): training runs on the word-TYPE HISTOGRAM —
    // one Spark aggregate (Heaps-law-bounded, never corpus-bounded)
    // plus a driver-side replay of the exact sequential loop
    // (Bpe.trainOnHistogram — the way real tokenizer trainers run
    // it), replacing the former 50-job per-round corpus walk. The
    // merge table is IDENTICAL by construction (pair counts over the
    // corpus = Σ type count · pairs-in-word; BpeVocabSpec pins
    // equality against the retained distributed loop AND the
    // ≤-a-few-jobs cost). bpeLearnedMergesDistributed keeps the
    // per-round vocab-bounded-exchange walk for corpora whose type
    // table outgrows the driver.
    //
    // The DuckDB oracle replays the identical loop as five chained
    // CTE layers: same pair rendering ('a b'), same tie-break, and
    // merge application via left-to-right replace over a
    // double-space-wrapped symbol string — greedy leftmost
    // non-overlap, exactly functions.Bpe.mergePair's semantics.
    "bpe_merges" -> { (s, dir) =>
      import s.implicits._
      bpeLearnedMerges(s, dir, nRounds = 5)
        .toDF("round", "pair", "n").orderBy("round")
    },

    // BPE to a VOCAB TARGET — the same deterministic merge loop run
    // to a 50-merge budget (r13's "demonstrator → trainer" step): a
    // real tokenizer build runs until the vocab hits a target size,
    // and this is that loop with the merge table as the memoized
    // train-once artifact bpe_encode / bpe_fertility apply. Scale
    // shape is bpe_merges' (one histogram aggregate + driver replay —
    // 50 rounds cost the same single job as 5); the memo
    // shares the table across all three queries, so a process trains
    // once. The DuckDB oracle independently replays ALL 50 rounds as
    // materialized chained CTE layers — every selection (pair AND its
    // selection-time count) is pinned, not just the first five.
    // BpeVocabSpec additionally pins prefix-stability (the 50-round
    // table's first 5 rows equal the independent 5-round run) and the
    // one-new-symbol-per-round vocab-growth law.
    "bpe_merges50" -> { (s, dir) =>
      import s.implicits._
      bpeLearnedMerges(s, dir, nRounds = BpeVocabRounds)
        .toDF("round", "pair", "n").orderBy("round")
    },

    // BPE COMPRESSION CURVE — the diagnostic that PICKS the vocab
    // target: corpus-level symbols-per-char at merge-count
    // checkpoints 5/10/25/50 (what a tokenizer designer plots before
    // committing to a vocab size — returns diminish as the merge
    // table grows). One memoized 50-round learn feeds all four
    // checkpoints; each applies its PREFIX of the merge table in one
    // compiled pass (prefix-stability is exactly BpeVocabSpec's
    // pinned law), then a 1-row corpus aggregate per checkpoint,
    // unioned. The DuckDB oracle reads the SAME materialized layer
    // chain the bpe_merges50 oracle builds — w5/w10/w25/w50 are
    // intermediate CTEs there, so the curve costs the oracle nothing
    // new.
    "bpe_compression_curve" -> { (s, dir) =>
      val learned = learnedPairs(s, dir)
      val words = bpeInitialWords(s, dir)
      Seq(5, 10, 25, 50).map { k =>
        words.select(applyMerges(learned.take(k))(col("syms")).as("syms"))
          .agg(lit(k).as("merges"),
            count(lit(1)).as("n_words"),
            sum(expr("length(concat_ws('', syms))").cast("long"))
              .as("n_chars"),
            sum(size(col("syms")).cast("long")).as("n_syms"))
          .withColumn("compression_1e3",
            expr("n_syms * 1000 div n_chars"))
      }.reduce(_ unionByName _).orderBy("merges")
    },

    // ENCODE with the trained tokenizer — the other half of a BPE
    // build: apply the learned merge table to the corpus and report,
    // per document, how many words / characters went in and how many
    // symbols came out (the compression a tokenizer buys is THE
    // acceptance metric for a merge table). Training is shared with
    // bpe_merges via the process-wide memo (train-once/apply-many —
    // the production shape); application is a single compiled kernel
    // pass folding all 50 learned merges IN LEARNED ORDER over each word
    // (greedy leftmost per merge, exactly the training-loop
    // semantics), then one doc-keyed aggregate. Scale shape: encode
    // is one narrow map over the corpus plus one partial-agg shuffle
    // on doc_id — no joins, nothing vocab-sized shipped anywhere.
    // The DuckDB oracle re-learns the same 50 merges as chained CTE
    // layers (same tie-break, same double-space replace trick as the
    // bpe_merges oracle) with doc_id threaded through every layer,
    // then aggregates w50 identically.
    "bpe_encode" -> { (s, dir) =>
      val applyAll = applyMerges(learnedPairs(s, dir))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(col("doc_id"), applyAll(charSyms).as("syms"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_words"),
          sum(expr("length(concat_ws('', syms))").cast("long"))
            .as("n_chars"),
          sum(size(col("syms")).cast("long")).as("n_syms"))
        .withColumn("compression",
          col("n_syms").cast("double") / col("n_chars"))
        .orderBy("doc_id")
    },

    // Tokenizer FERTILITY by language — the tokenizer-equity metric
    // (symbols per word, milli-units): a merge table learned on the
    // whole (en-dominated) corpus compresses high-resource languages
    // better, and this report is where that inequity becomes a
    // number a mixture designer reacts to. Same memoized learned
    // merges as bpe_encode (train once, apply many), rolled up per
    // language in exact integers — language-cardinality output from
    // one encode scan.
    "bpe_fertility" -> { (s, dir) =>
      val applyAll = applyMerges(learnedPairs(s, dir))
      Tables.documents(s, dir)
        .select(col("lang"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(col("lang"), applyAll(charSyms).as("syms"))
        .groupBy("lang").agg(
          count(lit(1)).as("n_words"),
          sum(expr("length(concat_ws('', syms))").cast("long"))
            .as("n_chars"),
          sum(size(col("syms")).cast("long")).as("n_syms"))
        .withColumn("fertility_1e3",
          expr("n_syms * 1000 div n_words"))
        .withColumn("compression_1e3",
          expr("n_syms * 1000 div n_chars"))
        .orderBy("lang")
    },

    // Vocabulary frequency-of-frequencies (the Zipf/Good-Turing
    // diagnostic tokenizer builds read before picking a vocab size):
    // how many distinct tokens occur exactly f times. Two cascaded
    // aggregates — corpus-token → vocab-sized, vocab → distinct-
    // frequency-sized — so each exchange shrinks by orders of
    // magnitude; the output is ~hundreds of rows at any corpus scale.
    "vocab_fof" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text"))))
          .as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .groupBy("freq").agg(count(lit(1)).as("n_tokens"))
        .orderBy("freq")
    },

    // Near-dup CLUSTER diagnostics — the report a pipeline operator
    // reads before committing a collapse: per-cluster member count,
    // id span and total bytes about to be deleted. Reuses the simhash
    // pair → connected-components path (same contract as
    // dedup_components), then one cluster-keyed aggregate over the
    // component table — components are pair-bounded, so every shape
    // here is ∝ duplicates, never ∝ corpus².
    "dedup_cluster_report" -> { (s, dir) =>
      val docs = withCopies(s, dir)
      simhashComponents(docs).join(docs.select(col("doc_id").as("id"),
          length(col("text")).cast("long").as("chars")), "id")
        .groupBy("canonical").agg(
          count(lit(1)).as("size"),
          max(col("id")).as("max_id"),
          sum(col("chars")).as("total_chars"))
        .orderBy("canonical")
    },

    // Per-document duplicated-span report (the ExactSubstr-style
    // metric): for each doc, how many of its distinct word-8-gram
    // spans also appear in another document. Corpus = documents plus
    // a re-crawl of the modulo-selected 40% tail (doc_id % 5 ≥ 3 —
    // SF-invariant, no size probe), so the report mixes fully-
    // duplicated docs, clean docs and natural collisions. Spans are
    // md5-keyed: the distinct + doc-frequency agg shuffle on a
    // 32-byte hash instead of an 8-word string, and every stage is
    // linear in corpus grams (the doc-freq pattern — no pairwise
    // expansion anywhere). n_spans and n_dup are SEPARATE doc-keyed
    // aggregates stitched by a left join: joining every gram against
    // the full frequency table just to count the dup subset would put
    // the whole gram stream through a second corpus-scale exchange —
    // restructuring to the filtered dup-set semi-join measured 4×
    // cheaper at sf0.1 and is the same shape dedup_span_trim uses.
    "dup_span_report" -> { (s, dir) =>
      // r22 (verdict item 8, from the stage profile): the corpus-wide
      // `(doc_id, g)` DISTINCT exchange — not the compiled gram kernel
      // — owned this row's full-materialization time (its 3 plan
      // references each re-ran the distinct's final aggregate). doc_id
      // is UNIQUE in `all`, so (doc_id, g) duplicates only arise
      // WITHIN a document, and a per-row `array_distinct` over the
      // kernel output IS the global distinct — the r21 change-1
      // per-doc-dedup argument (per-doc dedup cannot change a
      // cross-doc distinct) applied to the span family. n_spans is
      // then a pure per-row array size (no aggregate, no exchange at
      // all), and the only corpus-scale exchange left is the doc-freq
      // aggregate on `g`.
      val base = spanBase(s, dir).filter(size(col("toks")) >= 8)
        .select(col("doc_id"), array_distinct(spanGrams).as("gs"))
      val grams = base.select(col("doc_id"), explode(col("gs")).as("g"))
      val dupSet = dupSpans(grams)
      val nSpans = base.select(col("doc_id"),
        size(col("gs")).cast("long").as("n_spans"))
      val nDup = grams.join(dupSet, "g").groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup"))
      nSpans.join(nDup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"))
        .orderBy("doc_id")
    },

    // MOSS-style overlap detection: candidate pairs from shared
    // WINNOWING fingerprints (Schleimer et al.'s positional sampling —
    // a different recall guarantee than simhash bands or minhash
    // bands: any shared substring of length ≥ k+w−1 chars is
    // guaranteed to surface at least one shared fingerprint). The
    // bucket-join rides the same doc-freq cap as dedup_ngram_jaccard
    // (hot fingerprints — boilerplate — are excluded at 2..50 docs),
    // so bucket expansion is cap-bounded and the pair aggregate is
    // ∝ genuine collisions, never corpus². Pairs must share ≥ 10
    // sampled fingerprints, which at w=8 certifies substantial
    // verbatim overlap, not a lucky hash.
    //
    // Known failure mode (documented, measured at sf1 — SCALE.md
    // round 12): on LOW-ENTROPY text whose char-8-gram contexts are
    // all corpus-common, every fingerprint exceeds the cap and recall
    // drops to zero — the cap is then correctly reporting "this text
    // is all boilerplate", which is winnowing's published behavior,
    // and the word-shingle families (minhash/ngram-jaccard) are the
    // right tool. The flip side, also measured: a sub-corpus's pair
    // set is INVARIANT under 10× growth of unrelated surrounding
    // corpus (sf1 copy 0 reproduces the sf0.1 output bit-for-bit),
    // because foreign fingerprints never enter its buckets.
    "winnow_overlap_pairs" -> { (s, dir) =>
      val docs = withCopies(s, dir)
      val fps = docs.filter(length(col("text")) >= 8)
        .select(col("doc_id"), explode(graft.functions.TextShingles
          .winnowedFingerprints(k = 8, w = 8)(col("text"))).as("fp"))
      // r21: occupancy-banded bucket expansion (Dedup.bucketPairCounts)
      // replaces the aggregate + join-back + fp-keyed self-join —
      // identical pair counts (see the operator's equivalence note),
      // one evaluation of the fingerprint stream instead of two.
      Dedup.bucketPairCounts(fps, col("doc_id"), col("fp"),
          minDf = 2, maxDf = 50)
        .filter(col("n_shared") >= 10)
        .orderBy("id_a", "id_b")
    },

    // WORD-shingle winnowing overlap — the companion for the regime
    // the char-8-gram variant measurably saturates in (SCALE.md
    // round 12: suffix-templated text makes every char gram
    // corpus-common, the doc-freq cap then prunes everything and
    // recall drops to zero — and the cap-probe showed no cap value
    // fixes it). Word-3-shingle hashes keep whole words as context,
    // so a fingerprint is corpus-common only when a word SEQUENCE is —
    // the same trade the survey prices for minhash, at winnowing's
    // positional-sampling recall guarantee (any shared run of
    // ≥ 3+8−1 = 10 words surfaces a shared fingerprint). Same
    // doc-freq-capped bucket join as the char variant: bucket
    // expansion stays cap-bounded, pair aggregate ∝ collisions.
    "winnow_overlap_words" -> { (s, dir) =>
      val docs = withCopies(s, dir)
      val fps = docs
        .select(col("doc_id"), explode(graft.functions.TextShingles
          .winnowedWordFingerprints(shingleN = 3, w = 8)(col("text")))
          .as("fp"))
      // r21: same bucket-expansion rewrite as winnow_overlap_pairs.
      Dedup.bucketPairCounts(fps, col("doc_id"), col("fp"),
          minDf = 2, maxDf = 50)
        .filter(col("n_shared") >= 5)
        .orderBy("id_a", "id_b")
    },

    // Survivor selection with a QUALITY policy — production dedup
    // keeps the best cluster member (longest text here; in practice a
    // quality score), not the smallest id. Same pair → components
    // closure as dedup_survivors; the keeper is a max_by over
    // struct(chars, -id) — a partial-aggregable shape (map-side
    // max_by partials, one component-keyed exchange), deliberately
    // NOT a row_number window, which would sort every component's
    // members inside one partition. Tie on equal length breaks to the
    // smaller id, so planted exact copies keep the original. The
    // anti-join stays strategy-neutral like dedup_survivors.
    "dedup_survivors_quality" -> { (s, dir) =>
      val docs = withCopies(s, dir)
      val member = simhashComponents(docs).join(
        docs.select(col("doc_id").as("id"),
          length(col("text")).cast("long").as("chars")), "id")
      val best = member.groupBy("canonical")
        .agg(expr("max_by(id, struct(chars, -id))").as("keep_id"))
      val dropped = member.join(best, "canonical")
        .filter(col("id") =!= col("keep_id"))
        .select(col("id").as("doc_id"))
      docs.select("doc_id")
        .join(dropped, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },

    // WHICH TRIM TO USE (the span family's policy choice — a curation
    // pipeline picks exactly ONE per corpus): `dedup_span_trim`
    // removes a duplicated span from EVERY carrier — the right policy
    // when duplicated text is itself unwanted (boilerplate, license
    // headers, navigation chrome): no copy survives, at the price of
    // deleting one "legitimate" occurrence too. `cross_doc_span_trim`
    // keeps each span's single best-quality home intact and trims the
    // rest — the Lee et al. ExactSubstr policy for ordinary content
    // duplication, where the model should still see the text ONCE.
    // Rule of thumb: trim-everywhere for spans you'd blocklist,
    // keep-one-owner for spans you'd dedup. Running both in sequence
    // double-trims and is never what you want.
    //
    // The ExactSubstr-style dedup ACTION the span report only counts:
    // REMOVE every token covered by a cross-document duplicated
    // word-8-gram and emit the trimmed doc (verified as an md5 over
    // the surviving tokens in position order). Pipeline: 8-gram
    // OCCURRENCES with positions (md5-keyed) → cross-doc duplicated
    // gram set (per-doc-distinct + doc-freq agg, the same linear
    // pattern as dup_span_report) → semi-join occurrences back →
    // covered positions (explode i..i+7, doc-keyed distinct) →
    // anti-join against the (doc, position, token) stream → per-doc
    // ordered reassembly. Every exchange keys on a hash or doc_id —
    // linear in corpus grams; the per-doc collect is bounded by doc
    // length (the same bound any whole-doc op carries). Docs shorter
    // than 8 tokens and fully-duplicated docs both round-trip: the
    // left join restores them with n_removed = 0 / = n_tokens.
    "dedup_span_trim" -> { (s, dir) =>
      val base = spanBase(s, dir)
      val occ = base.filter(size(col("toks")) >= 8)
        .select(col("doc_id"), posexplode(spanGrams))
        .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("g"))
      // r22 (verdict item 8): the doc-frequency input dedups PER ROW
      // (array_distinct over the kernel output — doc_id is unique, so
      // per-doc dedup IS the (doc_id, g) distinct) instead of pushing
      // the corpus-gram stream through a distinct exchange; the
      // second kernel pass this costs is the measured-cheaper side of
      // the trade (the dup_span_report stage profile in SCALE.md).
      val dupg = dupSpans(base.filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(array_distinct(spanGrams)).as("g")))
      val cov = occ.join(dupg, "g")
        .select(col("doc_id"), explode(expr("sequence(i, i + 7)")).as("p"))
        .distinct()
      val toksPos = base
        .select(col("doc_id"), posexplode(col("toks")))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("tok"))
      val agg = toksPos.join(cov, Seq("doc_id", "p"), "left_anti")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_kept"),
          expr("md5(array_join(transform(" +
            "array_sort(collect_list(struct(p, tok))), x -> x.tok), ' '))")
            .as("trimmed_fp"))
      base.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
            .as("n_removed"),
          coalesce(col("trimmed_fp"), md5(lit(""))).as("trimmed_fp"))
        .orderBy("doc_id")
    },

    // Cross-document span EXTENTS trimmed from the LOWER-QUALITY
    // member — the "Deduplicating Training Data Makes Language Models
    // Better" (Lee et al., 2021) ExactSubstr shape, completing the
    // span family: dup_span_report COUNTS duplicated grams,
    // dedup_span_trim removes them from EVERY carrier; this query
    // keeps each duplicated span's single BEST home intact and emits
    // the maximal removed extents everywhere else. Per duplicated
    // word-8-gram the OWNER is the highest-quality containing doc
    // (most tokens, tie → smaller id — so planted re-crawl copies
    // always lose to their originals); non-owner gram hits merge into
    // maximal extents as INTERVALS ([i, i+7] runs coalesce while the
    // next start is ≤ running-max-end + 1 — a lag-max window over the
    // HITS, never an 8× position explode; coverage inside a merged
    // run is contiguous by construction, so span_len = end − start + 1
    // and every extent is ≥ 8 tokens). The DuckDB oracle derives the
    // same extents through the genuinely different position-islands
    // algorithm (explode covered positions, p − row_number groups) —
    // two algorithms, one answer. Shape: occurrences and the owner
    // aggregate are linear in corpus grams (md5-keyed exchanges,
    // max_by partials — no pairwise text comparison anywhere), and
    // the interval windows partition per doc over HIT counts —
    // bounded by doc length, all parallel.
    "cross_doc_span_trim" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = spanBase(s, dir)
      val occ = base.filter(size(col("toks")) >= 8)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          posexplode(spanGrams))
        .select(col("doc_id"), col("n_tokens"),
          (col("pos") + 1).as("i"), col("col").as("g"))
      // owner key is ONE scalar (shared verbatim with the oracle —
      // DuckDB's max_by takes no composite key): n_tokens·1e8 − doc_id
      // orders by quality then smaller-id, collision-free while ids
      // stay below 1e8 (base ids < 1e6, CopyShift 1e6, ScaleUp 1e7 —
      // the dedup_source_matrix invariant).
      // r22 (verdict item 8): the owner aggregate's input dedups PER
      // ROW (array_distinct — n_tokens is functionally dependent on
      // the unique doc_id, so per-doc dedup IS the distinct) instead
      // of a corpus-gram distinct exchange; see dedup_span_trim.
      val owners = dupSpans(base.filter(size(col("toks")) >= 8)
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            explode(array_distinct(spanGrams)).as("g")),
        expr("max_by(doc_id, n_tokens * 100000000 - doc_id)").as("owner"))
      // one row per (doc, i): a position holds ONE gram, and the g
      // equi-join matches at most one owners row — no distinct needed
      val hits = occ.join(owners, "g")
        .filter(col("doc_id") =!= col("owner"))
        .select(col("doc_id"), col("i"))
      val byI = Window.partitionBy("doc_id").orderBy("i")
      val prevMax = byI.rowsBetween(Window.unboundedPreceding, -1)
      val runFrame = byI.rowsBetween(Window.unboundedPreceding, 0)
      hits
        .withColumn("prev_end", max(col("i") + 7).over(prevMax))
        .withColumn("brk", when(col("prev_end").isNull ||
          col("i") > col("prev_end") + 1, 1L).otherwise(0L))
        .withColumn("island", sum("brk").over(runFrame))
        .groupBy("doc_id", "island")
        .agg(min(col("i")).cast("long").as("span_start"),
          max(col("i") + 7).cast("long").as("span_end"))
        .withColumn("span_len", col("span_end") - col("span_start") + 1)
        .select("doc_id", "span_start", "span_end", "span_len")
        .orderBy("doc_id", "span_start")
    },

    // Corpus snapshot diff — the report an incremental crawl publishes
    // before replacing a snapshot: which docs were added / removed /
    // changed / unchanged between versions. Both sides reduce to
    // (doc_id, md5) AT THE SCAN — no text crosses the exchange — and
    // the diff is one full-outer shuffle join on doc_id, linear and
    // AQE-eligible at any corpus size. The synthetic "new" snapshot is
    // modulo-derived (7-removals, 11-edits, 5-additions), SF-invariant
    // with no size probe.
    "snapshot_diff" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val oldSnap = d.select(col("doc_id"), md5(col("text")).as("fp_old"))
      val newSnap = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"),
          md5(when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
            .as("fp_new"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + CopyShift).as("doc_id"),
            md5(col("text")).as("fp_new")))
      oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("fp_old").isNull, "added")
            .when(col("fp_new").isNull, "removed")
            .when(col("fp_old") =!= col("fp_new"), "changed")
            .otherwise("unchanged").as("status"))
        .orderBy("doc_id")
    },

    // Cross-source duplication matrix — which sources are re-hosting
    // which (the "who copies whom" report that decides crawl-priority
    // and robots handling). SimHash near-dup pairs as usual, then
    // each endpoint's source is recovered by joining `documents` on
    // the un-shifted id; the matrix aggregate is source²-bounded
    // (≤ a few hundred rows) regardless of corpus size, and the two
    // source lookups are doc-keyed equi-joins on the pair table —
    // ∝ duplicate pairs, not corpus².
    //
    // `id % CopyShift` recovers the base id only while every copy
    // shift in play is an exact multiple of CopyShift AND base ids
    // stay below it: this query's own planted copies shift by
    // CopyShift itself, and ScaleUp-scaled corpora shift by
    // ScaleUp.Shift — both conditions are asserted here (the max-id
    // probe is a 1-row aggregate over the source table, same bounded
    // driver work as incrementalIngest's size probe), so a future
    // Shift or corpus-size change fails loudly instead of silently
    // misattributing sources in both engine and oracle.
    "dedup_source_matrix" -> { (s, dir) =>
      require(graft.tools.ScaleUp.Shift % CopyShift == 0,
        s"ScaleUp.Shift (${graft.tools.ScaleUp.Shift}) must be a " +
          s"multiple of CopyShift ($CopyShift) for modulo source recovery")
      val pairs = simhashPairs(withCopies(s, dir))
      val maxBase = Tables.documents(s, dir)
        .agg(max(pmod(col("doc_id"), lit(graft.tools.ScaleUp.Shift))))
        .head.getLong(0)
      require(maxBase < CopyShift,
        s"base doc_id $maxBase >= CopyShift $CopyShift: modulo source " +
          "recovery would misattribute — re-derive sources by copy-block " +
          "join instead")
      val src = Tables.documents(s, dir)
        .select(col("doc_id").as("orig_id"), col("source"))
      pairs
        .join(src, pmod(col("id_a"), lit(CopyShift)) === col("orig_id"))
        .select(col("id_a"), col("id_b"), col("source").as("src_a"))
        .join(src.withColumnRenamed("source", "src_b"),
          pmod(col("id_b"), lit(CopyShift)) === col("orig_id"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("src_a", "src_b")
    },

    // HEAPS'-LAW curve — vocabulary growth vs corpus growth, the
    // plot that sizes a tokenizer's vocab and predicts how much new
    // text still adds new types: cumulative distinct vocabulary and
    // cumulative token count at 50-doc checkpoints. The scalable
    // trick: a term's contribution to the curve is fully determined
    // by its FIRST bucket (min aggregate — partial-aggregable,
    // one vocab-sized exchange), so the cumulative curve is a
    // running sum over bucket-cardinality rows — the global window
    // runs on ~corpus/50 checkpoint rows, never on tokens
    // (bucket width is the knob: production sets it so checkpoints
    // stay in the thousands at any corpus size).
    // HLL distinct-SHINGLE report — the sketch that replaces exact
    // countDistinct at 100 TB (see [[graft.operators.Sketches]]):
    // per-source distinct word-3-shingle cardinality from 256
    // md5-deterministic HyperLogLog registers, next to the exact
    // count and an integer-permille error column. The registers are
    // engine-identical (md5, not an engine's private hash), so the
    // DuckDB oracle verifies the SKETCH STATE (v_zero, s_scaled)
    // bit-for-bit, and the estimate is one shared-SQL double
    // division by that exact integer. p = 8 keeps every source
    // (≈ 1.3 k shingles) in the raw-HLL regime — no ln-based
    // small-range correction, which cross-engine determinism forbids.
    // Plan: the register aggregate's exchange is ≤ sources × 256 rows
    // after map-side combine whatever the corpus size — the sketch
    // branch costs one scan + a fixed-width exchange; the exact
    // branch (shuffling every distinct shingle) is the TEST-scale
    // baseline a production run drops.
    "hll_shingle_report" -> { (s, dir) =>
      // both branches run compiled shingle kernels (r21): the sketch
      // branch hashes in-kernel (shingleHashStream), the exact branch
      // feeds countDistinct from the per-doc-distinct kernel — the
      // per-source distinct set is unchanged by per-doc dedup, and no
      // md5 is computed just to be discarded
      val summ = Sketches.hllSummary(
          Sketches.hllRegistersFromHash(shingleHashStream(s, dir), 8), 8)
        .withColumnRenamed("key", "source")
      val exact = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.functions.TextShingles.distinctShingles(3)(
            col("text"))).as("sh"))
        .groupBy("source")
        .agg(countDistinct(col("sh")).as("exact_distinct"))
      summ.join(exact, "source")
        .withColumn("hll_estimate", expr(Sketches.hllEstimateSql(8)))
        .withColumn("err_permille", expr(HllErrPermilleSql))
        .select("source", "v_zero", "s_scaled", "hll_estimate",
          "exact_distinct", "err_permille")
        .orderBy("source")
    },

    // Count-Min ESTIMATE audit — hot_bigrams' sketch sibling and the
    // HLL report's count twin (operators/Sketches scaladoc): build a
    // d=3 × w=256 CMS over the corpus bigram stream, then compare
    // the sketch's point estimates against exact counts for the
    // exact top-20 bigrams, overestimate in integer permille (CMS
    // never underestimates, so truncating div and flooring // agree).
    // w is sized BELOW the ~916-bigram vocabulary on purpose: the
    // report exists to SHOW collision inflation, and at w=256 most
    // of the top-20 carry nonzero over_pm at every SF. Plan: the
    // sketch build is one map-side-combinable aggregate whose
    // exchange is ≤ 768 rows per partition at ANY corpus size; the
    // exact top-20 is a vocab-bounded aggregate + the usual (n desc,
    // key asc) deterministic cut; the probe is a broadcast join of
    // 60 candidate cells against the ≤768-row sketch. Nothing scales
    // past the token explode.
    "cms_bigram_report" -> { (s, dir) =>
      // r21: ONE vocabulary aggregate feeds both branches — the exact
      // top-20 cut AND the sketch cells (cmsCellsFromCounts: d probes
      // per distinct bigram instead of per occurrence; identical cell
      // table, and the vocab exchange is shared by plan reuse). The
      // production sketch rows keep the per-occurrence cmsCells shape
      // whose exchange stays d×w-capped — this audit row already pays
      // the vocab aggregate for its exact branch, so here it's free.
      val vocab = bigramStream(s, dir)
        .groupBy("key").agg(count(lit(1)).as("n_exact"))
      val cells = Sketches.cmsCellsFromCounts(
        vocab.select(col("key"), col("n_exact").as("cnt")), 3, 256)
      val top = vocab
        .orderBy(col("n_exact").desc, col("key").asc).limit(20)
      Sketches.cmsEstimate(top, cells, 3, 256, missingAsZero = false)
        .withColumn("over_pm",
          expr("(cms_estimate - n_exact) * 1000 div n_exact"))
        .select(col("key").as("bigram"), col("n_exact"),
          col("cms_estimate"), col("over_pm"))
        .orderBy(col("n_exact").desc, col("bigram").asc)
    },

    // PRODUCTION sketch rows (r16 verdict task #4): the two report
    // queries above deliberately carry an exact-audit branch
    // (countDistinct / exact top-20), so their bench time tracks the
    // test-scale audit, not the sketch. These rows emit ONLY the
    // sketch — the path a production pipeline ships at 100 TB — so
    // the bench and SCALE.md's decade steps measure the fixed-width
    // exchange directly, and the oracle still hash-verifies the FULL
    // sketch state (every register / every cell), not a summary.
    //
    // hll_shingle_sketch: per-source HLL summary + raw estimate.
    // Plan: one scan + shingle explode, register aggregate partial
    // (max-of-rho) → exchange ≤ sources × 256 rows at ANY corpus
    // size; the summary fold and the one shared-SQL double division
    // happen on that fixed-width frame.
    "hll_shingle_sketch" -> { (s, dir) =>
      hllSourceSketch(
        Sketches.hllRegistersFromHash(shingleHashStream(s, dir), 8))
    },

    // cms_bigram_sketch: the d=3 × w=256 cell table itself. Plan:
    // token explode → d-way explode BEFORE the aggregate (map-side
    // combine caps the exchange at d×w = 768 rows per partition) —
    // nothing downstream of the explode grows with the corpus.
    "cms_bigram_sketch" -> { (s, dir) =>
      Sketches.cmsCells(bigramStream(s, dir), col("key"), 3, 256)
        .select("r", "c", "cnt")
        .orderBy("r", "c")
    },

    // SHARD-MERGE law, oracle-verified end to end (the 100 TB
    // incremental-ingest story: daily shards each build a sketch;
    // the running corpus sketch is the cell-wise merge — no reread
    // of history). The Spark side deliberately SHARDS the corpus
    // (doc_id parity), builds an independent sketch per shard, and
    // merges: registers by element-wise max, CMS cells by addition.
    // The DuckDB oracle never shards — it derives the whole-corpus
    // sketch directly — so the gate's hash equality IS the merge law
    // proven across engines on real data, not just the SketchesSpec
    // unit pin. Plan: each per-shard aggregate is partial (map-side
    // combine), the merge re-aggregate sees ≤ 2 × fixed-width rows —
    // the union adds one exchange of SF-invariant size.
    "hll_merge_shards" -> { (s, dir) =>
      val sh = shingleHashStream(s, dir, withDocId = true)
      def shard(p: Int) = Sketches.hllRegistersFromHash(
        sh.filter(pmod(col("doc_id"), lit(2)) === p), 8)
      hllSourceSketch(
        Sketches.hllMerge(shard(0).unionByName(shard(1)), "key"))
    },

    "cms_merge_shards" -> { (s, dir) =>
      val big = bigramStream(s, dir, withDocId = true)
      def shard(p: Int) = Sketches.cmsCells(
        big.filter(pmod(col("doc_id"), lit(2)) === p)
          .select("key"), col("key"), 3, 256)
      Sketches.cmsMerge(shard(0).unionByName(shard(1)))
        .select("r", "c", "cnt")
        .orderBy("r", "c")
    },

    // CMS member of the persisted-table family (r20 — with this row,
    // durable at-rest coverage spans ALL FOUR sketches: HLL pair /
    // sliding / ingest tables, the KMV pair table, the HDR sliding
    // table, and now the CMS cell table): the d=3 × w=256 cell frame
    // of the existing corpus slice is WRITTEN to a parquet sketch
    // table in one scan (the write an ingest job runs once), the new
    // batch's OWN cells are APPENDED — only ITS bigrams scan, history
    // never recomputes — and the read-back cell-wise SUM must equal
    // the whole-corpus sketch, which is exactly what the shared
    // oracle (cms_bigram_sketch's unsharded derivation) hash-checks:
    // the cms_merge_shards addition law proven through a durable
    // round-trip rather than a parity split. Contract note: CMS
    // addition, like HDR's and unlike HLL's register-max, is
    // shard-safe but NOT idempotent, so the slices are DISJOINT
    // (doc_id 4/5 split) and the append discipline is at-most-once
    // per batch — see cmsCellExportPath. Answer-time plan reads ONLY
    // the ≤ 768-row table (PlanPins pins `documents` absent).
    "cms_table_ingest" -> { (s, dir) =>
      val n = docSplit(s, dir, "cms_table_ingest")
      // ONE slice-tagged corpus scan builds BOTH cell tables — the
      // slices are DISJOINT (cell-add is not idempotent), so the tag is
      // a plain when() with no row expansion, and the slice rides the
      // cell aggregate's key (the cell hash never sees it). Checkpointed
      // split frame ≤ 2 × d × w rows.
      val bySlice = Sketches.cmsCellsSliced(
          bigramStream(s, dir, withDocId = true)
            .select(when(col("doc_id") < n * 4 / 5, lit("existing"))
              .otherwise(lit("batch")).as("slice"), col("key")),
          col("slice"), col("key"), 3, 256)
        .localCheckpoint()
      def slice(name: String) =
        bySlice.filter(col("slice") === name).select("r", "c", "cnt")
      // at rest: the existing corpus slice; appended: the new batch's
      // OWN cells only. Read back and added, they are the whole-corpus
      // sketch.
      Sketches.cmsMerge(overwriteThenAppend(slice("existing"),
          slice("batch"), cmsCellExportPath(dir)))
        .select("r", "c", "cnt")
        .orderBy("r", "c")
    },

    // KMV member of the shard-merge family (see hll_merge_shards):
    // Spark shards the corpus by doc_id parity, sketches each shard
    // independently (bounded bottom-k aggregates) and merges with
    // kmvMerge; the oracle derives the UNsharded bottom-k directly —
    // hash equality on the sketch TABLE proves the KMV merge law
    // (k-smallest of A∪B ⊆ kmv(A) ∪ kmv(B)) across engines on real
    // data. Plan: two bounded partial aggregates + one union exchange
    // of ≤ 2 × sources × k longs — SF-invariant past the scans.
    "kmv_merge_shards" -> { (s, dir) =>
      val sh = shingleHashStream(s, dir, withDocId = true)
      def shard(p: Int) = Sketches.kmvSketchFromHash(
        sh.filter(pmod(col("doc_id"), lit(2)) === p), 256)
      kmvSourceTable(shard(0).unionByName(shard(1)))
    },

    // KMV member of the table-ingest family (r20 — with this row the
    // ingest triad is complete and each law is proven in its OWN
    // idempotence regime: hll_table_ingest extends by register-max
    // over an OVERLAPPING re-crawl (idempotent), cms_table_ingest by
    // cell-add over DISJOINT slices (at-most-once), and this row by
    // bottom-k union over an OVERLAPPING re-crawl — idempotent
    // because identical shingles hash identically and the bottom-k
    // aggregate dedups, so re-ingested history cannot perturb the
    // sketch): the existing corpus slice's per-source bottom-k table
    // is WRITTEN to parquet once, the new batch — deliberately
    // overlapping the slice by a fifth — sketches ONLY its own docs,
    // and the kmvMerge of the read-back table with the batch must
    // equal the whole-corpus unsharded bottom-k, which is exactly
    // what the shared kmv_merge_shards oracle hash-checks. In
    // steady-state production only the batch scan recurs; the merge
    // re-aggregate sees ≤ 2 × sources × k longs at any corpus size.
    "kmv_table_ingest" -> { (s, dir) =>
      // the slice rides the aggregate key as a FIXED-WIDTH 2-char
      // prefix on the source string, not a struct: KmvAgg's hash
      // aggregate then groups on a flat string key, and the prefix
      // strips back off positionally on the sketch-sized output. The
      // checkpointed split frame is ≤ 2 × sources × 256 longs.
      val tagged = ingestSlices(s, dir, "kmv_table_ingest", "e:", "b:")
      val bySlice = Sketches.kmvSketchFromHash(
          tagged.select(concat(col("slice"), col("key")).as("key"),
            col("h")), 256)
        .select(substring(col("key"), 1, 2).as("slice"),
          expr("substring(key, 3)").as("key"), col("h"))
        .localCheckpoint()
      val path = kmvIngestExportPath(dir)
      // at-rest table: the existing corpus slice, written once
      writeSketchTable(
        bySlice.filter(col("slice") === "e:").drop("slice"), path)
      kmvSourceTable(s.read.parquet(path).unionByName(
        bySlice.filter(col("slice") === "b:").drop("slice")))
    },

    // SKETCH SET-ALGEBRA — pairwise source-vocabulary OVERLAP from
    // HLL sketches alone: |A∩B| ≈ est(A) + est(B) − est(A∪B), where
    // est(A∪B) comes FREE from the merge law (element-wise register
    // max — no rescan of either source). This is the audience-overlap
    // / cross-source-contamination estimator a 100 TB pipeline runs
    // on persisted per-source sketches: 20 sources → 190 pair
    // estimates from 20×256 stored registers, zero corpus reads.
    // THIS ROW IS THE TEST-SCALE AUDIT TWIN — hll_pair_estimate
    // (below) is the registered sketch-only production form; keep
    // benching BOTH so the audit's known superlinear self-join cost
    // (SCALE.md) never masquerades as the production path's.
    // The exact intersection (a distinct-shingle self-join) rides
    // along as the TEST-SCALE audit, with err_pm honest about
    // inclusion–exclusion's known weakness: the estimate's absolute
    // error scales with the SET sizes (raw-HLL σ ≈ 6.5% at p=8), so
    // small true intersections carry large permille error — the
    // production answer for small-overlap regimes is a theta/KMV
    // sketch, and the column quantifies exactly when that upgrade
    // pays. Plan: registers aggregate once (≤ sources×256 rows);
    // pair expansion joins the REGISTER table (sources²×256 rows at
    // worst — sketch-sized, not corpus-sized); only the audit branch
    // touches corpus-scale data.
    "hll_pair_overlap" -> { (s, dir) =>
      // the sketch is eager and checkpointed, the exact audit lazy: the
      // audit stays count()-elidable, so the bench's headline column
      // keeps measuring the production branch. The est / pairs /
      // pair-union branches read the register frame ~7×; without the
      // checkpoint the static plan embeds one corpus scan per read.
      val regs = Sketches.hllRegistersFromHash(
          shingleHashStream(s, dir), 8)
        .localCheckpoint()
      withExactOverlap(Sketches.hllPairs(regs, Sketches.pairsOf(regs), 8),
          s, dir)
        .withColumn("err_pm", expr(InterErrPermilleSql))
        .select("s1", "s2", "exact_inter", "inter_est", "err_pm")
        .orderBy("s1", "s2")
    },

    // SKETCH-ONLY pair-overlap twin (r17 verdict task #1) — the
    // PRODUCTION form of hll_pair_overlap, which stays registered as
    // its test-scale audit (the report-vs-sketch discipline of
    // hll_shingle_report / hll_shingle_sketch): every output column
    // derives from the register table ALONE — no exact intersection,
    // no distinct-shingle self-join, nothing downstream that grows
    // with the corpus. At 100 TB this is the row a contamination
    // check actually runs: per-source registers aggregate once
    // (map-side partial, exchange ≤ sources × 256 rows), then pair
    // union/intersection estimates are pure sketch set-algebra over
    // sources² × 256 rows. The register frame is localCheckpoint'ed
    // (eager) so the est / pair / union branches — which reference it
    // seven times — all read the ~sources×256-row materialized frame:
    // the whole query holds ONE corpus scan, executed at
    // construction (PlanPinsSpec pins the final plan parquet-free).
    "hll_pair_estimate" -> { (s, dir) =>
      hllPairEstimate(Sketches.hllRegistersFromHash(
        shingleHashStream(s, dir), 8).localCheckpoint())
    },

    // KMV pair overlap — the SMALL-INTERSECTION estimator
    // (r17 verdict task #2; Sketches.scala KMV scaladoc for the
    // theory): hll_pair_overlap's own err_pm commentary names
    // theta/KMV as the production answer where inclusion–exclusion
    // degrades, and this row carries BOTH estimators side by side
    // against the exact audit so the two err_pm columns empirically
    // show where KMV wins. Plan: the KMV branch is ONE bounded
    // aggregate (partial bottom-k per partition, exchange ≤
    // partitions × sources × k longs) + set algebra over the
    // sources×256-row sketch table; the HLL branch is the register
    // derivation of hll_pair_overlap; only the exact-audit branch
    // (distinct-shingle self-join) is corpus-scale — this row is the
    // TEST-SCALE comparison twin, kmv_pair_estimate below is the
    // production form.
    "kmv_pair_overlap" -> { (s, dir) =>
      // eager checkpointed sketches, lazy count()-elidable exact audit
      // (see hll_pair_overlap); ONE pairs frame feeds both estimators
      val kv = Sketches.kmvSketchFromHash(shingleHashStream(s, dir), 256)
        .localCheckpoint()
      val pairs = Sketches.pairsOf(Sketches.kmvSummary(kv, 256))
      val regs = Sketches.hllRegistersFromHash(
          shingleHashStream(s, dir), 8)
        .localCheckpoint()
      def inter(est: DataFrame, name: String) =
        est.select(col("s1"), col("s2"), col("inter_est").as(name))
      withExactOverlap(
          inter(Sketches.kmvPairs(kv, pairs, 256), "inter_kmv")
            .join(inter(Sketches.hllPairs(regs, pairs, 8), "inter_hll"),
              Seq("s1", "s2")),
          s, dir)
        .withColumn("err_pm_hll", expr(errPermilleSql("inter_hll")))
        .withColumn("err_pm_kmv", expr(errPermilleSql("inter_kmv")))
        .select("s1", "s2", "exact_inter", "inter_hll", "err_pm_hll",
          "inter_kmv", "err_pm_kmv")
        .orderBy("s1", "s2")
    },

    // kmv_pair_overlap's SKETCH-ONLY production twin (the
    // hll_pair_estimate discipline): per-source bottom-k sketches
    // aggregate once (bounded partial aggregate, ONE corpus scan via
    // the checkpointed sketch table), then every output column is
    // set algebra over the ≤ sources×256-row sketch — n_match and
    // theta are exact integers, the two estimates are single shared-
    // string divisions. At 100 TB: sketches persist per source;
    // sources² pair estimates cost zero corpus reads.
    "kmv_pair_estimate" -> { (s, dir) =>
      kmvPairEstimate(Sketches.kmvSketchFromHash(
        shingleHashStream(s, dir), 256).localCheckpoint())
    },

    // hll_pair_estimate over a PERSISTED sketch table (r18 verdict
    // task #4): the pair twins pin their one-scan plans on
    // localCheckpoint() — unreplicated executor blocks that a lost
    // executor would kill at cluster scale. THIS row demonstrates the
    // production-durable pattern the scaladocs promise ("persisted
    // per-source sketches, zero corpus reads"): the per-source
    // register frame is WRITTEN to a parquet sketch table (ONE corpus
    // scan, sources×256 rows — a write any ingest job runs once per
    // source/partition and unions incrementally, the hll_merge_shards
    // law), then the answer-time pair algebra READS the sketch table
    // back — restart-safe, shareable across jobs, and the answer-time
    // plan scans ONLY the ≤ sources×256-row table (PlanPins pins the
    // executed plan's single FileScan on the sketch path, corpus
    // untouched). Results are identical to hll_pair_estimate —
    // parquet round-trips the integer registers losslessly — so both
    // rows share one oracle SQL.
    "hll_pair_from_table" -> { (s, dir) =>
      val path = hllRegExportPath(dir)
      writeSketchTable(
        Sketches.hllRegistersFromHash(shingleHashStream(s, dir), 8),
        path)
      hllPairEstimate(s.read.parquet(path))
    },

    // Incremental INGEST against the persisted sketch table —
    // hll_pair_from_table's write-once story made write-REPEATEDLY
    // (dedup_incremental's split applied to sketch state): the
    // at-rest per-source register table covers the EXISTING corpus
    // (doc_id < 4n/5, written once); a NEW crawl batch (doc_id ≥
    // 3n/5 — deliberately overlapping the last fifth of history)
    // contributes only ITS OWN registers, and the updated table is
    // one register-max merge of table + batch (the hll_merge_shards
    // law applied to time): yesterday's shingles never recompute,
    // re-ingested overlap mass cannot inflate the estimate (max is
    // idempotent), and the merge exchange is ≤ 2 × sources × 256
    // rows whatever the batch size. The oracle derives both register
    // sets from the raw slices directly, so hash equality proves the
    // at-rest round trip AND the ingest merge law on real data.
    "hll_table_ingest" -> { (s, dir) =>
      // the slice rides the aggregate key as a struct; the checkpointed
      // split frame is sketch-sized (≤ 2 × sources × 256 rows)
      val tagged =
        ingestSlices(s, dir, "hll_table_ingest", "existing", "batch")
      val bySlice = Sketches.hllRegistersFromHash(
          tagged.select(struct(col("slice"), col("key")).as("key"),
            col("h")), 8)
        .select(col("key.slice").as("slice"), col("key.key").as("key"),
          col("register"), col("m"))
        .localCheckpoint()
      val path = hllIngestExportPath(dir)
      writeSketchTable(
        bySlice.filter(col("slice") === "existing").drop("slice"), path)
      val existing = s.read.parquet(path)
      val batch = bySlice.filter(col("slice") === "batch").drop("slice")
      def est(regs: DataFrame, name: String) = Sketches.hllSummary(regs, 8)
        .withColumn(name, expr(Sketches.hllEstimateSql(8)))
        .select(col("key"), col(name))
      est(existing, "est_existing")
        .join(est(Sketches.hllMerge(existing.unionByName(batch), "key"),
          "est_merged"), "key")
        .select(col("key").as("source"), col("est_existing"),
          col("est_merged"))
        .orderBy("source")
    },

    // kmv_pair_estimate over a PERSISTED sketch table (r19 verdict
    // task #2 — hll_pair_from_table's pattern for the engine's
    // MEASURED-BETTER overlap estimator: kmv_vs_hll_error put KMV at
    // 172‰ median error vs HLL's 1082‰, so production cross-source
    // contamination monitoring would persist THESE sketches): the
    // per-source bottom-k table (≤ sources×256 longs) is WRITTEN to
    // parquet in ONE corpus scan — the write an ingest job runs once
    // per source and extends by the kmv_merge_shards bottom-k law —
    // and the answer-time pair set-algebra READS the table back:
    // n_match/theta exact integers, the estimates shared-string
    // divisions, restart-safe and shareable across jobs. The
    // answer-time plan's FileScans touch ONLY the sketch table
    // (PlanPins pins `documents` absent); results are identical to
    // kmv_pair_estimate — parquet round-trips longs losslessly — so
    // both rows share one oracle SQL.
    "kmv_pair_from_table" -> { (s, dir) =>
      val path = kmvSketchExportPath(dir)
      writeSketchTable(
        Sketches.kmvSketchFromHash(shingleHashStream(s, dir), 256),
        path)
      kmvPairEstimate(s.read.parquet(path))
    },

    // r22 (verdict #7): the bucket-grain Heaps curve grows linearly
    // with the corpus (bucket = doc_id div 50), so its cumulative
    // sums run through the two-pass range-partitioned
    // [[graft.operators.Cumulative.rangeCumSum]] instead of a
    // single-partition Window.orderBy.
    "heaps_law" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(expr("doc_id div 50").as("bucket"),
          TextAnalysis.tokens(lower(col("text"))).as("toks"))
      val tokCount = d.groupBy("bucket")
        .agg(sum(size(col("toks")).cast("long")).as("n_tokens"))
      val newTerms = d
        .select(col("bucket"), explode(col("toks")).as("term"))
        .groupBy("term").agg(min("bucket").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
      val joined = tokCount.join(newTerms, Seq("bucket"), "left")
        .withColumn("nt", coalesce(col("new_terms"), lit(0L)))
      graft.operators.Cumulative.rangeCumSum(joined, "bucket",
          Seq(("n_tokens", "cum_tokens"), ("nt", "cum_vocab")))
        .select("bucket", "cum_tokens", "cum_vocab")
        .orderBy("bucket")
    },

    // Budgeted QUOTA sample — sample_stratified's exact-k sibling
    // (that one thins by per-stratum Bernoulli RATES; this one hits a
    // fixed budget exactly): the "give me a balanced 100-doc
    // eval slice" op every corpus audit starts with, exact and
    // deterministic end to end: per-language quotas by LARGEST-
    // REMAINDER (Hamilton) apportionment — base_i = K·n_i div N, the
    // K − Σ base leftover seats to the largest remainders (rem desc,
    // lang asc) — all INTEGER arithmetic, no float quota ever rounds
    // differently across engines; then each stratum fills its quota
    // with the k_i largest md5('samp:'||doc_id) draws — the engine's
    // seeded-uniform discipline, so the manifest is reproducible and
    // extends monotonically when K grows. Plan: lang-cardinality
    // aggregates with two broadcast 1-row totals; the per-stratum
    // pick is the NATIVE bounded-heap top-K node (partial/final — no
    // corpus-wide or stratum-wide sort), and the trailing windows
    // rank only ≤ langs×K survivors. The final inner join is
    // lang-keyed against a langs-sized frame.
    //
    // EDGE contract (r16 verdict task #8): quotas are capped at the
    // stratum population, `least(k_alloc, n)` — and that single cap
    // is EXACT for every K, no reallocation cascade exists. Proof:
    // for K < N, base_i = ⌊K·n_i/N⌋ ≤ n_i − 1, so base_i + 1 ≤ n_i
    // and no quota can exceed its stratum (the cap never binds;
    // outputs are unchanged from the uncapped query). For K = N,
    // base_i = n_i with zero remainder. For K > N, K·n_i/N > n_i
    // forces base_i ≥ n_i for EVERY stratum, so every quota caps at
    // exactly n_i and the sample is the whole corpus — total
    // Σ k_alloc = min(K, N), the maximal fillable budget, in all
    // three regimes (QuotaSampleSpec pins K > N). Freed seats never
    // need redistributing because no under-capped stratum coexists
    // with a capped one.
    "quota_sample" -> { (s, dir) =>
      quotaSample(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        100)
    },

    // TOKEN-BUDGET plan — the data-mixing arithmetic a training run
    // does before it starts: given per-language token inventories and
    // target mixture weights, how many epochs of each language fill a
    // budget of 2× the corpus (the Hoffmann-style compute-optimal
    // sizing pass)? epochs in exact integer milli-units; languages
    // pushed past the ~4-epoch repetition ceiling (the same empirical
    // rule mixture_upsample caps at) get flagged. One language-
    // cardinality aggregate + a broadcast 1-row total — the plan is
    // corpus-scan-bound at any scale.
    "token_budget_plan" -> { (s, dir) =>
      import s.implicits._
      val weights = Seq(("en", 50L), ("de", 15L), ("fr", 15L),
        ("es", 10L), ("zh", 10L))
      val wdf = broadcast(weights.toDF("lang", "weight_pct"))
      val byLang = Tables.documents(s, dir)
        .select(col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("lang_tokens"))
      val total = byLang.agg(sum("lang_tokens").as("total_tokens"))
      byLang.join(wdf, "lang").crossJoin(broadcast(total))
        .withColumn("target_tokens",
          expr("total_tokens * 2 * weight_pct div 100"))
        .withColumn("epochs_1e3",
          expr("target_tokens * 1000 div lang_tokens"))
        .withColumn("over_cap", col("epochs_1e3") > 4000L)
        .select("lang", "n_docs", "lang_tokens", "weight_pct",
          "target_tokens", "epochs_1e3", "over_cap")
        .orderBy("lang")
    },

    // PACKING-efficiency sweep — the max_len decision priced before
    // committing a tokenization run: for each candidate sequence
    // length, how many training sequences the packed corpus yields,
    // how many pad tokens the per-bucket tails waste (integer ppm of
    // the padded volume), and how many docs get SPLIT across a
    // sequence boundary (the attention-contamination cost of
    // concatenate-and-chop). Reuses pack_sequences' md5-salted
    // bucket offsets — ONE offset computation feeds all three
    // lengths via a 3-way explode; everything downstream is
    // bucket-cardinality or a per-doc predicate. Longer max_len ⇒
    // fewer, fuller sequences but more split docs — this report IS
    // that trade, measured.
    "pack_efficiency_sweep" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
        .withColumn("bucket",
          pmod(conv(substring(md5(concat(lit("pack:"),
            col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(32L)))
      val w = Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offs = d.withColumn("off", sum("toks").over(w) - col("toks"))
      val lens = array(lit(128L), lit(256L), lit(512L))
      val seqStats = offs.groupBy("bucket")
        .agg(sum("toks").as("btoks"))
        .withColumn("max_len", explode(lens))
        .groupBy("max_len")
        .agg(sum(expr("(btoks + max_len - 1) div max_len")).as("n_seqs"),
          sum(expr("((btoks + max_len - 1) div max_len) * max_len - " +
            "btoks")).as("pad_tokens"))
      val splitDocs = offs.withColumn("max_len", explode(lens))
        .groupBy("max_len")
        .agg(sum(when(
          expr("off div max_len != (off + toks - 1) div max_len"), 1L)
          .otherwise(0L)).as("split_docs"))
      seqStats.join(splitDocs, "max_len")
        .withColumn("pad_ppm",
          expr("pad_tokens * 1000000 div (n_seqs * max_len)"))
        .select("max_len", "n_seqs", "pad_tokens", "pad_ppm",
          "split_docs")
        .orderBy("max_len")
    },

    // ASYMMETRIC containment pairs — the quote/excerpt detector
    // symmetric Jaccard structurally misses: when doc A is a fragment
    // embedded in doc B, containment inter/min(|A|,|B|) ≈ 1 while
    // Jaccard ≈ |A|/|B| can be arbitrarily low — so a Jaccard-only
    // dedup keeps both and the training set double-counts the
    // fragment (Broder'97 distinguishes exactly these two
    // resemblance/containment measures). The fixture synthesizes the
    // motif the way the dedup tier builds all its fixtures: every
    // 3rd doc also appears as its first-half-words excerpt (+1e6 id).
    // Same doc-freq-capped shingle buckets as dedup_ngram_jaccard
    // (minJaccard = 0 keeps the candidate set; the candidate COST is
    // identical — only the final filter differs), both measures in
    // exact integer permille; the report keeps high-containment
    // pairs that are NOT near-identical (jac < 800), i.e. precisely
    // the rows the symmetric query's ≥ 0.8 cut discards.
    "dedup_containment" -> { (s, dir) =>
      val base = Tables.documents(s, dir).select(col("doc_id"),
        col("text"))
      jaccardPairs(base.unionByName(excerpts(base)), minJaccard = 0.0)
        .withColumn("cont_pm", containmentPm)
        .withColumn("jac_pm", jaccardPm)
        .filter(col("cont_pm") >= 800 && col("jac_pm") < 800)
        .select("id_a", "id_b", "inter", "size_a", "size_b",
          "cont_pm", "jac_pm")
        .orderBy("id_a", "id_b")
    },

    // SimHash THRESHOLD calibration — minhash_calibration's sibling
    // for the Hamming knob: for each distance 0..3, how many pairs
    // the band join surfaces and what fraction verify as real
    // near-dups (word-shingle Jaccard ≥ 0.5 over the same corpus, in
    // integer permille) — the measured precision curve an operator
    // reads before picking maxHamming. Both pair generators are the
    // proven bucketed shapes; the verification is a LEFT join of two
    // pairs-sized tables (a simhash pair whose docs share no
    // surviving shingle verifies as false), and the rollup is
    // 4 rows. Expect monotone decay: Hamming 0 is exact copies
    // (precision 1000), 3 admits progressively more template noise.
    "simhash_calibration" -> { (s, dir) =>
      val pairs = simhashPairs(withCopies(s, dir))
      val jac = jaccardPairs(withCopies(s, dir), minJaccard = 0.0)
        .select(col("id_a"), col("id_b"), jaccardPm.as("jac_pm"))
      pairs.join(jac, Seq("id_a", "id_b"), "left")
        .groupBy("hamming")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("jac_pm") >= 500, 1L).otherwise(0L))
            .as("n_verified"))
        .withColumn("precision_pm",
          expr("n_verified * 1000 div n_pairs"))
        .orderBy("hamming")
    },

    // Containment-policy SURVIVORS — the action tier for
    // dedup_containment, the way dedup_survivors actions the Jaccard
    // pairs: in every high-containment pair the FRAGMENT (smaller
    // surviving-shingle set; ties drop the larger id,
    // deterministically) is removed, the superset document kept —
    // the policy that stops a corpus double-counting quotes without
    // touching the quoted original. Reported per (source, kind) so
    // the fixture's planted excerpts visibly drain while base docs
    // survive. Fragment set ∝ containment pairs; the removal is the
    // strategy-neutral broadcast anti-join shape.
    "containment_survivors" -> { (s, dir) =>
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"),
          lit("base").as("kind"))
      val corpus = base.unionByName(excerpts(Tables.documents(s, dir),
        col("source"), lit("excerpt").as("kind")))
      val frags = jaccardPairs(corpus, minJaccard = 0.0)
        .filter(containmentPm >= 800)
        .select(when(col("size_a") < col("size_b"), col("id_a"))
          .when(col("size_b") < col("size_a"), col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
      corpus
        .join(broadcast(frags.withColumn("dropped", lit(1L))),
          Seq("doc_id"), "left")
        .groupBy("source", "kind")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"))
        .withColumn("n_survivors", expr("n_docs - n_dropped"))
        .orderBy("source", "kind")
    },

    // Ingest CHANGEPOINT (CUSUM) — "did the corpus change character
    // mid-ingest?": cumulative deviation of per-bucket char volume
    // from the uniform expectation, fully in exact integers
    // (S_b = cum_chars·B − total_chars·rank — the cross-multiplied
    // CUSUM, no division ever), peak-flagged where |S| maxes: the
    // bucket where the distribution shift concentrates. The r13
    // verdict flagged the old `doc_id div 50` axis — bucket COUNT
    // grew linearly with the corpus, so the ordering window was an
    // unpartitioned corpus-proportional sort. Now the
    // length_outliers histogram discipline: a FIXED count of 200
    // equal-width buckets over the [min, max] doc_id range from a
    // broadcast 1-row extent frame — `(doc_id−lo)·200 div (hi−lo+1)`
    // lands in 0..199 by construction, so the CUSUM windows run over
    // ≤200 rows at ANY corpus size. Overflow-safe: cum_chars·200 and
    // total_chars·rank stay < 2·10¹⁶ even at 10¹⁴ total chars.
    "ingest_changepoint" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val NB = 200
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
      val ext = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      val b = docs.crossJoin(broadcast(ext))
        .groupBy(expr(s"(doc_id - lo) * $NB div (hi - lo + 1)")
          .as("bucket"))
        .agg(sum(col("n_chars")).as("chars"))
      val t = b.agg(sum("chars").as("total_chars"),
        count(lit(1)).as("n_buckets"))
      // no partition key: the windows run over ≤200 buckets (pinned
      // above), a bounded frame evaluated in one task
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cusum = b.crossJoin(broadcast(t))
        .withColumn("rank", row_number().over(Window.orderBy("bucket")))
        .withColumn("cum_chars", sum("chars").over(w))
        .withColumn("cusum",
          expr("cum_chars * n_buckets - total_chars * rank"))
      val peak = cusum.agg(max(abs(col("cusum"))).as("peak"))
      cusum.crossJoin(broadcast(peak))
        .withColumn("is_peak", abs(col("cusum")) === col("peak"))
        .select("bucket", "chars", "cusum", "is_peak")
        .orderBy("bucket")
    },

    // Near-dup graph TRIANGLE census — transitivity tells a dedup
    // operator whether pairs form tight cliques (template families —
    // safe to collapse) or long chains (drift — collapsing merges
    // distinct content): wedges from the degree sequence, triangles
    // by the ordered two-hop join (a<b<c once each, closing edge via
    // a pairs-sized semi-join), transitivity = 3·triangles/wedges in
    // integer permille. Every frame is ∝ duplicates, the dedup
    // tier's invariant; this is the graph-quality metric next to
    // components (size) and pagerank (centrality).
    "dup_triangle_count" -> { (s, dir) =>
      // r22: pair lineage materialized ONCE (see pagerank_hubs) —
      // this row references `e` FIVE times (degrees, the two-hop
      // join's both sides, the closing semi-join, the edge count)
      val e = graft.operators.Checkpoints.truncate(
        simhashPairs(withCopies(s, dir)).select("id_a", "id_b"))
      val deg = e.select(explode(array(col("id_a"), col("id_b")))
          .as("id"))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val wedges = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      val tri = e.as("x")
        .join(e.as("y"), col("x.id_b") === col("y.id_a"))
        .select(col("x.id_a").as("id_a"), col("y.id_b").as("id_b"))
        .join(e, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      wedges.crossJoin(broadcast(edges)).crossJoin(broadcast(tri))
        .withColumn("transitivity_pm",
          expr("CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE n_triangles * 3 * 1000 div n_wedges END"))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
          "transitivity_pm")
    })

  private val langScores = TextAnalysis.LangMarkers.map { case (l, pat) =>
    l -> s"len(regexp_extract_all(lower(text), '$pat'))"
  } :+ ("zh" -> s"len(regexp_extract_all(text, '${TextAnalysis.CjkPattern}'))")

  private val langCase = {
    val maxE = langScores.map(_._2).mkString("greatest(", ", ", ")")
    val whens = langScores
      .map { case (l, e) => s"WHEN $e = m THEN '$l'" }.mkString(" ")
    s"CASE WHEN m = 0 THEN 'und' $whens END"
  }

  /** Verdict CTE chain over an arbitrary (doc_id, text) source CTE,
    * q-prefixed so it composes with componentsReachCte (whose t/v/s
    * names would otherwise collide) — quality_dup_crosstab appends
    * this after the pair CTEs. Emits `, qd AS (...) ... qv AS
    * (doc_id, verdict)`. */
  private def qualityVerdictCtesOver(src: String): String =
    s""", qd AS (
      |  SELECT doc_id, text,
      |    ${langScores.map(_._2).mkString("greatest(", ", ", ")")} AS m
      |  FROM $src
      |), qbase AS (
      |  SELECT doc_id, $langCase AS lang,
      |    len($toksExpr) AS n_tok,
      |    len(list_filter($toksExpr, t -> t IN $stopwordList)) AS n_stop
      |  FROM qd
      |), qtok AS (
      |  SELECT doc_id, unnest($toksExpr) AS w FROM $src
      |), qtc AS (
      |  SELECT doc_id, MAX(c) AS top_tok FROM (
      |    SELECT doc_id, w, COUNT(*) AS c FROM qtok GROUP BY 1, 2
      |  ) GROUP BY doc_id
      |), qbgl AS (
      |  SELECT doc_id, $toksExpr AS toks FROM $src
      |), qbg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS g
      |  FROM qbgl
      |), qbc AS (
      |  SELECT doc_id,
      |    COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS dup_bg
      |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM qbg GROUP BY 1, 2)
      |  GROUP BY doc_id
      |), qv AS (
      |  SELECT b.doc_id,
      |    CASE WHEN b.n_tok < 15 THEN 'too_short'
      |         WHEN b.n_tok > 90 THEN 'too_long'
      |         WHEN CAST(b.n_stop AS DOUBLE) / b.n_tok < 0.03
      |           THEN 'low_stopwords'
      |         WHEN CAST(qtc.top_tok AS DOUBLE) / b.n_tok > 0.125
      |           THEN 'repetitive_token'
      |         WHEN (CASE WHEN b.n_tok - 1 > 0
      |                THEN CAST(COALESCE(qbc.dup_bg, 0) AS DOUBLE)
      |                     / (b.n_tok - 1)
      |                ELSE 0 END) > 0.1
      |           THEN 'repetitive_bigrams'
      |         WHEN b.lang NOT IN ('en', 'de', 'es', 'fr') THEN 'lang'
      |         ELSE 'accept' END AS verdict
      |  FROM qbase b
      |  JOIN qtc ON b.doc_id = qtc.doc_id
      |  LEFT JOIN qbc ON b.doc_id = qbc.doc_id
      |)""".stripMargin

  /** Shared CTE chain producing per-doc (source, verdict) — the SQL
    * mirror of [[withQualityVerdict]]; quality_gate appends the
    * verdict histogram, quality_audit the per-source Wilson rollup. */
  private lazy val qualityVerdictCtes =
    s"""WITH d AS (
      |  SELECT doc_id, text, source,
      |    ${langScores.map(_._2).mkString("greatest(", ", ", ")")} AS m
      |  FROM documents
      |), base AS (
      |  SELECT doc_id, source, $langCase AS lang,
      |    len($toksExpr) AS n_tok,
      |    len(list_filter($toksExpr, t -> t IN $stopwordList)) AS n_stop
      |  FROM d
      |), tok AS (
      |  SELECT doc_id, unnest($toksExpr) AS w FROM documents
      |), tc AS (
      |  SELECT doc_id, MAX(c) AS top_tok FROM (
      |    SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2
      |  ) GROUP BY doc_id
      |), bgl AS (
      |  SELECT doc_id, $toksExpr AS toks FROM documents
      |), bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS g
      |  FROM bgl
      |), bc AS (
      |  SELECT doc_id,
      |    COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS dup_bg
      |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2)
      |  GROUP BY doc_id
      |), v AS (
      |  SELECT b.doc_id, b.source,
      |    CASE WHEN b.n_tok < 15 THEN 'too_short'
      |         WHEN b.n_tok > 90 THEN 'too_long'
      |         WHEN CAST(b.n_stop AS DOUBLE) / b.n_tok < 0.03
      |           THEN 'low_stopwords'
      |         WHEN CAST(tc.top_tok AS DOUBLE) / b.n_tok > 0.125
      |           THEN 'repetitive_token'
      |         WHEN (CASE WHEN b.n_tok - 1 > 0
      |                THEN CAST(COALESCE(bc.dup_bg, 0) AS DOUBLE)
      |                     / (b.n_tok - 1)
      |                ELSE 0 END) > 0.1
      |           THEN 'repetitive_bigrams'
      |         WHEN b.lang NOT IN ('en', 'de', 'es', 'fr') THEN 'lang'
      |         ELSE 'accept' END AS verdict
      |  FROM base b
      |  JOIN tc ON b.doc_id = tc.doc_id
      |  LEFT JOIN bc ON b.doc_id = bc.doc_id
      |)""".stripMargin

  /** 64-bit SimHash oracle pieces mirroring TextShingles.simhash64:
    * per-token value = first 16 hex chars of md5 parsed as an unsigned
    * 64-bit int (HUGEINT intermediate — DuckDB's << overflow-checks
    * BIGINT), then a majority-vote bit list, then the signed signature
    * (bit 63 contributes Long.MinValue) and 4 disjoint 16-bit bands. */
  private val simhashValsExpr =
    """list_transform(toks, s -> list_sum(list_transform(range(1,17),
      |    c -> CAST(strpos('0123456789abcdef', substr(md5(s), CAST(c AS INT), 1)) - 1 AS HUGEINT)
      |         << CAST((16 - c) * 4 AS INT))))""".stripMargin

  private val simhashBitsExpr =
    """list_transform(range(0,64), j -> CASE WHEN 2 * len(list_filter(vals,
      |    x -> (x >> CAST(j AS INT)) & 1 = 1)) > len(vals) THEN 1 ELSE 0 END)""".stripMargin

  private val simhashSigExpr =
    s"""CAST(CASE WHEN bits[64] = 1 THEN ${Long.MinValue} ELSE 0 END
       | + list_sum(list_transform(range(0,63),
       |     j -> bits[CAST(j+1 AS INT)] * (1::BIGINT << CAST(j AS INT)))) AS BIGINT)""".stripMargin

  private def simhashBandExpr(b: Int) =
    s"""CAST(list_sum(list_transform(range(0,16),
       |  r -> bits[CAST(${16 * b} + r + 1 AS INT)] * (1::BIGINT << CAST(r AS INT)))) AS BIGINT)""".stripMargin

  /** Winnowing oracle pieces generated from the same constants as the
    * compiled kernel (k=8, w=8, base/mod in TextShingles). */
  private val winnowHashExpr = {
    val pows = graft.functions.TextShingles.winnowPowers(8)
    val terms = (0 until 8).map { j =>
      s"CAST(ascii(substr(text, CAST(i + $j AS INT), 1)) AS BIGINT) * ${pows(j)}"
    }.mkString(" + ")
    s"list_transform(range(1, length(text) - 6), i -> ($terms) % " +
      s"${graft.functions.TextShingles.WinnowMod})"
  }

  private val normExpr =
    "regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+', ' ', 'g')"

  /** corpus_write_read's partitioned snapshot lands here, SF-suffixed
    * for the same cross-SF-clobber reason as the IVF centroid export
    * (the oracle itself never reads this path — it recomputes from
    * `documents` — so the suffix only keeps concurrent-SF runs from
    * overwriting each other's layout mid-read). */
  /** dedup_lsh_probe's persisted band-signature index. */
  private def lshIndexPath(dir: String): String =
    s"$artifactRoot/lsh_index_${new java.io.File(dir).getName}.parquet"

  /** mixture_temperature's one float op — √share in micro-units; ONE
    * SQL string for both engines (sqrt is correctly rounded by IEEE,
    * e0 literals are DOUBLE in both). */
  private val tempSqSql =
    "CAST(FLOOR(1e6 * sqrt(CAST(toks AS DOUBLE) / t)) AS BIGINT)"

  private def corpusExportPath(dir: String): String =
    s"$artifactRoot/corpus_${new java.io.File(dir).getName}.parquet"

  /** hll_pair_from_table's persisted per-source register table —
    * SF-suffixed like every at-rest layout (cross-SF clobber guard);
    * the oracle never reads it (it recomputes registers from
    * `documents` — parquet round-trips the integers losslessly).
    *
    * Concurrency contract (r19 ADVICE): CROSS-PROCESS writer-vs-reader
    * races cannot happen — [[graft.queries.artifactRoot]] is
    * pid-scoped, so a concurrent Verify and TimeQuery at the same SF
    * write disjoint trees. WITHIN one process, concurrent
    * constructions of the same sketch-table row (e.g. two test
    * threads) serialize through [[sketchTableWriteLock]] — and a
    * construction that issues MORE than one write (the
    * overwrite+append ingest rows) holds the lock across the whole
    * pair via [[withSketchTableLock]], so an interleaved pair can
    * neither lose an append under an overwrite nor double-append a
    * non-idempotent cell-add batch. Answer-time reads happen after
    * the construction-time writes return, and a deterministic
    * rewrite of identical content is the worst a sequential
    * re-construction can do — with one explicitly-accepted residual:
    * the returned DataFrame's `read.parquet(path)` executes LAZILY,
    * outside the lock, so a CONCURRENT re-construction of the same
    * row (overwrite = delete-then-write, non-atomic) can race a
    * previously-returned frame's scan and fail it transiently on
    * missing files. The content is identical either way (retry
    * succeeds); production hardening is a temp-dir write + atomic
    * rename publish. This applies to every from-table/ingest row
    * sharing this pattern (hll/kmv/cms ingest, pair-from-table,
    * sliding-from-table). */
  private def hllRegExportPath(dir: String): String =
    s"$artifactRoot/hll_regs_${new java.io.File(dir).getName}.parquet"

  /** hll_table_ingest's at-rest "existing corpus" register table. */
  private def hllIngestExportPath(dir: String): String =
    s"$artifactRoot/hll_ingest_${new java.io.File(dir).getName}.parquet"

  /** kmv_pair_from_table's persisted per-source bottom-k table (r19
    * verdict task #2 — the [[hllRegExportPath]] pattern for the
    * engine's measured-better overlap estimator). */
  private def kmvSketchExportPath(dir: String): String =
    s"$artifactRoot/kmv_sketch_${new java.io.File(dir).getName}.parquet"

  /** kmv_table_ingest's at-rest "existing corpus" bottom-k table —
    * the [[hllIngestExportPath]] pattern for the KMV family; extends
    * by the bottom-k union law, which dedups by hash and is therefore
    * idempotent under overlapping re-ingest (like HLL's register-max,
    * unlike the CMS/HDR cell-adds). */
  private def kmvIngestExportPath(dir: String): String =
    s"$artifactRoot/kmv_ingest_${new java.io.File(dir).getName}.parquet"

  /** cms_table_ingest's persisted d×w cell table (r20 — completes
    * durable at-rest coverage across all four sketch families). Like
    * the HDR day table and unlike HLL's, CMS cells merge by ADDITION
    * — shard-safe, NOT idempotent — so the append discipline is
    * at-most-once per batch (disjoint slices; in production a
    * per-batch partition overwrite / atomic rename). */
  private def cmsCellExportPath(dir: String): String =
    s"$artifactRoot/cms_cells_${new java.io.File(dir).getName}.parquet"

  /** Serializes same-path sketch-table writes within this JVM
    * (see the concurrency contract on [[hllRegExportPath]]): one lock
    * object per distinct export path, so unrelated tables never
    * contend. A single write is safe on its own, but an
    * overwrite+append PAIR (the ingest rows — and CMS/HDR cell-add
    * appends are not idempotent, so an interleaved pair would
    * double-count) must hold the lock across BOTH writes: wrap the
    * construction in [[withSketchTableLock]] — intrinsic locks are
    * reentrant, so the inner per-write acquisition nests freely. */
  private val sketchTableWriteLock =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Runs `body` holding `path`'s write lock — the unit of atomicity
    * for multi-write sketch-table constructions (overwrite + append). */
  private def withSketchTableLock[A](path: String)(body: => A): A =
    sketchTableWriteLock.computeIfAbsent(path, _ => new Object)
      .synchronized(body)

  private def writeSketchTable(df: DataFrame, path: String)
      : Unit =
    withSketchTableLock(path) {
      df.write.mode("overwrite").parquet(path)
    }

  /** The ingest rows' write: `atRest` overwrites the table at `path`,
    * then `batch` is appended, with the path lock held across BOTH
    * writes — an interleaved pair from a concurrent construction would
    * lose the append under the overwrite, or double-count a
    * non-idempotent cell-add batch. Returns the read-back table. */
  private[queries] def overwriteThenAppend(atRest: DataFrame,
      batch: DataFrame, path: String): DataFrame = {
    withSketchTableLock(path) {
      writeSketchTable(atRest, path)
      batch.write.mode("append").parquet(path)
    }
    atRest.sparkSession.read.parquet(path)
  }

  /** The ingest rows' one-row construction-time action: max of `column`
    * over `df`, the bound that splits history from the new batch. An
    * empty frame has no bound and fails with `emptyMessage` (max() of
    * no rows is NULL). */
  private[queries] def splitBound(df: DataFrame, column: String,
      emptyMessage: => String): Long = {
    val mx = df.agg(max(column)).head
    require(!mx.isNullAt(0), emptyMessage)
    mx.getLong(0)
  }

  /** One past the corpus' largest doc_id — the document ingest rows'
    * [[splitBound]]. */
  private def docSplit(s: org.apache.spark.sql.SparkSession, dir: String,
      row: String): Long =
    splitBound(Tables.documents(s, dir), "doc_id",
      s"$row: documents table at $dir is empty — " +
        "no doc_id bound to split existing corpus vs new batch") + 1

  private val minhashMins = (0 until 8).map { i =>
    s"min(substr(md5(s), ${4 * i + 1}, 8)) AS h$i"
  }.mkString(",\n    ")

  private val bandRows = (0 until 4).map { b =>
    s"SELECT doc_id, $b AS band, h${2 * b} || '|' || h${2 * b + 1} AS band_key FROM sig"
  }.mkString("\n  UNION ALL ")

  /** [[bandRows]] over an arbitrarily-named signature CTE — for
    * oracles holding TWO signature tables (dedup_lsh_probe). */
  private def bandRowsFrom(src: String) = (0 until 4).map { b =>
    s"SELECT doc_id, $b AS band, h${2 * b} || '|' || h${2 * b + 1} " +
      s"AS band_key FROM $src"
  }.mkString("\n  UNION ALL ")

  /** Shared prefix of the components/survivors oracles: SimHash band
    * pairs symmetrized, then the recursive-CTE transitive closure
    * (`reach`). DuckDB accepts non-recursive CTEs appended after the
    * recursive one, so both oracles extend this with their final
    * SELECT. */
  private val componentsReachCte =
    s"""WITH RECURSIVE $allDocsCte,
      |t AS (SELECT doc_id, $toksExpr AS toks FROM all_docs),
      |v AS (SELECT doc_id, $simhashValsExpr AS vals FROM t),
      |bb AS (SELECT doc_id, $simhashBitsExpr AS bits FROM v),
      |s AS (
      |  SELECT doc_id, $simhashSigExpr AS simhash,
      |    ${simhashBandExpr(0)} AS b0, ${simhashBandExpr(1)} AS b1,
      |    ${simhashBandExpr(2)} AS b2, ${simhashBandExpr(3)} AS b3
      |  FROM bb
      |), bands AS (
      |  SELECT doc_id, simhash, 0 AS band, b0 AS band_val FROM s
      |  UNION ALL SELECT doc_id, simhash, 1, b1 FROM s
      |  UNION ALL SELECT doc_id, simhash, 2, b2 FROM s
      |  UNION ALL SELECT doc_id, simhash, 3, b3 FROM s
      |), pr AS (
      |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      |  FROM bands a JOIN bands c
      |    ON a.band = c.band AND a.band_val = c.band_val
      |    AND a.doc_id < c.doc_id
      |  WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
      |), sym AS (
      |  SELECT id_a AS src, id_b AS dst FROM pr
      |  UNION SELECT id_b, id_a FROM pr
      |), reach(node, lbl) AS (
      |  SELECT src, src FROM sym
      |  UNION
      |  SELECT s2.dst, r.lbl FROM reach r JOIN sym s2 ON s2.src = r.node
      |)""".stripMargin

  private lazy val incrementalIngestSql =
    s"""WITH sz AS (
      |  SELECT MAX(doc_id) + 1 AS n FROM documents
      |), existing AS (
      |  SELECT DISTINCT md5($normExpr) AS fp FROM documents
      |  WHERE doc_id < (SELECT n * 4 // 5 FROM sz)
      |), batch AS (
      |  SELECT doc_id + $CopyShift AS doc_id, md5($normExpr) AS fp
      |  FROM documents WHERE doc_id >= (SELECT n * 3 // 5 FROM sz)
      |  UNION ALL
      |  SELECT doc_id + ${2 * CopyShift} AS doc_id, md5($normExpr) AS fp
      |  FROM documents WHERE doc_id >= (SELECT n * 9 // 10 FROM sz)
      |), kept AS (
      |  SELECT fp, MIN(doc_id) AS doc_id FROM batch GROUP BY fp
      |)
      |SELECT doc_id FROM kept
      |WHERE fp NOT IN (SELECT fp FROM existing)
      |ORDER BY doc_id""".stripMargin

  /** The bpe_merges loop as `n` chained CTE layers. Each word is
    * rendered as its symbols wrapped in exclusive separators —
    * `' ' || join(syms, '  ') || ' '`, every symbol owning one space
    * on each side — so a left-to-right `replace` of the wrapped pair
    * by the wrapped merged symbol is exactly greedy leftmost
    * non-overlapping merge application (no separator sharing between
    * adjacent matches, and SQL `replace` resumes after the replaced
    * region, so `[a,a,a]` under (a,a) yields `[aa,a]` — the
    * functions.Bpe.mergePair contract). Symbols are regex-split token
    * chars, so they never contain whitespace and the rendering is
    * injective. Per round: recover symbols (trim + split on the
    * double separator), count adjacent pairs, pick the
    * (count desc, pair asc) best, rewrite.
    *
    * Word layers carry a MATERIALIZED hint: each `w_r` is referenced
    * twice (its round's count and its successor), and without the
    * hint DuckDB's inlining re-expands the whole prefix per
    * reference — at 5 rounds that is tolerable, at 50 it exhausts
    * file handles re-opening the corpus parquet exponentially many
    * times. Materialized, the 50-round learn replays in ~2.6 s at
    * sf0.01. */
  /** Just the learn LAYERS (`w0` through `w$n` with their count/best
    * CTEs), so different final selects can ride one chain — the
    * merge-table report reads the `b_r`s, the compression curve
    * aggregates checkpoint `w_r`s. */
  private def bpeLearnLayersSql(n: Int): String = {
    def countsOf(w: String) =
      s"""(SELECT pair, COUNT(*) AS n FROM (
         |  SELECT unnest(list_transform(range(1, len(syms)),
         |    i -> syms[i] || ' ' || syms[i+1])) AS pair
         |  FROM (SELECT string_split(trim(s), '  ') AS syms FROM $w)
         |) GROUP BY pair)""".stripMargin
    val rounds = (1 to n).map { r =>
      s""",
         |c$r AS ${countsOf(s"w${r - 1}")},
         |b$r AS (SELECT pair, n FROM c$r ORDER BY n DESC, pair ASC
         |  LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT replace(s,
         |    ' ' || split_part(b.pair, ' ', 1) || '  ' ||
         |      split_part(b.pair, ' ', 2) || ' ',
         |    ' ' || replace(b.pair, ' ', '') || ' ') AS s
         |  FROM w${r - 1} CROSS JOIN b$r b
         |)""".stripMargin
    }.mkString
    s"""w0 AS MATERIALIZED (
       |  SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' '
       |    AS s
       |  FROM (SELECT unnest($toksExpr) AS w FROM documents)
       |  WHERE length(w) >= 2
       |)$rounds""".stripMargin
  }

  private def bpeMergesSqlFor(n: Int): String =
    s"""WITH ${bpeLearnLayersSql(n)}
       |${(1 to n).map(r => s"SELECT $r AS round, pair, n FROM b$r")
          .mkString(" UNION ALL ")}
       |ORDER BY round""".stripMargin

  /** Corpus compression at merge-count checkpoints, read off the
    * intermediate layers of the SAME 50-round chain. */
  private def bpeCurveSqlFor(checkpoints: Seq[Int]): String = {
    val selects = checkpoints.map { k =>
      s"""SELECT $k AS merges, COUNT(*) AS n_words,
         |  CAST(SUM(length(replace(trim(s), ' ', ''))) AS BIGINT)
         |    AS n_chars,
         |  CAST(SUM(len(string_split(trim(s), '  '))) AS BIGINT)
         |    AS n_syms,
         |  CAST(SUM(len(string_split(trim(s), '  '))) * 1000 //
         |    SUM(length(replace(trim(s), ' ', ''))) AS BIGINT)
         |    AS compression_1e3
         |FROM w$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeLearnLayersSql(checkpoints.max)}
       |$selects
       |ORDER BY merges""".stripMargin
  }

  private val bpeMergesSql: String = bpeMergesSqlFor(5)

  /** bpe_encode's oracle: the same five chained learn-layers as
    * [[bpeMergesSql]] (identical counts, tie-break and double-space
    * replace application) with doc_id threaded through every word
    * layer, PLUS the application of round 5's pair (the learn loop
    * only reports it), then one doc-keyed aggregate over the encoded
    * corpus. Stripping all spaces from a layer's rendering recovers
    * the original word, so n_chars needs no join back to w0. */
  /** The `n` chained BPE learn-and-apply CTE layers, parametrized by
    * the columns carried alongside the symbol string (`doc_id` for
    * bpe_encode, `lang` for bpe_fertility — the learned merges are
    * identical either way because the counts see the same word
    * instances). MATERIALIZED for the same reason as
    * [[bpeMergesSqlFor]]. */
  private def bpeRoundsSql(carry: String, n: Int): String = {
    def countsOf(w: String) =
      s"""(SELECT pair, COUNT(*) AS n FROM (
         |  SELECT unnest(list_transform(range(1, len(syms)),
         |    i -> syms[i] || ' ' || syms[i+1])) AS pair
         |  FROM (SELECT string_split(trim(s), '  ') AS syms FROM $w)
         |) GROUP BY pair)""".stripMargin
    (1 to n).map { r =>
      s""",
         |c$r AS ${countsOf(s"w${r - 1}")},
         |b$r AS (SELECT pair, n FROM c$r ORDER BY n DESC, pair ASC
         |  LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT $carry, replace(s,
         |    ' ' || split_part(b.pair, ' ', 1) || '  ' ||
         |      split_part(b.pair, ' ', 2) || ' ',
         |    ' ' || replace(b.pair, ' ', '') || ' ') AS s
         |  FROM w${r - 1} CROSS JOIN b$r b
         |)""".stripMargin
    }.mkString
  }

  /** Number of merge rounds the ENCODE-side queries train and apply —
    * the vocab-target build (r13's ask: a real tokenizer runs to a
    * merge budget, not a 5-round demo). The full 50-round learn is
    * replayed independently by the DuckDB oracle, so every one of the
    * 50 selections AND the encoded corpus are oracle-pinned. */
  private[graft] val BpeVocabRounds = 50

  private val bpeEncodeSql: String = {
    val rounds = bpeRoundsSql("doc_id", BpeVocabRounds)
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT doc_id,
       |    ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s
       |  FROM (SELECT doc_id, unnest($toksExpr) AS w FROM documents)
       |  WHERE length(w) >= 2
       |)$rounds
       |SELECT doc_id,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(length(replace(trim(s), ' ', ''))) AS BIGINT)
       |    AS n_chars,
       |  CAST(SUM(len(string_split(trim(s), '  '))) AS BIGINT)
       |    AS n_syms,
       |  CAST(SUM(len(string_split(trim(s), '  '))) AS DOUBLE) /
       |    SUM(length(replace(trim(s), ' ', ''))) AS compression
       |FROM w$BpeVocabRounds GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Same learned merges, rolled up per language in exact integers. */
  private val bpeFertilitySql: String = {
    val rounds = bpeRoundsSql("lang", BpeVocabRounds)
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT lang,
       |    ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s
       |  FROM (SELECT lang, unnest($toksExpr) AS w FROM documents)
       |  WHERE length(w) >= 2
       |)$rounds
       |SELECT lang,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(length(replace(trim(s), ' ', ''))) AS BIGINT)
       |    AS n_chars,
       |  CAST(SUM(len(string_split(trim(s), '  '))) AS BIGINT)
       |    AS n_syms,
       |  CAST(SUM(len(string_split(trim(s), '  '))) * 1000 //
       |    COUNT(*) AS BIGINT) AS fertility_1e3,
       |  CAST(SUM(len(string_split(trim(s), '  '))) * 1000 //
       |    SUM(length(replace(trim(s), ' ', ''))) AS BIGINT)
       |    AS compression_1e3
       |FROM w$BpeVocabRounds GROUP BY lang ORDER BY lang""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "containment_survivors" ->
      s"""WITH all_docs AS (
        |  SELECT doc_id, text, source, 'base' AS kind FROM documents
        |  UNION ALL
        |  SELECT doc_id + $CopyShift AS doc_id,
        |    array_to_string(
        |      ($toksExpr)[1:greatest(len($toksExpr) // 2, 1)], ' ')
        |      AS text,
        |    source, 'excerpt' AS kind
        |  FROM documents WHERE doc_id % 3 = 0
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS s
        |  FROM all_docs
        |), surviving AS (
        |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 20
        |), pruned AS (
        |  SELECT sh.doc_id, sh.s FROM sh JOIN surviving USING (s)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS set_size FROM pruned GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), frags AS (
        |  SELECT DISTINCT CASE
        |      WHEN sa.set_size < sb.set_size THEN id_a
        |      WHEN sb.set_size < sa.set_size THEN id_b
        |      ELSE greatest(id_a, id_b) END AS doc_id
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE inter * 1000 // least(sa.set_size, sb.set_size) >= 800
        |)
        |SELECT source, kind, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped,
        |  CAST(COUNT(*) - SUM(CASE WHEN f.doc_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
        |FROM all_docs d LEFT JOIN frags f USING (doc_id)
        |GROUP BY source, kind ORDER BY source, kind""".stripMargin,

    "ingest_changepoint" ->
      """WITH mm AS (
        |  SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
        |), b AS (
        |  SELECT (doc_id - lo) * 200 // (hi - lo + 1) AS bucket,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars
        |  FROM documents CROSS JOIN mm GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(chars) AS BIGINT) AS total_chars,
        |    COUNT(*) AS n_buckets
        |  FROM b
        |), c AS (
        |  SELECT bucket, chars,
        |    CAST(ROW_NUMBER() OVER (ORDER BY bucket) AS BIGINT)
        |      AS rank,
        |    CAST(SUM(chars) OVER (ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars,
        |    total_chars, n_buckets
        |  FROM b CROSS JOIN t
        |), s AS (
        |  SELECT bucket, chars,
        |    cum_chars * n_buckets - total_chars * rank AS cusum
        |  FROM c
        |), p AS (SELECT MAX(abs(cusum)) AS peak FROM s)
        |SELECT bucket, chars, CAST(cusum AS BIGINT) AS cusum,
        |  abs(cusum) = peak AS is_peak
        |FROM s CROSS JOIN p ORDER BY bucket""".stripMargin,

    "dup_triangle_count" ->
      s"""WITH $allDocsCte,
        |t AS (SELECT doc_id, $toksExpr AS toks FROM all_docs),
        |v AS (SELECT doc_id, $simhashValsExpr AS vals FROM t),
        |bb AS (SELECT doc_id, $simhashBitsExpr AS bits FROM v),
        |sig AS (
        |  SELECT doc_id, $simhashSigExpr AS simhash,
        |    ${simhashBandExpr(0)} AS b0, ${simhashBandExpr(1)} AS b1,
        |    ${simhashBandExpr(2)} AS b2, ${simhashBandExpr(3)} AS b3
        |  FROM bb
        |), bands AS (
        |  SELECT doc_id, simhash, 0 AS band, b0 AS band_val FROM sig
        |  UNION ALL SELECT doc_id, simhash, 1, b1 FROM sig
        |  UNION ALL SELECT doc_id, simhash, 2, b2 FROM sig
        |  UNION ALL SELECT doc_id, simhash, 3, b3 FROM sig
        |), e AS (
        |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.band_val = c.band_val
        |    AND a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
        |), deg AS (
        |  SELECT id, COUNT(*) AS d FROM (
        |    SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e)
        |  GROUP BY id
        |), wd AS (
        |  SELECT COUNT(*) AS n_nodes,
        |    CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM deg
        |), tr AS (
        |  SELECT COUNT(*) AS n_triangles FROM (
        |    SELECT x.id_a, y.id_b FROM e x JOIN e y ON x.id_b = y.id_a)
        |    w JOIN e ON w.id_a = e.id_a AND w.id_b = e.id_b
        |), ed AS (SELECT COUNT(*) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(n_triangles * 3 * 1000 // n_wedges AS BIGINT)
        |    END AS transitivity_pm
        |FROM wd CROSS JOIN ed CROSS JOIN tr""".stripMargin,

    "simhash_calibration" ->
      s"""WITH $allDocsCte,
        |t AS (SELECT doc_id, $toksExpr AS toks FROM all_docs),
        |v AS (SELECT doc_id, $simhashValsExpr AS vals FROM t),
        |bb AS (SELECT doc_id, $simhashBitsExpr AS bits FROM v),
        |sig AS (
        |  SELECT doc_id, $simhashSigExpr AS simhash,
        |    ${simhashBandExpr(0)} AS b0, ${simhashBandExpr(1)} AS b1,
        |    ${simhashBandExpr(2)} AS b2, ${simhashBandExpr(3)} AS b3
        |  FROM bb
        |), bands AS (
        |  SELECT doc_id, simhash, 0 AS band, b0 AS band_val FROM sig
        |  UNION ALL SELECT doc_id, simhash, 1, b1 FROM sig
        |  UNION ALL SELECT doc_id, simhash, 2, b2 FROM sig
        |  UNION ALL SELECT doc_id, simhash, 3, b3 FROM sig
        |), sp AS (
        |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
        |    CAST(bit_count(xor(a.simhash, c.simhash)) AS INT)
        |      AS hamming
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.band_val = c.band_val
        |    AND a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS s
        |  FROM all_docs
        |), surviving AS (
        |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 20
        |), pruned AS (
        |  SELECT sh.doc_id, sh.s FROM sh JOIN surviving USING (s)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS set_size FROM pruned GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), jp AS (
        |  SELECT id_a, id_b,
        |    CAST(inter * 1000 // (sa.set_size + sb.set_size - inter)
        |      AS BIGINT) AS jac_pm
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |)
        |SELECT hamming, COUNT(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN jac_pm >= 500 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_verified,
        |  CAST(SUM(CASE WHEN jac_pm >= 500 THEN 1 ELSE 0 END) * 1000
        |    // COUNT(*) AS BIGINT) AS precision_pm
        |FROM sp LEFT JOIN jp USING (id_a, id_b)
        |GROUP BY hamming ORDER BY hamming""".stripMargin,

    "dedup_containment" ->
      s"""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $CopyShift AS doc_id,
        |    array_to_string(
        |      ($toksExpr)[1:greatest(len($toksExpr) // 2, 1)], ' ')
        |      AS text
        |  FROM documents WHERE doc_id % 3 = 0
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS s
        |  FROM all_docs
        |), surviving AS (
        |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 20
        |), pruned AS (
        |  SELECT sh.doc_id, sh.s FROM sh JOIN surviving USING (s)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS set_size FROM pruned GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), sc AS (
        |  SELECT id_a, id_b, inter, sa.set_size AS size_a,
        |    sb.set_size AS size_b,
        |    CAST(inter * 1000 // least(sa.set_size, sb.set_size)
        |      AS BIGINT) AS cont_pm,
        |    CAST(inter * 1000 // (sa.set_size + sb.set_size - inter)
        |      AS BIGINT) AS jac_pm
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |)
        |SELECT id_a, id_b, inter, size_a, size_b, cont_pm, jac_pm
        |FROM sc WHERE cont_pm >= 800 AND jac_pm < 800
        |ORDER BY id_a, id_b""".stripMargin,

    "hll_shingle_report" -> {
      val est = Sketches.hllEstimateSql(8)
      s"""WITH sh AS (
        |  SELECT source, unnest($shinglesExpr) AS sh FROM documents
        |), hh AS (
        |  SELECT source,
        |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        |  FROM sh
        |), r AS (
        |  SELECT source, h // 4503599627370496 AS register,
        |    MAX(CASE WHEN h % 4503599627370496 = 0 THEN 53
        |      ELSE 53 - length(bin(h % 4503599627370496)) END) AS m
        |  FROM hh GROUP BY source, register
        |), su AS (
        |  SELECT source, 256 - COUNT(*) AS v_zero,
        |    (256 - COUNT(*)) * 9007199254740992 +
        |      CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s_scaled
        |  FROM r GROUP BY source
        |), ex AS (
        |  SELECT source, COUNT(DISTINCT sh) AS exact_distinct FROM sh
        |  GROUP BY source
        |), j AS (
        |  SELECT su.source, v_zero, s_scaled, $est AS hll_estimate,
        |    exact_distinct
        |  FROM su JOIN ex USING (source)
        |)
        |SELECT source, v_zero, s_scaled, hll_estimate, exact_distinct,
        |  $HllErrPermilleSql AS err_permille
        |FROM j ORDER BY source""".stripMargin
    },

    "cms_bigram_report" ->
      s"""WITH t AS (
        |  SELECT $toksExpr AS toks FROM documents
        |), b AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[CAST(i AS INT)] || ' ' ||
        |         toks[CAST(i + 1 AS INT)])) AS key
        |  FROM t WHERE len(toks) >= 2
        |), cells AS (
        |  SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) ||
        |      ':cms:' || key), 1, 15))::BIGINT % 256 AS c,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM b, (SELECT unnest([0, 1, 2]) AS r)
        |  GROUP BY r, c
        |), top AS (
        |  SELECT key, CAST(COUNT(*) AS BIGINT) AS n_exact FROM b
        |  GROUP BY key ORDER BY n_exact DESC, key ASC LIMIT 20
        |), probe AS (
        |  SELECT t2.key, t2.n_exact, r.r,
        |    ('0x' || substr(md5(CAST(r.r AS VARCHAR) ||
        |      ':cms:' || t2.key), 1, 15))::BIGINT % 256 AS c
        |  FROM top t2, (SELECT unnest([0, 1, 2]) AS r) r
        |), est AS (
        |  SELECT key, n_exact,
        |    MIN(COALESCE(cells.cnt, 0)) AS cms_estimate
        |  FROM probe LEFT JOIN cells USING (r, c)
        |  GROUP BY key, n_exact
        |)
        |SELECT key AS bigram, n_exact,
        |  CAST(cms_estimate AS BIGINT) AS cms_estimate,
        |  (cms_estimate - n_exact) * 1000 // n_exact AS over_pm
        |FROM est ORDER BY n_exact DESC, bigram ASC""".stripMargin,

    "hll_shingle_sketch" -> hllSourceSketchOracleSql,

    "cms_bigram_sketch" -> cmsCellTableOracleSql,
    // identical whole-corpus cell derivation — the disjoint-slice
    // write/append/read round-trip is lossless integers, so the
    // ingest row must reproduce the unsharded sketch bit for bit
    "cms_table_ingest" -> cmsCellTableOracleSql,

    "hll_pair_overlap" -> {
      val est = Sketches.hllEstimateSql(8)
      s"""WITH shr AS (
        |  SELECT source, unnest($shinglesExpr) AS sh FROM documents
        |), dsh AS (
        |  SELECT DISTINCT source, sh FROM shr
        |), hh AS (
        |  SELECT source,
        |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        |  FROM dsh
        |), r AS (
        |  SELECT source, h // 4503599627370496 AS register,
        |    MAX(CASE WHEN h % 4503599627370496 = 0 THEN 53
        |      ELSE 53 - length(bin(h % 4503599627370496)) END) AS m
        |  FROM hh GROUP BY source, register
        |), su AS (
        |  SELECT source,
        |    (256 - COUNT(*)) * 9007199254740992 +
        |      CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s_scaled
        |  FROM r GROUP BY source
        |), se AS (
        |  SELECT source, $est AS est FROM su
        |), pairs AS (
        |  SELECT a.source AS s1, b.source AS s2
        |  FROM (SELECT DISTINCT source FROM r) a
        |  JOIN (SELECT DISTINCT source FROM r) b ON a.source < b.source
        |), pu AS (
        |  SELECT s1, s2, register, m FROM pairs
        |  JOIN r ON r.source = s1
        |  UNION ALL
        |  SELECT s1, s2, register, m FROM pairs
        |  JOIN r ON r.source = s2
        |), ur AS (
        |  SELECT s1, s2, register, MAX(m) AS m
        |  FROM pu GROUP BY s1, s2, register
        |), us AS (
        |  SELECT s1, s2,
        |    (256 - COUNT(*)) * 9007199254740992 +
        |      CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s_scaled
        |  FROM ur GROUP BY s1, s2
        |), ue AS (
        |  SELECT s1, s2, $est AS est_union FROM us
        |), ex AS (
        |  SELECT x.source AS s1, y.source AS s2,
        |    CAST(COUNT(*) AS BIGINT) AS exact_inter
        |  FROM dsh x JOIN dsh y
        |    ON x.sh = y.sh AND x.source < y.source
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT ue.s1, ue.s2,
        |    CAST(COALESCE(ex.exact_inter, 0) AS BIGINT) AS exact_inter,
        |    ea.est AS est_s1, eb.est AS est_s2, est_union
        |  FROM ue
        |  JOIN se ea ON ea.source = ue.s1
        |  JOIN se eb ON eb.source = ue.s2
        |  LEFT JOIN ex ON ex.s1 = ue.s1 AND ex.s2 = ue.s2
        |), f AS (
        |  SELECT s1, s2, exact_inter, $InterEstSql AS inter_est
        |  FROM j
        |)
        |SELECT s1, s2, exact_inter, inter_est,
        |  $InterErrPermilleSql AS err_pm
        |FROM f ORDER BY s1, s2""".stripMargin
    },

    "hll_pair_estimate" -> hllPairEstimateOracleSql,
    // identical algebra over the parquet-persisted register table —
    // lossless round-trip, so the same oracle pins it
    "hll_pair_from_table" -> hllPairEstimateOracleSql,

    // both register sets re-derived from the raw doc_id slices (the
    // oracle never reads the at-rest table); the merged set is the
    // registers of the UNION slice — the merge law the ingest rests on
    "hll_table_ingest" -> {
      val est = Sketches.hllEstimateSql(8)
      s"""WITH sz AS (
        |  SELECT MAX(doc_id) + 1 AS n FROM documents
        |), sh AS (
        |  SELECT source, doc_id, unnest($shinglesExpr) AS sh
        |  FROM documents
        |), hh AS (
        |  SELECT source, doc_id,
        |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        |  FROM sh
        |), re AS (
        |  SELECT source, h // 4503599627370496 AS register,
        |    MAX(CASE WHEN h % 4503599627370496 = 0 THEN 53
        |      ELSE 53 - length(bin(h % 4503599627370496)) END) AS m
        |  FROM hh WHERE doc_id < (SELECT n * 4 // 5 FROM sz)
        |  GROUP BY source, register
        |), rm AS (
        |  SELECT source, h // 4503599627370496 AS register,
        |    MAX(CASE WHEN h % 4503599627370496 = 0 THEN 53
        |      ELSE 53 - length(bin(h % 4503599627370496)) END) AS m
        |  FROM hh WHERE doc_id < (SELECT n * 4 // 5 FROM sz)
        |    OR doc_id >= (SELECT n * 3 // 5 FROM sz)
        |  GROUP BY source, register
        |), se AS (
        |  SELECT source, $est AS est_existing FROM (
        |    SELECT source,
        |      (256 - COUNT(*)) * 9007199254740992 +
        |        CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s_scaled
        |    FROM re GROUP BY source)
        |), sm AS (
        |  SELECT source, $est AS est_merged FROM (
        |    SELECT source,
        |      (256 - COUNT(*)) * 9007199254740992 +
        |        CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s_scaled
        |    FROM rm GROUP BY source)
        |)
        |SELECT se.source, est_existing, est_merged
        |FROM se JOIN sm ON sm.source = se.source
        |ORDER BY se.source""".stripMargin
    },

    "kmv_pair_overlap" -> {
      val est = Sketches.hllEstimateSql(8)
      s"""WITH shr AS (
        |  SELECT source, unnest($shinglesExpr) AS sh FROM documents
        |), dsh AS (
        |  SELECT DISTINCT source, sh FROM shr
        |), hh AS (
        |  SELECT source,
        |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        |  FROM dsh
        |), hhd AS (
        |  SELECT DISTINCT source, h FROM hh
        |), kv AS (
        |  SELECT source, h FROM (
        |    SELECT source, h,
        |      row_number() OVER (PARTITION BY source ORDER BY h) AS rk
        |    FROM hhd)
        |  WHERE rk <= 256
        |), smry AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_k,
        |    MAX(h) AS theta,
        |    CASE WHEN COUNT(*) < 256 THEN 1152921504606846976
        |      ELSE MAX(h) END AS th_eff
        |  FROM kv GROUP BY source
        |), pairs AS (
        |  SELECT a.source AS s1, b.source AS s2
        |  FROM (SELECT source FROM smry) a
        |  JOIN (SELECT source FROM smry) b ON a.source < b.source
        |), pt AS (
        |  SELECT p.s1, p.s2, LEAST(sa.th_eff, sb.th_eff) AS theta
        |  FROM pairs p
        |  JOIN smry sa ON sa.source = p.s1
        |  JOIN smry sb ON sb.source = p.s2
        |), cm AS (
        |  SELECT p.s1, p.s2, a.h
        |  FROM pairs p
        |  JOIN kv a ON a.source = p.s1
        |  JOIN kv b ON b.source = p.s2 AND b.h = a.h
        |), nm AS (
        |  SELECT cm.s1, cm.s2, CAST(COUNT(*) AS BIGINT) AS n_match
        |  FROM cm JOIN pt ON pt.s1 = cm.s1 AND pt.s2 = cm.s2
        |  WHERE cm.h < pt.theta GROUP BY 1, 2
        |), kf AS (
        |  SELECT pt.s1, pt.s2,
        |    CAST(COALESCE(nm.n_match, 0) AS BIGINT) AS n_match,
        |    pt.theta
        |  FROM pt LEFT JOIN nm ON nm.s1 = pt.s1 AND nm.s2 = pt.s2
        |), kl AS (
        |  SELECT s1, s2, ${Sketches.KmvInterEstSql} AS inter_kmv
        |  FROM kf
        |), r AS (
        |  SELECT source, h // 4503599627370496 AS register,
        |    MAX(CASE WHEN h % 4503599627370496 = 0 THEN 53
        |      ELSE 53 - length(bin(h % 4503599627370496)) END) AS m
        |  FROM hh GROUP BY source, register
        |), su AS (
        |  SELECT source,
        |    (256 - COUNT(*)) * 9007199254740992 +
        |      CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s_scaled
        |  FROM r GROUP BY source
        |), se AS (
        |  SELECT source, $est AS est FROM su
        |), pu AS (
        |  SELECT s1, s2, register, m FROM pairs
        |  JOIN r ON r.source = s1
        |  UNION ALL
        |  SELECT s1, s2, register, m FROM pairs
        |  JOIN r ON r.source = s2
        |), ur AS (
        |  SELECT s1, s2, register, MAX(m) AS m
        |  FROM pu GROUP BY s1, s2, register
        |), us AS (
        |  SELECT s1, s2,
        |    (256 - COUNT(*)) * 9007199254740992 +
        |      CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s_scaled
        |  FROM ur GROUP BY s1, s2
        |), ue AS (
        |  SELECT s1, s2, $est AS est_union FROM us
        |), jh AS (
        |  SELECT ue.s1, ue.s2,
        |    ea.est AS est_s1, eb.est AS est_s2, est_union
        |  FROM ue
        |  JOIN se ea ON ea.source = ue.s1
        |  JOIN se eb ON eb.source = ue.s2
        |), hl AS (
        |  SELECT s1, s2, $InterEstSql AS inter_hll FROM jh
        |), ex AS (
        |  SELECT x.source AS s1, y.source AS s2,
        |    CAST(COUNT(*) AS BIGINT) AS exact_inter
        |  FROM dsh x JOIN dsh y
        |    ON x.sh = y.sh AND x.source < y.source
        |  GROUP BY 1, 2
        |), f AS (
        |  SELECT hl.s1, hl.s2,
        |    CAST(COALESCE(ex.exact_inter, 0) AS BIGINT) AS exact_inter,
        |    inter_hll, inter_kmv
        |  FROM hl
        |  JOIN kl ON kl.s1 = hl.s1 AND kl.s2 = hl.s2
        |  LEFT JOIN ex ON ex.s1 = hl.s1 AND ex.s2 = hl.s2
        |)
        |SELECT s1, s2, exact_inter, inter_hll,
        |  ${errPermilleSql("inter_hll")} AS err_pm_hll,
        |  inter_kmv,
        |  ${errPermilleSql("inter_kmv")} AS err_pm_kmv
        |FROM f ORDER BY s1, s2""".stripMargin
    },

    // the oracle never shards (hll_merge_shards discipline): the
    // whole-corpus bottom-k IS what the sharded merge must equal
    "kmv_merge_shards" -> kmvBottomKTableOracleSql,
    // identical whole-corpus bottom-k derivation — the overlapping
    // write/extend/read round-trip is lossless longs and bottom-k
    // union dedups by hash, so the ingest row must reproduce the
    // unsharded sketch table bit for bit
    "kmv_table_ingest" -> kmvBottomKTableOracleSql,

    "kmv_pair_estimate" -> kmvPairEstimateOracleSql,
    // identical algebra over the parquet-persisted bottom-k table —
    // lossless long round-trip, so the same oracle pins it (the
    // hll_pair_from_table discipline for the better estimator)
    "kmv_pair_from_table" -> kmvPairEstimateOracleSql,

    // merge-law rows: the oracle NEVER shards — it derives the
    // whole-corpus sketch in one pass, so hash equality against the
    // Spark side's shard-and-merge derivation proves the merge law
    // across engines on real data
    "hll_merge_shards" -> hllSourceSketchOracleSql,

    "cms_merge_shards" -> cmsCellTableOracleSql,

    "heaps_law" ->
      s"""WITH d AS (
        |  SELECT doc_id // 50 AS bucket, $toksExpr AS toks
        |  FROM documents
        |), tb AS (
        |  SELECT bucket, CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY bucket
        |), ft AS (
        |  SELECT term, MIN(bucket) AS bucket
        |  FROM (SELECT bucket, unnest(toks) AS term FROM d)
        |  GROUP BY term
        |), nt AS (
        |  SELECT bucket, COUNT(*) AS new_terms FROM ft GROUP BY bucket
        |)
        |SELECT tb.bucket,
        |  CAST(SUM(n_tokens) OVER (ORDER BY tb.bucket
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CAST(SUM(COALESCE(new_terms, 0)) OVER (ORDER BY tb.bucket
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
        |FROM tb LEFT JOIN nt USING (bucket)
        |ORDER BY bucket""".stripMargin,

    "quota_sample" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
        |), t AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn FROM c
        |), a0 AS (
        |  SELECT lang, n, 100 * n // nn AS base, (100 * n) % nn AS rem
        |  FROM c CROSS JOIN t
        |), sb AS (
        |  SELECT CAST(SUM(base) AS BIGINT) AS sbase FROM a0
        |), a AS (
        |  SELECT lang,
        |    LEAST(CAST(base + CASE WHEN ROW_NUMBER() OVER (
        |      ORDER BY rem DESC,
        |      lang) <= 100 - sbase THEN 1 ELSE 0 END AS BIGINT),
        |      CAST(n AS BIGINT)) AS k_alloc
        |  FROM a0 CROSS JOIN sb
        |), r AS (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5('samp:' || CAST(doc_id AS VARCHAR)) DESC,
        |        doc_id) AS rk
        |  FROM documents
        |)
        |SELECT r.lang, k_alloc, doc_id, rk
        |FROM r JOIN a USING (lang) WHERE rk <= k_alloc
        |ORDER BY lang, rk""".stripMargin,

    "token_budget_plan" ->
      s"""WITH w(lang, weight_pct) AS (VALUES
        |  ('en', 50), ('de', 15), ('fr', 15), ('es', 10), ('zh', 10)
        |), d AS (
        |  SELECT lang, CAST(len($toksExpr) AS BIGINT) AS toks
        |  FROM documents
        |), bl AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(toks) AS BIGINT) AS lang_tokens
        |  FROM d GROUP BY lang
        |), t AS (
        |  SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens FROM bl
        |), p AS (
        |  SELECT bl.lang, n_docs, lang_tokens,
        |    CAST(weight_pct AS BIGINT) AS weight_pct,
        |    total_tokens * 2 * weight_pct // 100 AS target_tokens
        |  FROM bl JOIN w USING (lang) CROSS JOIN t
        |)
        |SELECT lang, n_docs, lang_tokens, weight_pct,
        |  CAST(target_tokens AS BIGINT) AS target_tokens,
        |  CAST(target_tokens * 1000 // lang_tokens AS BIGINT)
        |    AS epochs_1e3,
        |  target_tokens * 1000 // lang_tokens > 4000 AS over_cap
        |FROM p ORDER BY lang""".stripMargin,

    "pack_efficiency_sweep" ->
      s"""WITH d AS (
        |  SELECT doc_id, CAST(len($toksExpr) AS BIGINT) AS toks,
        |    ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT % 32 AS bucket
        |  FROM documents
        |), o AS (
        |  SELECT bucket, toks,
        |    SUM(toks) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - toks AS off
        |  FROM d
        |), l(max_len) AS (VALUES (128), (256), (512)),
        |b AS (
        |  SELECT bucket, CAST(SUM(toks) AS BIGINT) AS btoks
        |  FROM o GROUP BY bucket
        |), sq AS (
        |  SELECT max_len,
        |    CAST(SUM((btoks + max_len - 1) // max_len) AS BIGINT)
        |      AS n_seqs,
        |    CAST(SUM(((btoks + max_len - 1) // max_len) * max_len
        |      - btoks) AS BIGINT) AS pad_tokens
        |  FROM b CROSS JOIN l GROUP BY max_len
        |), sd AS (
        |  SELECT max_len,
        |    CAST(SUM(CASE WHEN off // max_len
        |      != (off + toks - 1) // max_len THEN 1 ELSE 0 END)
        |      AS BIGINT) AS split_docs
        |  FROM o CROSS JOIN l GROUP BY max_len
        |)
        |SELECT CAST(sq.max_len AS BIGINT) AS max_len, n_seqs,
        |  pad_tokens,
        |  CAST(pad_tokens * 1000000 // (n_seqs * sq.max_len) AS BIGINT)
        |    AS pad_ppm,
        |  split_docs
        |FROM sq JOIN sd ON sq.max_len = sd.max_len
        |ORDER BY max_len""".stripMargin,

    "lang_margin" ->
      s"""WITH d AS (
        |  SELECT doc_id, text,
        |    ${langScores.map(_._2).mkString("greatest(", ", ", ")")} AS m,
        |    list_sort([${langScores.map(s => s"CAST(${s._2} AS BIGINT)")
             .mkString(", ")}], 'DESC') AS ss
        |  FROM documents
        |)
        |SELECT doc_id, $langCase AS lang,
        |  ss[1] AS best, ss[2] AS second, ss[1] - ss[2] AS margin
        |FROM d ORDER BY doc_id""".stripMargin,
    "bigram_surprisal" ->
      s"""WITH t AS (
        |  SELECT doc_id, $toksExpr AS toks FROM documents
        |), big AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[CAST(i AS INT)] || ' ' ||
        |         toks[CAST(i + 1 AS INT)])) AS bigram
        |  FROM t WHERE len(toks) >= 2
        |), vocab AS (
        |  SELECT bigram, COUNT(*) AS n FROM big GROUP BY bigram
        |), tot AS (
        |  SELECT SUM(n) AS n_total FROM vocab
        |)
        |SELECT b.doc_id,
        |  COUNT(*) AS n_bigrams,
        |  CAST(SUM(length(CAST(tt.n_total AS VARCHAR))
        |    - length(CAST(v.n AS VARCHAR))) AS BIGINT) AS surprisal,
        |  CAST(SUM(length(CAST(tt.n_total AS VARCHAR))
        |    - length(CAST(v.n AS VARCHAR))) AS DOUBLE) / COUNT(*)
        |    AS mean_surprisal
        |FROM big b JOIN vocab v USING (bigram) CROSS JOIN tot tt
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "kn_surprisal" ->
      s"""WITH t AS (
        |  SELECT doc_id, $toksExpr AS toks FROM documents
        |), bge AS (
        |  SELECT doc_id,
        |    toks[CAST(i AS INT)] AS w1, toks[CAST(i + 1 AS INT)] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        |        FROM t WHERE len(toks) >= 2)
        |), c12 AS (
        |  SELECT w1, w2, COUNT(*) AS n12 FROM bge GROUP BY w1, w2
        |), lft AS (
        |  SELECT w1, CAST(SUM(n12) AS BIGINT) AS c1, COUNT(*) AS n1p
        |  FROM c12 GROUP BY w1
        |), cont AS (
        |  SELECT w2, COUNT(*) AS ncont FROM c12 GROUP BY w2
        |), typ AS (
        |  SELECT COUNT(*) AS ntypes FROM c12
        |), sc AS (
        |  SELECT b.doc_id, $knProbSql AS p
        |  FROM bge b
        |  JOIN c12 USING (w1, w2)
        |  JOIN lft USING (w1)
        |  JOIN cont USING (w2)
        |  CROSS JOIN typ
        |)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM($knBucketSql) AS BIGINT) AS kn_surprisal,
        |  MIN(p) AS min_p,
        |  CAST(SUM($knBucketSql) AS DOUBLE) / COUNT(*)
        |    AS mean_surprisal
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      s"""WITH d AS (
        |  SELECT doc_id, text,
        |    ${langScores.map(_._2).mkString("greatest(", ", ", ")")} AS m
        |  FROM documents
        |)
        |SELECT doc_id,
        |  len($toksExpr) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))
        |    AS n_tokens_bpeish,
        |  len(list_filter($toksExpr, t -> t IN $stopwordList)) AS n_stopwords,
        |  length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g'))
        |    AS n_punct,
        |  len(list_filter($toksExpr, t -> t IN $stopwordList)) / len($toksExpr)
        |    AS stopword_ratio,
        |  (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g'))) / length(text)
        |    AS punct_ratio,
        |  length(regexp_replace(text, '\\s+', '', 'g')) / len($toksExpr)
        |    AS mean_word_len,
        |  $langCase AS lang_pred,
        |  md5($normExpr) AS fp,
        |  md5(array_to_string(list_sort(list_distinct($toksExpr)), ' ')) AS bag_fp
        |FROM d ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (
        |  SELECT doc_id, $toksExpr AS toks FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(toks) AS w FROM t
        |), tc AS (
        |  SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2
        |), ts AS (
        |  SELECT doc_id, CAST(MAX(c) AS INT) AS top_tok_count,
        |    CAST(COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS INT)
        |      AS dup_tok_count
        |  FROM tc GROUP BY 1
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1])) AS g
        |  FROM t
        |), bc AS (
        |  SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2
        |), bs AS (
        |  SELECT doc_id, CAST(MAX(c) AS INT) AS top_bigram_count,
        |    CAST(COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS INT)
        |      AS dup_bigram_count
        |  FROM bc GROUP BY 1
        |)
        |SELECT t.doc_id,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  COALESCE(ts.top_tok_count, 0) AS top_tok_count,
        |  COALESCE(ts.dup_tok_count, 0) AS dup_tok_count,
        |  CAST(greatest(len(toks) - 1, 0) AS INT) AS n_bigrams,
        |  COALESCE(bs.top_bigram_count, 0) AS top_bigram_count,
        |  COALESCE(bs.dup_bigram_count, 0) AS dup_bigram_count,
        |  CASE WHEN len(toks) > 0 THEN
        |    CAST(COALESCE(ts.top_tok_count, 0) AS DOUBLE) / len(toks)
        |  END AS top_tok_frac,
        |  CASE WHEN len(toks) > 0 THEN
        |    CAST(COALESCE(ts.dup_tok_count, 0) AS DOUBLE) / len(toks)
        |  END AS dup_tok_frac,
        |  CASE WHEN len(toks) - 1 > 0 THEN
        |    CAST(COALESCE(bs.dup_bigram_count, 0) AS DOUBLE)
        |      / (len(toks) - 1)
        |  END AS dup_bigram_frac
        |FROM t
        |LEFT JOIN ts ON t.doc_id = ts.doc_id
        |LEFT JOIN bs ON t.doc_id = bs.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "dedup_exact" ->
      s"""WITH $allDocsCte
        |SELECT md5($normExpr) AS fp, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS dup_count
        |FROM all_docs GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
        |v AS (SELECT doc_id, $simhashValsExpr AS vals FROM t),
        |b AS (SELECT doc_id, $simhashBitsExpr AS bits FROM v)
        |SELECT doc_id, $simhashSigExpr AS simhash
        |FROM b ORDER BY doc_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $allDocsCte,
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS s
        |  FROM all_docs
        |), sig AS (
        |  SELECT doc_id,
        |    $minhashMins
        |  FROM sh GROUP BY doc_id
        |), bands AS (
        |  $bandRows
        |)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.band_key = b.band_key
        |  AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $allDocsCte,
        |t AS (SELECT doc_id, $toksExpr AS toks FROM all_docs),
        |v AS (SELECT doc_id, $simhashValsExpr AS vals FROM t),
        |bb AS (SELECT doc_id, $simhashBitsExpr AS bits FROM v),
        |s AS (
        |  SELECT doc_id, $simhashSigExpr AS simhash,
        |    ${simhashBandExpr(0)} AS b0, ${simhashBandExpr(1)} AS b1,
        |    ${simhashBandExpr(2)} AS b2, ${simhashBandExpr(3)} AS b3
        |  FROM bb
        |), bands AS (
        |  SELECT doc_id, simhash, 0 AS band, b0 AS band_val FROM s
        |  UNION ALL SELECT doc_id, simhash, 1, b1 FROM s
        |  UNION ALL SELECT doc_id, simhash, 2, b2 FROM s
        |  UNION ALL SELECT doc_id, simhash, 3, b3 FROM s
        |)
        |SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash, c.simhash)) AS INT) AS hamming
        |FROM bands a JOIN bands c
        |  ON a.band = c.band AND a.band_val = c.band_val
        |  AND a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_modality_agreement" ->
      s"""WITH $allDocsCte,
        |t AS (SELECT doc_id, $toksExpr AS toks FROM all_docs),
        |v AS (SELECT doc_id, $simhashValsExpr AS vals FROM t),
        |bb AS (SELECT doc_id, $simhashBitsExpr AS bits FROM v),
        |s AS (
        |  SELECT doc_id, $simhashSigExpr AS simhash,
        |    ${simhashBandExpr(0)} AS b0, ${simhashBandExpr(1)} AS b1,
        |    ${simhashBandExpr(2)} AS b2, ${simhashBandExpr(3)} AS b3
        |  FROM bb
        |), bands AS (
        |  SELECT doc_id, simhash, 0 AS band, b0 AS band_val FROM s
        |  UNION ALL SELECT doc_id, simhash, 1, b1 FROM s
        |  UNION ALL SELECT doc_id, simhash, 2, b2 FROM s
        |  UNION ALL SELECT doc_id, simhash, 3, b3 FROM s
        |), tp AS (
        |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.band_val = c.band_val
        |    AND a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
        |), all_vecs AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + $CopyShift, embedding, label FROM embeddings
        |), ep AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM all_vecs a JOIN all_vecs b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE ${SimilarityQueries.cosSql("a.embedding", "b.embedding")}
        |    >= 0.99
        |)
        |SELECT COALESCE(tp.id_a, ep.id_a) AS id_a,
        |  COALESCE(tp.id_b, ep.id_b) AS id_b,
        |  CAST(CASE WHEN tp.id_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS in_text,
        |  CAST(CASE WHEN ep.id_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS in_embedding
        |FROM tp FULL OUTER JOIN ep
        |  ON tp.id_a = ep.id_a AND tp.id_b = ep.id_b
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_components" ->
      s"""$componentsReachCte
        |SELECT node AS id, MIN(lbl) AS canonical
        |FROM reach GROUP BY node ORDER BY id""".stripMargin,
    "dedup_survivors" ->
      s"""$componentsReachCte,
        |comp AS (
        |  SELECT node AS id, MIN(lbl) AS canonical
        |  FROM reach GROUP BY node
        |)
        |SELECT doc_id FROM all_docs
        |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> canonical)
        |ORDER BY doc_id""".stripMargin,
    "text_normalize" ->
      s"""WITH p AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 3 = 0 THEN '$DecomposedSuffix'
        |                 ELSE '' END AS t
        |  FROM documents
        |)
        |SELECT doc_id, md5(nfc_normalize(t)) AS nfc_fp,
        |  nfc_normalize(t) <> t AS changed
        |FROM p ORDER BY doc_id""".stripMargin,
    "vocab_topk" ->
      s"""SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest($toksExpr) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,
    "hot_bigrams" ->
      s"""WITH t AS (
        |  SELECT $toksExpr AS toks FROM documents
        |), b AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[CAST(i AS INT)] || ' ' ||
        |         toks[CAST(i + 1 AS INT)])) AS bigram
        |  FROM t WHERE len(toks) >= 2
        |), tot AS (SELECT COUNT(*) AS n FROM b)
        |SELECT bigram, COUNT(*) AS n_occurrences,
        |  CAST(COUNT(*) * 1000 // t2.n AS BIGINT) AS permille
        |FROM b CROSS JOIN tot t2
        |GROUP BY bigram, t2.n
        |HAVING COUNT(*) * 1000000 >= 1500 * t2.n
        |ORDER BY n_occurrences DESC, bigram ASC""".stripMargin,
    "chunk_report" ->
      s"""WITH t AS (
        |  SELECT doc_id, $toksExpr AS toks FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST((GREATEST(len(toks), 1) - 1) // 48 + 1 AS BIGINT)
        |      AS n_chunks
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, n_chunks,
        |  md5(array_to_string(toks[1:64], ' ')) AS chunk0_md5,
        |  CAST(LEAST(64, n_tokens - 48 * (n_chunks - 1)) AS BIGINT)
        |    AS last_chunk_tokens
        |FROM c ORDER BY doc_id""".stripMargin,
    "vocab_coverage" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($toksExpr) AS token FROM documents
        |), vocab AS (
        |  SELECT token FROM (
        |    SELECT token, COUNT(*) AS n FROM toks GROUP BY token
        |    ORDER BY n DESC, token ASC LIMIT 10)
        |)
        |SELECT t.doc_id,
        |  COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_oov,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1000
        |    // COUNT(*) AS BIGINT) AS oov_permille
        |FROM toks t LEFT JOIN vocab v ON v.token = t.token
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "tfidf_topk" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($toksExpr) AS token FROM documents
        |), tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tok
        |  WHERE token NOT IN $stopwordList GROUP BY doc_id, token
        |), df AS (
        |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
        |), scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    tf.tf / (df.df + 1) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf / (df.df + 1) DESC, tf.token ASC) AS rank
        |  FROM tf JOIN df USING (token)
        |)
        |SELECT doc_id, rank, token, tf, df, score FROM scored
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "quality_gate" ->
      s"""$qualityVerdictCtes
        |SELECT verdict, COUNT(*) AS n_docs
        |FROM v GROUP BY verdict ORDER BY verdict""".stripMargin,
    "quality_audit" ->
      s"""$qualityVerdictCtes, agg AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN verdict = 'accept' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pass
        |  FROM v GROUP BY source
        |)
        |SELECT source, n_docs, n_pass,
        |  n_pass * 1000 // n_docs AS pass_permille,
        |  ${wilsonPermicronSql("n_pass", "n_docs", "-")}
        |    AS wilson_low_1e6,
        |  ${wilsonPermicronSql("n_pass", "n_docs", "+")}
        |    AS wilson_high_1e6
        |FROM agg ORDER BY source""".stripMargin,
    "doc_surprisal" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($toksExpr) AS token FROM documents
        |), vocab AS (
        |  SELECT token, COUNT(*) AS n FROM toks GROUP BY token
        |), tot AS (
        |  SELECT SUM(n) AS n_total FROM vocab
        |)
        |SELECT t.doc_id,
        |  COUNT(*) AS n_tokens,
        |  CAST(SUM(length(CAST(tt.n_total AS VARCHAR))
        |    - length(CAST(v.n AS VARCHAR))) AS BIGINT) AS surprisal,
        |  CAST(SUM(length(CAST(tt.n_total AS VARCHAR))
        |    - length(CAST(v.n AS VARCHAR))) AS DOUBLE) / COUNT(*)
        |    AS mean_surprisal
        |FROM toks t
        |JOIN vocab v USING (token)
        |CROSS JOIN tot tt
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "dedup_incremental" -> incrementalIngestSql,
    // Bloom variant is EXACT (the anti-join scrubs false positives;
    // Bloom has no false negatives) — same oracle by design.
    "dedup_incremental_bloom" -> incrementalIngestSql,
    "corpus_rollup" ->
      """SELECT lang, source, GROUPING(lang, source) AS gid,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP(lang, source)
        |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    "train_split" ->
      """SELECT doc_id, source,
        |  substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |    AS bucket,
        |  CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |         < 'cc' THEN 'train'
        |       WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |         < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_winnowing" ->
      s"""WITH h AS (
        |  SELECT doc_id, $winnowHashExpr AS hs
        |  FROM documents WHERE length(text) >= 8
        |), wmin AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) <= 8 THEN [list_min(hs)]
        |         ELSE list_transform(range(1, len(hs) - 6),
        |                i -> list_min(hs[i:i+7])) END AS mins
        |  FROM h
        |)
        |SELECT doc_id, unnest(list_sort(list_distinct(mins))) AS fp
        |FROM wmin ORDER BY doc_id, fp""".stripMargin,
    "source_cap" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
        |      AS tokens_d,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY CAST(len(string_split_regex(trim(text), '\s+'))
        |        AS DOUBLE) DESC, doc_id) AS rnk
        |  FROM documents
        |)
        |SELECT source, doc_id, CAST(tokens_d AS BIGINT) AS tokens,
        |  CAST(rnk AS INT) AS rank
        |FROM r WHERE rnk <= 5 ORDER BY source, rank""".stripMargin,
    "decontaminate" ->
      s"""WITH bench AS (
        |  SELECT DISTINCT unnest(list_distinct($shinglesExpr)) AS sh
        |  FROM documents WHERE doc_id < 20
        |), corp AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS sh
        |  FROM documents WHERE doc_id >= 20
        |), cont AS (
        |  SELECT DISTINCT c.doc_id FROM corp c JOIN bench b USING (sh)
        |)
        |SELECT d.doc_id, (cont.doc_id IS NOT NULL) AS contaminated
        |FROM documents d LEFT JOIN cont ON d.doc_id = cont.doc_id
        |WHERE d.doc_id >= 20 ORDER BY d.doc_id""".stripMargin,
    "vocab_drift" ->
      s"""WITH h AS (
        |  SELECT MAX(doc_id) // 2 AS half FROM documents
        |), tok AS (
        |  SELECT CASE WHEN doc_id <= (SELECT half FROM h)
        |    THEN 'a' ELSE 'b' END AS half,
        |    unnest($toksExpr) AS token FROM documents
        |), counts AS (
        |  SELECT token,
        |    CAST(SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM tok GROUP BY token
        |), f AS (
        |  SELECT * FROM counts WHERE c1 + c2 >= 20
        |), t AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2 FROM f
        |)
        |SELECT token, c1, c2,
        |  ((c1 - e1) * (c1 - e1)) / e1 + ((c2 - e2) * (c2 - e2)) / e2 AS chi2
        |FROM (
        |  SELECT token, c1, c2,
        |    (CAST(c1 + c2 AS DOUBLE) * n1) / (n1 + n2) AS e1,
        |    (CAST(c1 + c2 AS DOUBLE) * n2) / (n1 + n2) AS e2
        |  FROM f, t
        |)
        |ORDER BY chi2 DESC, token ASC LIMIT 20""".stripMargin,
    "mixture_sample" ->
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    len(string_split_regex(trim(text), '\\s+')) AS toks
        |  FROM documents
        |), bys AS (
        |  SELECT source, SUM(toks) AS tok_s FROM d GROUP BY source
        |), g AS (
        |  SELECT CAST(SUM(tok_s) AS BIGINT) AS total, COUNT(*) AS n_src
        |  FROM bys
        |), rates AS (
        |  SELECT source,
        |    CAST(g.total AS DOUBLE) / (g.n_src * 2 * tok_s) AS rate
        |  FROM bys, g
        |)
        |SELECT d.source, COUNT(*) AS n_docs_kept,
        |  CAST(SUM(d.toks) AS BIGINT) AS tokens_kept
        |FROM d JOIN rates USING (source)
        |WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 < rate
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "collocations_topk" ->
      s"""WITH tok AS (
        |  SELECT $toksExpr AS toks FROM documents
        |), tot AS (
        |  SELECT SUM(len(toks)) AS n FROM tok
        |), un AS (
        |  SELECT w, COUNT(*) AS n
        |  FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w
        |), bn AS (
        |  SELECT bg[1] AS w1, bg[2] AS w2, COUNT(*) AS n_ab
        |  FROM (SELECT unnest(list_transform(range(1, len(toks)),
        |          i -> [toks[i], toks[i+1]])) AS bg FROM tok)
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |)
        |SELECT b.w1, b.w2, b.n_ab, a.n AS n_a, c.n AS n_b,
        |  (CAST(b.n_ab AS DOUBLE) * CAST((SELECT n FROM tot) AS DOUBLE))
        |    / (CAST(a.n AS DOUBLE) * c.n) AS lift
        |FROM bn b JOIN un a ON b.w1 = a.w JOIN un c ON b.w2 = c.w
        |ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    "contamination_overlap" ->
      s"""WITH bench AS (
        |  SELECT DISTINCT unnest(list_distinct($shinglesExpr)) AS sh
        |  FROM documents WHERE doc_id < 20
        |), corp AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS sh
        |  FROM documents WHERE doc_id >= 20
        |), tot AS (
        |  SELECT doc_id, len(list_distinct($shinglesExpr)) AS n_shingles
        |  FROM documents WHERE doc_id >= 20
        |), ov AS (
        |  SELECT c.doc_id, COUNT(*) AS n_overlap
        |  FROM corp c JOIN bench b USING (sh) GROUP BY c.doc_id
        |)
        |SELECT t.doc_id, t.n_shingles, o.n_overlap,
        |  o.n_overlap / t.n_shingles AS overlap_frac
        |FROM tot t JOIN ov o USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT lang, COUNT(*) AS n_docs
        |FROM documents
        |WHERE lang <> 'en'
        |   OR substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |      < '40'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "corpus_pipeline" ->
      s"""WITH ad AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + $CopyShift AS doc_id, text, lang FROM documents
        |), keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM ad GROUP BY md5($normExpr)
        |), q AS (
        |  SELECT a.doc_id, a.lang FROM ad a JOIN keep USING (doc_id)
        |  WHERE len(string_split_regex(trim(a.text), '\\s+')) >= 10
        |)
        |SELECT
        |  CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |         < 'cc' THEN 'train'
        |       WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |         < 'e6' THEN 'val'
        |       ELSE 'test' END AS split,
        |  lang, COUNT(*) AS n_docs
        |FROM q GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    "corpus_write_read" ->
      s"""WITH ad AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + $CopyShift AS doc_id, text, lang FROM documents
        |), keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM ad GROUP BY md5($normExpr)
        |), s AS (
        |  SELECT a.doc_id, a.lang,
        |    len(string_split_regex(trim(a.text), '\\s+')) AS n_tokens
        |  FROM ad a JOIN keep USING (doc_id)
        |  WHERE len(string_split_regex(trim(a.text), '\\s+')) >= 10
        |)
        |SELECT doc_id, lang, n_tokens FROM s
        |WHERE lang = 'en' AND doc_id BETWEEN 100 AND 100000
        |ORDER BY doc_id""".stripMargin,
    "text_redact" -> {
      // the Scala pattern string's chars embed verbatim in a SQL
      // single-quoted literal (no escape processing there)
      val redExpr = TextAnalysis.PiiPatterns.foldLeft("t") {
        case (acc, (_, pat, tok)) =>
          s"regexp_replace($acc, '$pat', '$tok', 'g')"
      }
      val tokCounts = TextAnalysis.PiiPatterns.map { case (name, _, tok) =>
        s"CAST(len(regexp_extract_all(red, '$tok')) AS INT) AS n_${name}s"
      }.mkString(",\n  ")
      s"""WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' reach me at user'
        |         || CAST(doc_id AS VARCHAR) || '@example.com or +1555'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' docs at https://example.org/d/'
        |         || CAST(doc_id AS VARCHAR) || ' host 10.0.'
        |         || CAST(doc_id % 256 AS VARCHAR) || '.17'
        |       ELSE '' END AS t
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, $redExpr AS red FROM p
        |)
        |SELECT doc_id, md5(red) AS redacted_fp,
        |  CAST(length(red) AS INT) AS n_chars_redacted,
        |  $tokCounts
        |FROM r ORDER BY doc_id""".stripMargin
    },
    "corpus_quantiles" ->
      s"""SELECT source,
        |  quantile_disc(t, 0.5) AS p50_tokens,
        |  quantile_disc(t, 0.9) AS p90_tokens,
        |  quantile_disc(t, 0.99) AS p99_tokens
        |FROM (SELECT source, CAST(len($toksExpr) AS BIGINT) AS t
        |      FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
    "length_outliers" ->
      s"""WITH d AS (
        |  SELECT source, CAST(len($toksExpr) AS BIGINT) AS tokens
        |  FROM documents
        |), th AS (
        |  SELECT quantile_disc(tokens, 0.05) AS lo,
        |    quantile_disc(tokens, 0.95) AS hi FROM d
        |)
        |SELECT source,
        |  CAST(SUM(CASE WHEN tokens < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_short,
        |  CAST(SUM(CASE WHEN tokens > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_long,
        |  CAST(SUM(CASE WHEN tokens BETWEEN lo AND hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept
        |FROM d, th GROUP BY source ORDER BY source""".stripMargin,
    "corpus_stats" ->
      """SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |    AS sum_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  COUNT(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $allDocsCte,
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS s
        |  FROM all_docs
        |), surviving AS (
        |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 20
        |), pruned AS (
        |  SELECT sh.doc_id, sh.s FROM sh JOIN surviving USING (s)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS set_size FROM pruned GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, inter, sa.set_size AS size_a,
        |  sb.set_size AS size_b,
        |  inter / (sa.set_size + sb.set_size - inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE inter / (sa.set_size + sb.set_size - inter) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    // 3 integer-unit power iterations over the simhash pair graph
    // (componentsReachCte supplies all_docs + the symmetrized sym
    // edge CTE; the unused reach CTE is never referenced, so DuckDB
    // plans it away).
    "pagerank_hubs" -> {
      val iters = (1 to 3).map { i =>
        s""",
           |c$i AS (
           |  SELECT e.dst AS doc_id,
           |    CAST(SUM(r.rank // d.deg) AS BIGINT) AS s
           |  FROM sym e
           |  JOIN r${i - 1} r ON r.doc_id = e.src
           |  JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst
           |), r$i AS (
           |  SELECT a.doc_id,
           |    150000 + COALESCE(c.s, CAST(0 AS BIGINT)) * 85 // 100
           |      AS rank
           |  FROM all_docs a LEFT JOIN c$i c USING (doc_id)
           |)""".stripMargin
      }.mkString
      s"""$componentsReachCte, deg AS (
        |  SELECT src, COUNT(*) AS deg FROM sym GROUP BY src
        |), r0 AS (
        |  SELECT doc_id, CAST(1000000 AS BIGINT) AS rank FROM all_docs
        |)$iters
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, doc_id)
        |    AS INT) AS hub_rank, doc_id, rank
        |FROM r3 ORDER BY rank DESC, doc_id LIMIT 20""".stripMargin
    },
    "leakage_safe_split" ->
      s"""$componentsReachCte, comp AS (
        |  SELECT node AS doc_id, MIN(lbl) AS canonical FROM reach
        |  GROUP BY node
        |), canon AS (
        |  SELECT a.doc_id, COALESCE(c.canonical, a.doc_id) AS canonical
        |  FROM all_docs a LEFT JOIN comp c USING (doc_id)
        |)
        |SELECT doc_id, canonical,
        |  substr(md5('split:' || CAST(canonical AS VARCHAR)), 1, 2)
        |    AS bucket,
        |  CASE WHEN substr(md5('split:' || CAST(canonical AS VARCHAR)),
        |         1, 2) < 'cc' THEN 'train'
        |       WHEN substr(md5('split:' || CAST(canonical AS VARCHAR)),
        |         1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM canon ORDER BY doc_id""".stripMargin,
    "source_manifest" ->
      s"""SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len($toksExpr)) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
        |  CAST(SUM(('0x' || substr(md5($normExpr), 1, 8))::BIGINT)
        |    AS BIGINT) AS content_digest
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "ngram_novelty" ->
      s"""WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS s
        |  FROM documents
        |), d AS (
        |  SELECT s, COUNT(*) AS df FROM sh GROUP BY s
        |)
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unique,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000 // COUNT(*) AS novelty_permille
        |FROM sh JOIN d USING (s)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "quality_dup_crosstab" ->
      s"""$componentsReachCte${qualityVerdictCtesOver("all_docs")}, dup AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT id_a AS doc_id FROM pr
        |    UNION ALL SELECT id_b FROM pr)
        |)
        |SELECT qv.verdict, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) * 1000 // COUNT(*) AS dup_permille
        |FROM qv LEFT JOIN dup USING (doc_id)
        |GROUP BY qv.verdict ORDER BY qv.verdict""".stripMargin,
    "cluster_labels" ->
      s"""$componentsReachCte, comp AS (
        |  SELECT node AS doc_id, MIN(lbl) AS canonical FROM reach
        |  GROUP BY node
        |), tk AS (
        |  SELECT c.canonical AS cluster, unnest($toksExpr) AS token
        |  FROM all_docs d JOIN comp c USING (doc_id)
        |), tf AS (
        |  SELECT cluster, token, COUNT(*) AS tf FROM tk
        |  WHERE token NOT IN $stopwordList GROUP BY 1, 2
        |), r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY cluster
        |    ORDER BY tf DESC, token) AS INT) AS rank
        |  FROM tf
        |)
        |SELECT cluster, rank, token, tf FROM r
        |WHERE rank <= 3 ORDER BY cluster, rank""".stripMargin,
    "minhash_calibration" -> {
      val agree = (0 until 8).map(i =>
        s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $allDocsCte,
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS s
        |  FROM all_docs
        |), sig AS (
        |  SELECT doc_id,
        |    $minhashMins
        |  FROM sh GROUP BY doc_id
        |), bands AS (
        |  $bandRows
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id
        |), surviving AS (
        |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 20
        |), pruned AS (
        |  SELECT sh.doc_id, sh.s FROM sh JOIN surviving USING (s)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS set_size FROM pruned GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), jp AS (
        |  SELECT c.id_a, c.id_b, $agree AS n_agree,
        |    COALESCE(i.inter * 1000
        |      // (za.set_size + zb.set_size - i.inter), 0) AS jp
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.id_a
        |  JOIN sig sb ON sb.doc_id = c.id_b
        |  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        |  LEFT JOIN sizes za ON za.doc_id = c.id_a
        |  LEFT JOIN sizes zb ON zb.doc_id = c.id_b
        |)
        |SELECT n_agree, COUNT(*) AS n_pairs,
        |  CAST(SUM(jp) AS BIGINT) // COUNT(*) AS mean_jaccard_permille,
        |  MIN(jp) AS min_jaccard_permille,
        |  MAX(jp) AS max_jaccard_permille
        |FROM jp GROUP BY n_agree ORDER BY n_agree""".stripMargin
    },
    "dedup_lsh_probe" ->
      s"""WITH sz AS (
        |  SELECT MAX(doc_id) + 1 AS n FROM documents
        |), corpus AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id < (SELECT n * 4 // 5 FROM sz)
        |), batch AS (
        |  SELECT doc_id + $CopyShift AS doc_id, text FROM documents
        |  WHERE doc_id >= (SELECT n * 3 // 5 FROM sz)
        |), shc AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS s
        |  FROM corpus
        |), sigc AS (
        |  SELECT doc_id, $minhashMins FROM shc GROUP BY doc_id
        |), bandsc AS (
        |  ${bandRowsFrom("sigc")}
        |), shb AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS s
        |  FROM batch
        |), sigb AS (
        |  SELECT doc_id, $minhashMins FROM shb GROUP BY doc_id
        |), bandsb AS (
        |  ${bandRowsFrom("sigb")}
        |)
        |SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
        |FROM bandsb b JOIN bandsc c
        |  ON b.band = c.band AND b.band_key = c.band_key
        |ORDER BY batch_id, corpus_id""".stripMargin,
    "mixture_temperature" ->
      s"""WITH d AS (
        |  SELECT source, CAST(len($toksExpr) AS BIGINT) AS toks
        |  FROM documents
        |), bys AS (
        |  SELECT source, CAST(SUM(toks) AS BIGINT) AS toks FROM d
        |  GROUP BY source
        |), tt AS (SELECT CAST(SUM(toks) AS BIGINT) AS t FROM bys),
        |sq AS (
        |  SELECT source, toks, t, $tempSqSql AS sq_1e6
        |  FROM bys CROSS JOIN tt
        |), zz AS (SELECT CAST(SUM(sq_1e6) AS BIGINT) AS z FROM sq)
        |SELECT source, toks,
        |  toks * 1000 // t AS share_permille,
        |  sq_1e6 * 1000 // z AS target_permille,
        |  LEAST(sq_1e6 * t * 1000 // (z * toks), CAST(4000 AS BIGINT))
        |    AS factor_1e3
        |FROM sq CROSS JOIN zz ORDER BY source""".stripMargin,
    "k_anonymity_report" ->
      """WITH g AS (
        |  SELECT lang, source, n_chars // 50 AS len_bucket,
        |    COUNT(*) AS k
        |  FROM documents GROUP BY 1, 2, 3
        |), b AS (
        |  SELECT CASE WHEN k = 1 THEN 'unique' WHEN k <= 5 THEN 'high'
        |              WHEN k <= 20 THEN 'medium' ELSE 'low' END
        |    AS risk_band, k
        |  FROM g
        |)
        |SELECT risk_band, COUNT(*) AS n_groups,
        |  CAST(SUM(k) AS BIGINT) AS n_docs,
        |  MIN(k) AS min_k, MAX(k) AS max_k
        |FROM b GROUP BY risk_band ORDER BY risk_band""".stripMargin,
    // Composes the two proven CTE families above (minhash bands →
    // candidate pairs; doc-freq-capped shingles → verified Jaccard
    // pairs) and counts overlap.
    "dedup_recall_report" ->
      s"""WITH $allDocsCte,
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesExpr)) AS s
        |  FROM all_docs
        |), sig AS (
        |  SELECT doc_id,
        |    $minhashMins
        |  FROM sh GROUP BY doc_id
        |), bands AS (
        |  $bandRows
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id
        |), surviving AS (
        |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 20
        |), pruned AS (
        |  SELECT sh.doc_id, sh.s FROM sh JOIN surviving USING (s)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS set_size FROM pruned GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), truth AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE inter / (sa.set_size + sb.set_size - inter) >= 0.8
        |), hit AS (
        |  SELECT t.id_a FROM truth t
        |  JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
        |), n AS (
        |  SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
        |    (SELECT COUNT(*) FROM cand) AS n_cand,
        |    (SELECT COUNT(*) FROM hit) AS n_hit
        |)
        |SELECT n_truth, n_cand, n_hit,
        |  CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT)
        |       ELSE n_hit * 1000 // n_truth END AS recall_permille,
        |  CASE WHEN n_cand = 0 THEN CAST(0 AS BIGINT)
        |       ELSE n_hit * 1000 // n_cand END AS precision_permille
        |FROM n""".stripMargin,
    "pack_sequences" ->
      s"""WITH d AS (
        |  SELECT doc_id, CAST(len($toksExpr) AS BIGINT) AS toks,
        |    ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT % 32 AS bucket
        |  FROM documents
        |), o AS (
        |  SELECT bucket, toks,
        |    SUM(toks) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - toks AS off
        |  FROM d
        |)
        |SELECT bucket, CAST(off // 256 AS BIGINT) AS seq_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS n_tokens
        |FROM o GROUP BY 1, 2 ORDER BY bucket, seq_id""".stripMargin,
    "epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    md5('shuf:e1|' || CAST(doc_id AS VARCHAR)) AS hx
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, hx,
        |    CAST(('0x' || substr(hx, 1, 8))::BIGINT % 8 AS INT) AS shard
        |  FROM h
        |)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |    ORDER BY hx, doc_id) AS INT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,
    "mixture_upsample" ->
      s"""WITH d AS (
        |  SELECT doc_id, source, CAST(len($toksExpr) AS BIGINT) AS toks
        |  FROM documents
        |), bys AS (
        |  SELECT source, SUM(toks) AS tok_s FROM d GROUP BY source
        |), t AS (SELECT MAX(tok_s) AS target FROM bys),
        |f AS (
        |  SELECT source,
        |    LEAST(CAST(t.target AS DOUBLE) / tok_s, 4.0) AS factor
        |  FROM bys, t
        |), c AS (
        |  SELECT d.source, d.toks,
        |    CAST(FLOOR(factor) +
        |      CASE WHEN ('0x' || substr(md5('epoch:' ||
        |             CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |             / 4294967296.0 < factor - FLOOR(factor)
        |           THEN 1 ELSE 0 END AS INT) AS copies
        |  FROM d JOIN f USING (source)
        |)
        |SELECT source, CAST(epoch AS INT) AS epoch, COUNT(*) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS tokens
        |FROM (SELECT source, toks, unnest(range(1, copies + 1)) AS epoch
        |      FROM c)
        |GROUP BY source, epoch ORDER BY source, epoch""".stripMargin,
    "adaptive_quality" ->
      s"""WITH d AS (
        |  SELECT lang, CAST(len($toksExpr) AS BIGINT) AS tokens
        |  FROM documents
        |), hist AS (
        |  SELECT lang, tokens, COUNT(*) AS cnt FROM d GROUP BY lang, tokens
        |), ranked AS (
        |  SELECT lang, tokens,
        |    SUM(cnt) OVER (PARTITION BY lang ORDER BY tokens) AS cum,
        |    SUM(cnt) OVER (PARTITION BY lang) AS n
        |  FROM hist
        |), th AS (
        |  SELECT lang,
        |    MIN(CASE WHEN cum >= CEIL(0.10 * n) THEN tokens END) AS cutoff
        |  FROM ranked GROUP BY lang
        |)
        |SELECT d.lang, MAX(cutoff) AS cutoff,
        |  CAST(SUM(CASE WHEN tokens >= cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN tokens < cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped
        |FROM d JOIN th USING (lang) GROUP BY d.lang
        |ORDER BY lang""".stripMargin,
    "bpe_pair_counts" ->
      s"""WITH words AS (
        |  SELECT unnest($toksExpr) AS w FROM documents
        |), pairs AS (
        |  SELECT unnest(list_transform(range(1, length(w)),
        |    i -> substr(w, CAST(i AS INT), 2))) AS pair
        |  FROM words WHERE length(w) >= 2
        |)
        |SELECT pair, COUNT(*) AS n FROM pairs
        |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin,
    "bpe_merges" -> bpeMergesSql,
    "bpe_merges50" -> bpeMergesSqlFor(BpeVocabRounds),
    "bpe_compression_curve" -> bpeCurveSqlFor(Seq(5, 10, 25, 50)),
    "bpe_encode" -> bpeEncodeSql,
    "bpe_fertility" -> bpeFertilitySql,
    "vocab_fof" ->
      s"""WITH tok AS (
        |  SELECT unnest($toksExpr) AS token FROM documents
        |), v AS (
        |  SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
        |)
        |SELECT freq, COUNT(*) AS n_tokens FROM v
        |GROUP BY freq ORDER BY freq""".stripMargin,
    "dedup_cluster_report" ->
      s"""$componentsReachCte,
        |comp AS (
        |  SELECT node AS id, MIN(lbl) AS canonical
        |  FROM reach GROUP BY node
        |)
        |SELECT canonical, COUNT(*) AS "size", MAX(id) AS max_id,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_chars
        |FROM comp JOIN all_docs ON all_docs.doc_id = comp.id
        |GROUP BY canonical ORDER BY canonical""".stripMargin,
    "dup_span_report" ->
      s"""WITH span_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $CopyShift AS doc_id, text FROM documents
        |  WHERE doc_id % 5 >= 3
        |), t AS (
        |  SELECT doc_id, $toksExpr AS toks FROM span_docs
        |), g AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
        |      i -> md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)],
        |        ' ')))) AS g
        |    FROM t WHERE len(toks) >= 8
        |  )
        |), f AS (
        |  SELECT g, COUNT(*) AS ndocs FROM g GROUP BY g
        |)
        |SELECT doc_id, COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup
        |FROM g JOIN f USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "winnow_overlap_words" ->
      s"""WITH $allDocsCte,
        |t AS (
        |  SELECT doc_id, $toksExpr AS toks FROM all_docs
        |), h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(toks) - 1),
        |      i -> substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 16))
        |      AS hs
        |  FROM t WHERE len(toks) >= 3
        |), wmin AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) <= 8 THEN [list_min(hs)]
        |         ELSE list_transform(range(1, len(hs) - 6),
        |                i -> list_min(hs[i:i+7])) END AS mins
        |  FROM h
        |), fps AS (
        |  SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM wmin
        |), bucketed AS (
        |  SELECT fp FROM (SELECT fp, COUNT(*) AS nd FROM fps GROUP BY fp)
        |  WHERE nd BETWEEN 2 AND 50
        |), cand AS (
        |  SELECT doc_id, fp FROM fps JOIN bucketed USING (fp)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  COUNT(*) AS n_shared
        |FROM cand a JOIN cand b
        |  ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY id_a, id_b HAVING COUNT(*) >= 5
        |ORDER BY id_a, id_b""".stripMargin,
    "winnow_overlap_pairs" ->
      s"""WITH $allDocsCte,
        |h AS (
        |  SELECT doc_id, $winnowHashExpr AS hs
        |  FROM all_docs WHERE length(text) >= 8
        |), wmin AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) <= 8 THEN [list_min(hs)]
        |         ELSE list_transform(range(1, len(hs) - 6),
        |                i -> list_min(hs[i:i+7])) END AS mins
        |  FROM h
        |), fps AS (
        |  SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM wmin
        |), bucketed AS (
        |  SELECT fp FROM (SELECT fp, COUNT(*) AS nd FROM fps GROUP BY fp)
        |  WHERE nd BETWEEN 2 AND 50
        |), cand AS (
        |  SELECT doc_id, fp FROM fps JOIN bucketed USING (fp)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  COUNT(*) AS n_shared
        |FROM cand a JOIN cand b
        |  ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY id_a, id_b HAVING COUNT(*) >= 10
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_survivors_quality" ->
      s"""$componentsReachCte,
        |comp AS (
        |  SELECT node AS id, MIN(lbl) AS canonical
        |  FROM reach GROUP BY node
        |), member AS (
        |  SELECT comp.id, comp.canonical, length(text) AS chars
        |  FROM comp JOIN all_docs ON all_docs.doc_id = comp.id
        |), ranked AS (
        |  SELECT id, canonical,
        |    row_number() OVER (PARTITION BY canonical
        |      ORDER BY chars DESC, id ASC) AS rn
        |  FROM member
        |)
        |SELECT doc_id FROM all_docs
        |WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rn > 1)
        |ORDER BY doc_id""".stripMargin,
    "dedup_span_trim" ->
      s"""WITH span_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $CopyShift AS doc_id, text FROM documents
        |  WHERE doc_id % 5 >= 3
        |), t AS (
        |  SELECT doc_id, $toksExpr AS toks FROM span_docs
        |), occ AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(toks) - 6)) AS i,
        |    unnest(list_transform(range(1, len(toks) - 6),
        |      i -> md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)],
        |        ' ')))) AS g
        |  FROM t WHERE len(toks) >= 8
        |), dupg AS (
        |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM occ)
        |  GROUP BY g HAVING COUNT(*) >= 2
        |), cov AS (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT doc_id, unnest(range(i, i + 8)) AS p
        |    FROM occ JOIN dupg USING (g)
        |  )
        |), pos AS (
        |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p,
        |    unnest(toks) AS tok
        |  FROM t
        |), kept AS (
        |  SELECT pos.doc_id, pos.p, pos.tok FROM pos
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |    WHERE cov.doc_id = pos.doc_id AND cov.p = pos.p)
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    md5(string_agg(tok, ' ' ORDER BY p)) AS trimmed_fp
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(toks) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(trimmed_fp, md5('')) AS trimmed_fp
        |FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    "cross_doc_span_trim" ->
      s"""WITH span_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $CopyShift AS doc_id, text FROM documents
        |  WHERE doc_id % 5 >= 3
        |), t AS (
        |  SELECT doc_id, $toksExpr AS toks FROM span_docs
        |), occ AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    unnest(range(1, len(toks) - 6)) AS i,
        |    unnest(list_transform(range(1, len(toks) - 6),
        |      i -> md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)],
        |        ' ')))) AS g
        |  FROM t WHERE len(toks) >= 8
        |), owners AS (
        |  SELECT g, max_by(doc_id, n_tokens * 100000000 - doc_id)
        |    AS owner
        |  FROM (SELECT DISTINCT doc_id, n_tokens, g FROM occ)
        |  GROUP BY g HAVING COUNT(*) >= 2
        |), cov AS (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT occ.doc_id, unnest(range(i, i + 8)) AS p
        |    FROM occ JOIN owners USING (g)
        |    WHERE occ.doc_id <> owners.owner
        |  )
        |), isl AS (
        |  SELECT doc_id, p,
        |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p)
        |      AS island
        |  FROM cov
        |)
        |SELECT doc_id, MIN(p) AS span_start, MAX(p) AS span_end,
        |  COUNT(*) AS span_len
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,
    "snapshot_diff" ->
      s"""WITH oldsnap AS (
        |  SELECT doc_id, md5(text) AS fp_old FROM documents
        |), newsnap AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
        |             ELSE text END) AS fp_new
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + $CopyShift AS doc_id, md5(text) AS fp_new
        |  FROM documents WHERE doc_id % 5 = 0
        |)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN fp_old <> fp_new THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "dedup_source_matrix" ->
      s"""$componentsReachCte
        |SELECT sa.source AS src_a, sb.source AS src_b,
        |  COUNT(*) AS n_pairs
        |FROM pr
        |JOIN documents sa ON sa.doc_id = pr.id_a % $CopyShift
        |JOIN documents sb ON sb.doc_id = pr.id_b % $CopyShift
        |GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin)
}
