package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.sources.Tables

/** Crawl-front-end tier: HTML→text extraction with boilerplate
  * removal, and URL/domain governance (canonicalize → registered-
  * domain rollup → per-domain caps + blocklist).
  *
  * These are the first two passes of every crawl-derived pretraining
  * pipeline — the stage BEFORE the text tier (quality gates, dedup,
  * tokenization) that the rest of this repo implements. The container
  * has no crawl corpus, so both tiers synthesize their raw inputs
  * deterministically around the `documents` fixture (the multimodal
  * tier's discipline: byte-exact synthetic wrappers, real plumbing):
  *
  *  - HTML: each doc gets a newline-delimited block wrapper — head
  *    title, a nav link bar, the document text as a content paragraph
  *    (every 3rd doc with one inline citation link), every 7th doc a
  *    link-farm paragraph, and a footer. Extraction is pure per-row
  *    string kernels (regexp tag strip + anchor-subtraction link
  *    density) — no joins, no shuffle beyond the final rollup, so the
  *    pass is embarrassingly parallel at any corpus size.
  *  - Boilerplate: the jusText idea (Pomikálek 2011) reduced to
  *    integer thresholds — a block survives iff its stripped text is
  *    ≥15 chars AND its link density is <300‰. Both thresholds are
  *    integer arithmetic on char counts, so Spark and DuckDB agree
  *    bit-for-bit.
  *  - URLs: scheme/host/path synthesized from doc_id residues with
  *    the classic canonicalization hazards baked in (uppercase hosts
  *    every 11th doc, an explicit :443 default port every 13th, a
  *    #fragment on every even doc, www./cdn. subdomain variants).
  *    Canonicalization lowercases the host, strips the default port
  *    and the fragment; the registered domain drops the subdomain.
  *
  * All four queries are oracle-checked end-to-end; the synthesis is
  * mirrored in the DuckDB CTEs so outputs are engine-identical.
  */
object WebQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic HTML wrapper around each document (see object
    * Scaladoc). Blocks are newline-delimited so the boilerplate pass
    * can segment with one split — a real pipeline segments on block
    * tags; the newline stands in for that boundary set. */
  private def withHtml(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val id = col("doc_id").cast("string")
    d.select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
      concat(
        lit("<html><head><title>Doc "), id,
        lit("</title></head><body>\n"),
        lit("<nav><a href=\"/\">home</a><a href=\"/a\">about</a>" +
          "<a href=\"/c\">contact</a></nav>\n"),
        lit("<p>"), col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" <a href=\"/ref\">source "), id, lit("</a>")))
          .otherwise(lit("")),
        lit("</p>\n"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("<p><a href=\"/x"), id,
            lit("\">more</a><a href=\"/y\">links</a></p>\n")))
          .otherwise(lit("")),
        lit("<footer><a href=\"/p\">privacy</a>(c) example.com" +
          "</footer>\n"),
        lit("</body></html>")).as("html"))
  }

  /** Strip all markup; drop the block-boundary newlines too so char
    * counts measure text, not structure. */
  private def stripTags(c: Column): Column =
    regexp_replace(regexp_replace(c, "<[^>]*>", ""), "\n", "")

  /** Synthetic URL per document with canonicalization applied — raw
    * URL, canonical host/path, registered domain (see object
    * Scaladoc for the hazard matrix). */
  private def withUrls(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val id = col("doc_id")
    val host0 = concat(
      when(pmod(id, lit(5)) === 0, lit("www."))
        .when(pmod(id, lit(5)) === 1, lit("cdn."))
        .otherwise(lit("")),
      lit("site"), pmod(id, lit(37)).cast("string"),
      when(pmod(id, lit(3)) === 0, lit(".com"))
        .when(pmod(id, lit(3)) === 1, lit(".org"))
        .otherwise(lit(".net")))
    val slug = when(pmod(id, lit(17)) === 0, lit("index"))
      .otherwise(id.cast("string"))
    val url = concat(lit("https://"),
      when(pmod(id, lit(11)) === 0, upper(host0)).otherwise(host0),
      when(pmod(id, lit(13)) === 0, lit(":443")).otherwise(lit("")),
      lit("/docs/"), slug, lit(".html"),
      when(pmod(id, lit(2)) === 0,
        concat(lit("#sec"), pmod(id, lit(4)).cast("string")))
        .otherwise(lit("")))
    d.withColumn("url", url)
      .withColumn("raw_hostport",
        regexp_extract(col("url"), "^https://([^/#]+)/", 1))
      // canonicalize: lowercase host, strip the scheme-default port
      .withColumn("host", expr("lower(replace(raw_hostport, ':443', ''))"))
      // path without the fragment — fragments never reach the server
      .withColumn("path",
        regexp_extract(col("url"), "^https://[^/#]+(/[^#]*)", 1))
      .withColumn("domain",
        regexp_replace(col("host"), "^(www|cdn)\\.", ""))
      .withColumn("canonical_url",
        concat(lit("https://"), col("host"), col("path")))
  }

  val all: Map[String, Q] = Map(

    // HTML→text EXTRACTION inventory — per document: the <title>,
    // raw vs extracted char counts, anchor count (replace-delta
    // counting, no regex list materialization), and the markup
    // overhead in integer permille. One scan, per-row kernels only —
    // the plan is a projection over the parquet scan, which is
    // exactly what a 100 TB extraction pass must be.
    "html_extract" -> { (s, dir) =>
      withHtml(s, dir)
        .withColumn("title",
          regexp_extract(col("html"), "<title>([^<]*)</title>", 1))
        .withColumn("n_raw_chars", length(col("html")).cast("long"))
        .withColumn("text_chars", length(stripTags(col("html")))
          .cast("long"))
        .withColumn("n_links",
          expr("CAST((length(html) - length(replace(html, '<a href', ''" +
            "))) div 7 AS BIGINT)"))
        .withColumn("markup_pm",
          expr("(n_raw_chars - text_chars) * 1000 div n_raw_chars"))
        .select("doc_id", "title", "n_raw_chars", "text_chars",
          "n_links", "markup_pm")
        .orderBy("doc_id")
    },

    // BOILERPLATE filter report — the jusText-style block audit per
    // source: segment each document into blocks, score each block's
    // stripped length and link density (anchor-subtraction: strip
    // tags with and without whole <a> elements and diff the
    // lengths), keep blocks ≥15 chars under 300‰ density, and roll
    // up kept/dropped counts and char volumes. The explode is
    // per-doc bounded (≤6 blocks), the rollup is source-cardinality —
    // map-side combinable, one exchange.
    "boilerplate_report" -> { (s, dir) =>
      val blocks = withHtml(s, dir)
        .select(col("source"),
          explode(split(col("html"), "\n")).as("block"))
        .filter(col("block") =!= "")
      val textLen = length(stripTags(col("block")))
      val noLinkLen = length(stripTags(
        regexp_replace(col("block"), "<a[^>]*>[^<]*</a>", "")))
      blocks
        .select(col("source"), textLen.as("text_len"),
          (textLen - noLinkLen).as("link_len"))
        .withColumn("kept", expr(
          "text_len >= 15 AND link_len * 1000 div greatest(text_len, 1)" +
            " < 300"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
          sum(when(col("kept"), col("text_len")).otherwise(0))
            .cast("long").as("kept_chars"),
          sum(when(col("kept"), lit(0)).otherwise(col("text_len")))
            .cast("long").as("dropped_chars"))
        .withColumn("drop_pm", expr("n_dropped * 1000 div n_blocks"))
        .orderBy("source")
    },

    // Registered-DOMAIN rollup — source_cap's governance one level
    // finer: canonicalize every URL, roll up to the registered
    // domain, and report URL/host/canonical cardinalities plus char
    // volume. n_raw_hosts > n_hosts is the canonicalization win made
    // visible (case + port variants collapse). Domain cardinality is
    // web-bounded (~10⁸ registered domains at full crawl scale), so
    // the rollup aggregate is always exchange-safe.
    "domain_rollup" -> { (s, dir) =>
      withUrls(s, dir)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("raw_hostport")).as("n_raw_hosts"),
          countDistinct(col("host")).as("n_hosts"),
          countDistinct(col("canonical_url")).as("n_canonical"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("domain")
    },

    // ROBOTS-style URL policy — the fetch-permission gate between the
    // frontier (which URLs exist) and the politeness limiter (how
    // fast to fetch them): per-domain allow/disallow PREFIX rules
    // resolved by the Robots Exclusion Protocol's most-specific-match
    // rule (RFC 9309 §2.2.2: the longest matching prefix wins, so a
    // specific re-allow pierces a broad disallow). The container has
    // no robots corpus, so rules derive deterministically from the
    // domain set itself — every domain allows "/", ~half (seeded md5
    // residue) disallow "/docs/", and ~half of those re-allow
    // "/docs/index.html" — exercising default-allow, blanket-block
    // and override-pierce paths (the index slug exists every 17th
    // doc, so the override MATTERS in the output). Shape (r22,
    // verdict #4): the domains-bounded rules frame is COLLECTED at
    // construction, compiled to per-domain segment matchers and
    // broadcast (guide §3.2's build-collect-broadcast — the same
    // domains bound the replaced broadcast JOIN already assumed), so
    // longest-prefix-wins evaluates in ONE compiled kernel call per
    // URL ([[graft.functions.RobotsMatch.decide]]): no rule-join
    // fan-out of the URL scan, no per-(url × rule) probe, and the
    // corpus-scale (doc_id, domain) max_by exchange is GONE — the
    // scan emits finished verdicts and the only exchange left is the
    // domains-sized report rollup. Prefix lengths are distinct by
    // construction, so the kernel's max-spec fold is a total order —
    // identical winner to the replaced max_by.
    "robots_policy" -> { (s, dir) =>
      val u = withUrls(s, dir).select(col("doc_id"), col("domain"),
        col("path"))
      val doms = u.select("domain").distinct()
      val b1 = substring(md5(concat(lit("robots:"), col("domain"))), 1, 1)
      val b2 = substring(md5(concat(lit("robots:"), col("domain"))), 2, 1)
      val rules = doms
        .select(col("domain"), lit("/").as("pattern"), lit(true).as("allow"))
        .unionByName(doms.filter(b1 < "8")
          .select(col("domain"), lit("/docs/").as("pattern"),
            lit(false).as("allow")))
        .unionByName(doms.filter(b1 < "8" && b2 < "8")
          .select(col("domain"), lit("/docs/index.html").as("pattern"),
            lit(true).as("allow")))
        .withColumn("spec", length(col("pattern")).cast("long"))
      u.withColumn("v", graft.functions.RobotsMatch.decide(
          rules, col("domain"), col("path")))
        .filter(col("v").isNotNull)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("v.allow"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(col("v.allow"), 0L).otherwise(1L)).as("n_disallowed"))
        .orderBy("domain")
    },

    // ROBOTS with the FULL RFC 9309 pattern grammar (r16 verdict task
    // #6) — robots_policy's literal-prefix tier plus WILDCARD rules:
    // `*` matches any octet sequence and `$` anchors the pattern at
    // the path end (RFC 9309 §2.2.3), so real-world rules like
    // "Disallow: /docs/*7.html$" are expressible. Most-specific-match
    // now ranks by PATTERN length (the reference robots.txt parsers'
    // octet count — wildcards count as one octet), with the RFC's
    // least-restrictive tie-break (equal specificity → allow wins)
    // encoded arithmetically: spec = 2·length(pattern) + allow-bit.
    // Matching (r22, verdict #4) implements the RFC grammar DIRECTLY
    // in the compiled [[graft.functions.RobotsMatch.decide]] kernel —
    // one call per URL against the collected-and-broadcast per-domain
    // segment matchers (guide §3.2; the same domains bound the
    // replaced broadcast join assumed) — so the LIKE translation, the
    // per-row regex compile of a non-foldable LIKE pattern, the ~5×
    // rule-join fan-out of the URL scan AND the corpus-scale
    // (doc_id, domain) max_by exchange are all gone. The
    // wildcard tiers extend the seeded rule synthesis: ~half the
    // domains (md5 residue b3) block slugs ending in 7, and ~half of
    // those (b4) re-allow ...77.html via a longer pattern —
    // exercising anchored-wildcard block and wildcard-over-wildcard
    // pierce; `n_wild_decided` counts URLs whose WINNING rule used
    // the grammar, so the tier visibly matters. Specs are distinct
    // per domain by construction, so the kernel's max-spec fold picks
    // the same winner as the replaced max_by pair. The only exchange
    // past the scan is the domains-sized report rollup.
    "robots_wildcard" -> { (s, dir) =>
      val u = withUrls(s, dir).select(col("doc_id"), col("domain"),
        col("path"))
      val doms = u.select("domain").distinct()
      val h = md5(concat(lit("robots:"), col("domain")))
      val b1 = substring(h, 1, 1)
      val b2 = substring(h, 2, 1)
      val b3 = substring(h, 3, 1)
      val b4 = substring(h, 4, 1)
      val rules = doms
        .select(col("domain"), lit("/").as("pattern"),
          lit(true).as("allow"))
        .unionByName(doms.filter(b1 < "8")
          .select(col("domain"), lit("/docs/").as("pattern"),
            lit(false).as("allow")))
        .unionByName(doms.filter(b1 < "8" && b2 < "8")
          .select(col("domain"), lit("/docs/index.html").as("pattern"),
            lit(true).as("allow")))
        .unionByName(doms.filter(b3 < "8")
          .select(col("domain"), lit("/docs/*7.html$").as("pattern"),
            lit(false).as("allow")))
        .unionByName(doms.filter(b3 < "8" && b4 < "8")
          .select(col("domain"), lit("/docs/*77.html$").as("pattern"),
            lit(true).as("allow")))
        .withColumn("spec", expr(
          "CAST(length(pattern) * 2 + IF(allow, 1, 0) AS BIGINT)"))
      u.withColumn("v", graft.functions.RobotsMatch.decide(
          rules, col("domain"), col("path")))
        .filter(col("v").isNotNull)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("v.allow"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(col("v.allow"), 0L).otherwise(1L))
            .as("n_disallowed"),
          sum(when(col("v.pat").rlike("[*$]"), 1L)
            .otherwise(0L)).as("n_wild_decided"))
        .orderBy("domain")
    },

    // BATCH politeness schedule — the crawl-plan AUDIT of a burst=1
    // GCRA limiter (PolitenessLimiter.batchSchedule scaladoc:
    // s_i = max(t_i, s_{i-1}+gap) has the closed form
    // gap·i + prefix-max(t_j − gap·j), one per-host cumulative-max
    // window — an ORACLE row, and PolitenessLimiterSpec pins it to a
    // sequential fold of the recurrence decision-for-decision).
    // Request log synthesis (mirrored in the oracle): waves 8 s apart
    // per host plus an md5 jitter in [0, 4 s) — inter-arrivals land
    // in [4 s, 12 s) around the 5 s gap, so conforming fetches,
    // one-off deferrals and short cascades all occur, host-varied.
    // Plan: one hash exchange on host + per-host ordered window
    // (hosts are the parallelism unit; no corpus-global window).
    "politeness_schedule" -> { (s, dir) =>
      val reqs = withUrls(s, dir)
        .select(col("doc_id"), col("host"))
        .withColumn("tsUs", expr(
          "doc_id div 37 * 8000000 + " +
            "CAST(conv(substring(md5(concat('req:', " +
            "CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT) " +
            "% 4000000"))
      graft.streaming.PolitenessLimiter
        .batchSchedule(reqs, 5000000L,
          Seq(col("tsUs"), col("doc_id")))
        .select(col("host"), col("doc_id"), col("tsUs").as("ts_us"),
          col("slot_us"), col("wait_us"), col("deferred"))
        .orderBy("host", "slot_us", "doc_id")
    },

    // REDIRECT-chain resolution — the crawl step between fetching and
    // URL dedup: every 301/308 hop is an edge in a FUNCTIONAL graph
    // (each URL has at most one redirect target), and the corpus
    // wants each page keyed by its TERMINAL URL, with redirect loops
    // detected rather than walked forever. Synthesis (mirrored in the
    // oracle CTE): ids group in 8s; offset 0 is the terminal page,
    // offsets walk down one id per hop (chains up to 7), and in a
    // seeded 1/8 of groups offset 5 redirects UP to 6 — a 2-cycle
    // {5,6} that offset 7's chain falls into (a tail-into-loop, the
    // shape real loop detectors must handle; 'dangling' covers a
    // target outside the crawl). Resolution is POINTER DOUBLING
    // (Wyllie 1979 list ranking): state (x, cur, hops) starts at one
    // hop and composes with itself — terminals are (x, x, 0)
    // fixpoints so composition needs no conditional — reaching f^(2^k)
    // after k rounds: ceil(log2(maxChain+1)) = 3 self-joins instead
    // of 7 sequential passes, each a hash equi-join on the frontier-
    // bounded URL set with lineage truncated per round (the house
    // Dedup.components discipline). A node still pointing at a
    // redirecting URL after 8 composed hops can only be on a cycle.
    // The oracle resolves the SAME graph by a genuinely different
    // algorithm — DuckDB's recursive CTE walks hop-at-a-time, capped
    // at 8 — so agreement checks the doubling algebra, not a shared
    // implementation.
    "redirect_resolve" -> { (s, dir) =>
      val grp = expr("CAST(doc_id div 8 AS STRING)")
      val nxt = Tables.documents(s, dir).select(col("doc_id").as("x"),
        when(expr("doc_id % 8") === 0, lit(null).cast("long"))
          .when(expr("doc_id % 8") === 5 &&
            substring(md5(concat(lit("cyc:"), grp)), 1, 1) < "2",
            col("doc_id") + 1)
          .otherwise(col("doc_id") - 1).as("nxt"))
      var st = nxt.select(col("x"),
        coalesce(col("nxt"), col("x")).as("cur"),
        when(col("nxt").isNull, 0L).otherwise(1L).as("hops"))
      for (_ <- 1 to 3) {
        val hop = st.select(col("x").as("bx"), col("cur").as("bcur"),
          col("hops").as("bhops"))
        st = graft.operators.Checkpoints.truncate(
          st.join(hop, col("cur") === col("bx"), "left")
            .select(col("x"), coalesce(col("bcur"), col("cur")).as("cur"),
              (col("hops") + coalesce(col("bhops"), lit(0L))).as("hops")),
          eager = false)
      }
      st.join(nxt.select(col("x").as("fx"), col("nxt").as("fnxt")),
          col("cur") === col("fx"), "left")
        .select(col("x").as("doc_id"), col("cur").as("final_id"),
          col("hops"),
          when(col("fx").isNull, lit("dangling"))
            .when(col("fnxt").isNull, lit("ok"))
            .otherwise(lit("loop")).as("status"))
        .orderBy("doc_id")
    },

    // CRAWL-DEPTH labeling — frontier BFS from the seed list over the
    // outlink graph, the "how deep did the crawl budget reach" audit
    // every crawl corpus ships with (depth is a quality prior: deep
    // pages are disproportionately spam/duplicates). Synthesis
    // (mirrored in the oracle): seeds are every 97th page; every page
    // links to the next (pagination), and every 17th page is an index
    // page fanning out to its 16 members — so depths spread over the
    // full 0..8 budget with an undiscovered tail (~60% here), both
    // regimes a depth report must show. The algorithm is textbook
    // DELTA-FRONTIER BFS: 8 rounds (the crawl budget) of frontier ⋈
    // edges, each new layer anti-joined against the visited set so
    // per-round work is ∝ the frontier, never the visited set, and
    // lineage is lazily checkpoint-truncated per round (the house
    // Dedup.components discipline). Contrast redirect_resolve: pointer
    // doubling needs a FUNCTIONAL graph (out-degree ≤ 1); BFS is the
    // general-fan-out tool, and its rounds are the budget semantics
    // itself (depth ≤ 8), not a log2 trick. The oracle explores the
    // same graph with a depth-capped recursive CTE (all paths, UNION-
    // deduped, min per node) — a genuinely different algorithm.
    "crawl_depth_bfs" -> { (s, dir) =>
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val edges0 = ids.select(col("doc_id").as("src"),
          explode(when(expr("doc_id % 17 = 0"),
              expr("sequence(doc_id + 1, doc_id + 16)"))
            .otherwise(array(col("doc_id") + 1))).as("dst"))
        .join(ids.select(col("doc_id").as("dst")), Seq("dst"),
          "left_semi")
      val edgesCk = graft.operators.Checkpoints.truncate(edges0,
        eager = false)
      var dist = graft.operators.Checkpoints.truncate(
        ids.filter(expr("doc_id % 97 = 0"))
          .select(col("doc_id").as("x"), lit(0L).as("depth")),
        eager = false)
      var frontier = dist
      for (d <- 1 to 8) {
        val nxt = graft.operators.Checkpoints.truncate(
          frontier.join(edgesCk, col("x") === col("src"))
            .select(col("dst").as("x")).distinct()
            .join(dist, Seq("x"), "left_anti")
            .select(col("x"), lit(d.toLong).as("depth")),
          eager = false)
        dist = graft.operators.Checkpoints.truncate(
          dist.unionByName(nxt), eager = false)
        frontier = nxt
      }
      ids.join(dist, col("doc_id") === col("x"), "left")
        .select(col("doc_id"),
          coalesce(col("depth"), lit(-1L)).as("depth"),
          when(col("depth").isNull, lit("undiscovered"))
            .when(col("depth") === 0L, lit("seed"))
            .otherwise(lit("reached")).as("status"))
        .orderBy("doc_id")
    },

    // ANCHOR-TEXT aggregation — the web-graph signal retrieval and
    // quality pipelines mine from crawls (anchor terms describe the
    // TARGET page better than the target's own text — the classic
    // web-IR observation behind anchor fields in BM25F): member pages
    // link to their group's index page (the same every-17th hub
    // structure crawl_depth_bfs fans out over) carrying their first
    // two tokens as anchor text; the report is each target's top-3
    // anchor terms. Plan: the per-(target, term) count is a vocab×
    // targets-bounded partial aggregate, and the top-3 cut runs
    // through the NATIVE bounded-heap top-k node (partial/final
    // around the exchange — the answer shuffles, not the corpus),
    // with (n desc, term asc) total order so the cut is
    // deterministic. The semi-join keeps only targets that exist in
    // the corpus (sparse id-space safety, e.g. ScaleUp copies).
    "anchor_text_topk" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val anchors = docs.filter(expr("doc_id % 17 != 0"))
        .select(expr("doc_id - doc_id % 17").as("target_id"),
          explode(slice(TextAnalysis.tokens(lower(col("text"))), 1, 2))
            .as("term"))
        .join(docs.select(col("doc_id").as("target_id")),
          Seq("target_id"), "left_semi")
      val counts = anchors.groupBy("target_id", "term")
        .agg(count(lit(1)).as("n"))
      graft.operators.TopK.perGroup(counts, "target_id", "term", "n", 3)
        .filter(col("rank") <= 3)
        .select(col("target_id"), col("term"), col("n"), col("rank"))
        .orderBy("target_id", "rank")
    },

    // Canonical-URL DEDUP — the crawl pipeline's very first dedup
    // (before any content hashing): re-crawls of one page differ only
    // in host case, an explicit default port, or a fragment; folding
    // those and grouping by the canonical URL collapses each variant
    // family to one survivor. The fixture plants 7-doc variant
    // families (URL parts keyed by doc_id div 7, variant hazards by
    // doc_id residues), and the query canonicalizes the RAW url with
    // the same regexp chain the rollup tier uses — one projection +
    // one canonical-keyed exchange, linear at any crawl size.
    "url_dedup" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"))
      val id = col("doc_id")
      val grp = expr("doc_id div 7")
      val host = concat(lit("site"), pmod(grp, lit(23)).cast("string"),
        when(pmod(grp, lit(3)) === 0, lit(".com"))
          .when(pmod(grp, lit(3)) === 1, lit(".org"))
          .otherwise(lit(".net")))
      val path = concat(lit("/page/"), grp.cast("string"), lit(".html"))
      val raw = concat(lit("https://"),
        when(pmod(id, lit(2)) === 0, upper(host)).otherwise(host),
        when(pmod(id, lit(3)) === 0, lit(":443")).otherwise(lit("")),
        path,
        when(pmod(id, lit(5)) === 0, lit("#top")).otherwise(lit("")))
      d.withColumn("raw_url", raw)
        .withColumn("hostport",
          regexp_extract(col("raw_url"), "^https://([^/#]+)/", 1))
        .withColumn("canonical_url", concat(lit("https://"),
          expr("lower(replace(hostport, ':443', ''))"),
          regexp_extract(col("raw_url"), "^https://[^/#]+(/[^#]*)", 1)))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("raw_url")).as("n_raw_variants"),
          min(col("doc_id")).as("survivor_id"))
        .orderBy("canonical_url")
    },

    // Crawl-frontier REFRESH PLAN — how often to re-crawl each
    // domain: per registered domain,
    // URL volume, canonical-dedup rate, and observed change rate
    // (snapshot_diff's doc_id % 11 edit rule — the re-crawl delta
    // signal), combined by an integer policy into a refresh interval —
    // weekly base, pulled earlier by change rate, pushed later by
    // duplication (a domain whose pages are mostly variants of each
    // other wastes crawl budget), clamped to [6h, 336h] — and a
    // priority rank. Shape: one scan into a domain-cardinality
    // aggregate (web-bounded), policy arithmetic per domain row, one
    // domains-sized rank window. All integer permille — hash-exact.
    "frontier_refresh_plan" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      withUrls(s, dir)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("canonical_url")).as("n_canonical"),
          sum(when(pmod(col("doc_id"), lit(11)) === 0, 1L)
            .otherwise(0L)).as("n_changed"))
        .withColumn("dup_pm",
          expr("(n_urls - n_canonical) * 1000 div n_urls"))
        .withColumn("change_pm", expr("n_changed * 1000 div n_urls"))
        .withColumn("refresh_hours", expr(
          "greatest(CAST(6 AS BIGINT), least(CAST(336 AS BIGINT), " +
            "168 - (change_pm * 162) div 1000 + " +
            "(dup_pm * 168) div 1000))"))
        .withColumn("priority", row_number().over(
          Window.orderBy(col("refresh_hours").asc, col("domain"))))
        .select("priority", "domain", "n_urls", "n_canonical",
          "dup_pm", "change_pm", "refresh_hours")
        .orderBy("priority")
    },

    // Cross-DOMAIN duplication matrix — dedup_source_matrix one
    // level finer (the r13 report works on the coarse `source`
    // column; real curation decisions happen per registered domain):
    // exact-fingerprint duplicate pairs across a planted re-crawl
    // (modulo-selected 40% tail, id-shifted by 1e6 — the dedup
    // tier's CopyShift invariant: base ids < 1e6, ScaleUp shifts by
    // 1e7), each side resolved to its registered domain (the SAME
    // doc_id-residue formula as domain_rollup, so the two reports
    // name the same entities), rolled up to (domain_a, domain_b)
    // pair counts. Fingerprint groups are doc-freq-capped (2..100 —
    // the ngramJaccardPairs discipline) so a pathological mirror
    // farm bounds the pair blowup; every join is a hash equi-join on
    // md5 or doc_id, and the matrix is domain²-bounded.
    "domain_dup_matrix" -> { (s, dir) =>
      val corpus = withRecrawl(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
      val fp = corpus.select(col("doc_id"), md5(col("text")).as("f"))
      val capped = fp.groupBy("f").agg(count(lit(1)).as("c"))
        .filter(col("c").between(2, 100)).select("f")
      val pairs = fp.join(capped, "f").as("a")
        .join(fp.as("b"), col("a.f") === col("b.f") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val dom = corpus.select(col("doc_id"),
        concat(lit("site"), pmod(col("doc_id"), lit(37)).cast("string"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(".com"))
            .when(pmod(col("doc_id"), lit(3)) === 1, lit(".org"))
            .otherwise(lit(".net"))).as("domain"))
      pairs
        .join(dom.as("da"), col("id_a") === col("da.doc_id"))
        .join(dom.as("db"), col("id_b") === col("db.doc_id"))
        .groupBy(col("da.domain").as("domain_a"),
          col("db.domain").as("domain_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("domain_a", "domain_b")
    },

    // Per-domain CAP + blocklist — the crawl-curation action: drop
    // blocklisted registered domains (broadcast anti-join — the
    // blocklist is policy-sized), then keep the top-3 docs per
    // surviving domain by char count through the NATIVE bounded-heap
    // top-k node (source_cap's plan: partial heaps before the
    // exchange, never a full per-domain sort).
    "domain_cap" -> { (s, dir) =>
      val canon = withUrls(s, dir)
      val blocklist = canon.select("domain").distinct()
        .filter(expr(
          "CAST(regexp_extract(domain, '^site(\\\\d+)\\\\.', 1) AS " +
            "BIGINT) % 10 = 7"))
      val allowed = canon
        .join(broadcast(blocklist), Seq("domain"), "left_anti")
        .select("domain", "doc_id", "n_chars")
      graft.operators.TopK.perGroup(
          allowed, "domain", "doc_id", "n_chars", k = 3)
        .select(col("domain"), col("doc_id"), col("n_chars"),
          col("rank"))
        .orderBy("domain", "rank")
    })

  /** Shared DuckDB CTE mirroring [[withHtml]] byte-for-byte. */
  private val htmlCte =
    """h AS (
      |  SELECT doc_id, source, lang, n_chars,
      |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |      '</title></head><body>' || chr(10) ||
      |    '<nav><a href="/">home</a><a href="/a">about</a>' ||
      |      '<a href="/c">contact</a></nav>' || chr(10) ||
      |    '<p>' || text ||
      |      CASE WHEN doc_id % 3 = 0 THEN ' <a href="/ref">source ' ||
      |        CAST(doc_id AS VARCHAR) || '</a>' ELSE '' END ||
      |      '</p>' || chr(10) ||
      |    CASE WHEN doc_id % 7 = 0 THEN '<p><a href="/x' ||
      |      CAST(doc_id AS VARCHAR) ||
      |      '">more</a><a href="/y">links</a></p>' || chr(10)
      |      ELSE '' END ||
      |    '<footer><a href="/p">privacy</a>(c) example.com' ||
      |      '</footer>' || chr(10) ||
      |    '</body></html>' AS html
      |  FROM documents
      |)""".stripMargin

  /** Shared DuckDB CTE mirroring [[withUrls]]. */
  private val urlCte =
    """u AS (
      |  SELECT doc_id, source, n_chars,
      |    CASE WHEN doc_id % 5 = 0 THEN 'www.'
      |      WHEN doc_id % 5 = 1 THEN 'cdn.' ELSE '' END ||
      |      'site' || CAST(doc_id % 37 AS VARCHAR) ||
      |      CASE WHEN doc_id % 3 = 0 THEN '.com'
      |        WHEN doc_id % 3 = 1 THEN '.org' ELSE '.net' END AS host0,
      |    CASE WHEN doc_id % 17 = 0 THEN 'index'
      |      ELSE CAST(doc_id AS VARCHAR) END AS slug
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, source, n_chars,
      |    'https://' ||
      |      CASE WHEN doc_id % 11 = 0 THEN upper(host0) ELSE host0 END ||
      |      CASE WHEN doc_id % 13 = 0 THEN ':443' ELSE '' END ||
      |      '/docs/' || slug || '.html' ||
      |      CASE WHEN doc_id % 2 = 0 THEN '#sec' ||
      |        CAST(doc_id % 4 AS VARCHAR) ELSE '' END AS url
      |  FROM u
      |), c AS (
      |  SELECT doc_id, source, n_chars, url,
      |    regexp_extract(url, '^https://([^/#]+)/', 1) AS raw_hostport,
      |    lower(replace(regexp_extract(url, '^https://([^/#]+)/', 1),
      |      ':443', '')) AS host,
      |    regexp_extract(url, '^https://[^/#]+(/[^#]*)', 1) AS path
      |  FROM r
      |), canon AS (
      |  SELECT doc_id, source, n_chars, url, raw_hostport, host,
      |    regexp_replace(host, '^(www|cdn)\.', '') AS domain,
      |    'https://' || host || path AS canonical_url
      |  FROM c
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "html_extract" ->
      s"""WITH $htmlCte
        |SELECT doc_id,
        |  regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
        |  CAST(length(html) AS BIGINT) AS n_raw_chars,
        |  CAST(length(replace(regexp_replace(html, '<[^>]*>', '', 'g'),
        |    chr(10), '')) AS BIGINT) AS text_chars,
        |  CAST((length(html) - length(replace(html, '<a href', '')))
        |    // 7 AS BIGINT) AS n_links,
        |  CAST((length(html) -
        |      length(replace(regexp_replace(html, '<[^>]*>', '', 'g'),
        |        chr(10), ''))) * 1000 // length(html) AS BIGINT)
        |    AS markup_pm
        |FROM h ORDER BY doc_id""".stripMargin,

    "boilerplate_report" ->
      s"""WITH $htmlCte,
        |b AS (
        |  SELECT doc_id, source,
        |    unnest(string_split(html, chr(10))) AS block
        |  FROM h
        |), m AS (
        |  SELECT source,
        |    length(regexp_replace(block, '<[^>]*>', '', 'g'))
        |      AS text_len,
        |    length(regexp_replace(block, '<[^>]*>', '', 'g')) -
        |      length(regexp_replace(regexp_replace(block,
        |        '<a[^>]*>[^<]*</a>', '', 'g'), '<[^>]*>', '', 'g'))
        |      AS link_len
        |  FROM b WHERE block <> ''
        |), f AS (
        |  SELECT source, text_len,
        |    (text_len >= 15 AND
        |      link_len * 1000 // greatest(text_len, 1) < 300) AS kept
        |  FROM m
        |)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_dropped,
        |  CAST(SUM(CASE WHEN kept THEN text_len ELSE 0 END) AS BIGINT)
        |    AS kept_chars,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE text_len END) AS BIGINT)
        |    AS dropped_chars,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) * 1000 // COUNT(*)
        |    AS BIGINT) AS drop_pm
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "domain_rollup" ->
      s"""WITH $urlCte
        |SELECT domain,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(COUNT(DISTINCT raw_hostport) AS BIGINT) AS n_raw_hosts,
        |  CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
        |  CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM canon GROUP BY domain ORDER BY domain""".stripMargin,

    "frontier_refresh_plan" ->
      s"""WITH $urlCte,
        |g AS (
        |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |    CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
        |    CAST(SUM(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_changed
        |  FROM canon GROUP BY domain
        |), p AS (
        |  SELECT domain, n_urls, n_canonical,
        |    (n_urls - n_canonical) * 1000 // n_urls AS dup_pm,
        |    n_changed * 1000 // n_urls AS change_pm
        |  FROM g
        |), f AS (
        |  SELECT *, greatest(CAST(6 AS BIGINT), least(CAST(336 AS BIGINT),
        |    168 - (change_pm * 162) // 1000 + (dup_pm * 168) // 1000))
        |    AS refresh_hours
        |  FROM p
        |)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY refresh_hours, domain)
        |    AS INT) AS priority,
        |  domain, n_urls, n_canonical, dup_pm, change_pm, refresh_hours
        |FROM f ORDER BY priority""".stripMargin,

    "robots_policy" ->
      s"""WITH $urlCte,
        |p AS (
        |  SELECT doc_id,
        |    regexp_replace(host, '^(www|cdn)\\.', '') AS domain, path
        |  FROM c
        |), doms AS (
        |  SELECT DISTINCT domain FROM p
        |), rules AS (
        |  SELECT domain, '/' AS prefix, TRUE AS allow FROM doms
        |  UNION ALL
        |  SELECT domain, '/docs/', FALSE FROM doms
        |  WHERE substr(md5('robots:' || domain), 1, 1) < '8'
        |  UNION ALL
        |  SELECT domain, '/docs/index.html', TRUE FROM doms
        |  WHERE substr(md5('robots:' || domain), 1, 1) < '8'
        |    AND substr(md5('robots:' || domain), 2, 1) < '8'
        |), m AS (
        |  SELECT p.doc_id, p.domain, r.allow, length(r.prefix) AS plen
        |  FROM p JOIN rules r ON p.domain = r.domain
        |    AND substr(p.path, 1, length(r.prefix)) = r.prefix
        |), v AS (
        |  SELECT doc_id, domain, max_by(allow, plen) AS allowed
        |  FROM m GROUP BY doc_id, domain
        |)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_allowed,
        |  CAST(SUM(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_disallowed
        |FROM v GROUP BY domain ORDER BY domain""".stripMargin,

    "robots_wildcard" ->
      s"""WITH $urlCte,
        |p AS (
        |  SELECT doc_id,
        |    regexp_replace(host, '^(www|cdn)\\.', '') AS domain, path
        |  FROM c
        |), doms AS (
        |  SELECT DISTINCT domain FROM p
        |), r0 AS (
        |  SELECT domain, '/' AS pattern, TRUE AS allow FROM doms
        |  UNION ALL
        |  SELECT domain, '/docs/', FALSE FROM doms
        |  WHERE substr(md5('robots:' || domain), 1, 1) < '8'
        |  UNION ALL
        |  SELECT domain, '/docs/index.html', TRUE FROM doms
        |  WHERE substr(md5('robots:' || domain), 1, 1) < '8'
        |    AND substr(md5('robots:' || domain), 2, 1) < '8'
        |  UNION ALL
        |  SELECT domain, '/docs/*7.html$$', FALSE FROM doms
        |  WHERE substr(md5('robots:' || domain), 3, 1) < '8'
        |  UNION ALL
        |  SELECT domain, '/docs/*77.html$$', TRUE FROM doms
        |  WHERE substr(md5('robots:' || domain), 3, 1) < '8'
        |    AND substr(md5('robots:' || domain), 4, 1) < '8'
        |), rules AS (
        |  SELECT domain, pattern, allow,
        |    CASE WHEN pattern LIKE '%$$'
        |      THEN replace(substring(pattern, 1,
        |        length(pattern) - 1), '*', '%')
        |      ELSE replace(pattern, '*', '%') || '%' END AS lp,
        |    length(pattern) * 2 +
        |      CASE WHEN allow THEN 1 ELSE 0 END AS spec
        |  FROM r0
        |), m AS (
        |  SELECT p.doc_id, p.domain, r.allow, r.pattern, r.spec
        |  FROM p JOIN rules r ON p.domain = r.domain
        |    AND p.path LIKE r.lp
        |), v AS (
        |  SELECT doc_id, domain, max_by(allow, spec) AS allowed,
        |    max_by(pattern, spec) AS win_pattern
        |  FROM m GROUP BY doc_id, domain
        |)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_allowed,
        |  CAST(SUM(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_disallowed,
        |  CAST(SUM(CASE WHEN regexp_matches(win_pattern, '[*$$]')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_wild_decided
        |FROM v GROUP BY domain ORDER BY domain""".stripMargin,

    "politeness_schedule" ->
      s"""WITH $urlCte,
        |req AS (
        |  SELECT doc_id, host,
        |    doc_id // 37 * 8000000 +
        |      ('0x' || substr(md5('req:' || CAST(doc_id AS VARCHAR)),
        |        1, 4))::BIGINT % 4000000 AS ts_us
        |  FROM c
        |), rnk AS (
        |  SELECT host, doc_id, ts_us,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY host
        |      ORDER BY ts_us, doc_id) AS BIGINT) AS rn
        |  FROM req
        |), sched AS (
        |  SELECT host, doc_id, ts_us,
        |    5000000 * rn + MAX(ts_us - 5000000 * rn) OVER (
        |      PARTITION BY host ORDER BY ts_us, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS slot_us
        |  FROM rnk
        |)
        |SELECT host, doc_id, ts_us, CAST(slot_us AS BIGINT) AS slot_us,
        |  CAST(slot_us - ts_us AS BIGINT) AS wait_us,
        |  slot_us - ts_us > 0 AS deferred
        |FROM sched ORDER BY host, slot_us, doc_id""".stripMargin,

    "redirect_resolve" ->
      """WITH RECURSIVE nxt AS (
        |  SELECT doc_id AS x,
        |    CASE WHEN doc_id % 8 = 0 THEN NULL
        |      WHEN doc_id % 8 = 5 AND substr(md5('cyc:' ||
        |          CAST(doc_id // 8 AS VARCHAR)), 1, 1) < '2'
        |        THEN doc_id + 1
        |      ELSE doc_id - 1 END AS nxt
        |  FROM documents
        |), walk AS (
        |  SELECT x, x AS cur, 0 AS hops FROM nxt
        |  UNION ALL
        |  SELECT w.x, n.nxt, w.hops + 1
        |  FROM walk w JOIN nxt n ON w.cur = n.x
        |  WHERE n.nxt IS NOT NULL AND w.hops < 8
        |), fin AS (
        |  SELECT x, max_by(cur, hops) AS final_id,
        |    MAX(hops) AS hops
        |  FROM walk GROUP BY x
        |)
        |SELECT f.x AS doc_id, f.final_id,
        |  CAST(f.hops AS BIGINT) AS hops,
        |  CASE WHEN n2.x IS NULL THEN 'dangling'
        |    WHEN n2.nxt IS NULL THEN 'ok' ELSE 'loop' END AS status
        |FROM fin f LEFT JOIN nxt n2 ON f.final_id = n2.x
        |ORDER BY doc_id""".stripMargin,

    "crawl_depth_bfs" ->
      """WITH RECURSIVE ids AS (
        |  SELECT doc_id FROM documents
        |), edges AS (
        |  SELECT src, dst FROM (
        |    SELECT doc_id AS src, unnest(
        |      CASE WHEN doc_id % 17 = 0
        |        THEN list_concat([doc_id + 1],
        |          list_transform(range(2, 17), k -> doc_id + k))
        |        ELSE [doc_id + 1] END) AS dst
        |    FROM ids)
        |  WHERE dst IN (SELECT doc_id FROM ids)
        |), walk AS (
        |  SELECT doc_id AS x, 0 AS depth FROM ids WHERE doc_id % 97 = 0
        |  UNION
        |  SELECT e.dst AS x, w.depth + 1
        |  FROM walk w JOIN edges e ON w.x = e.src
        |  WHERE w.depth < 8
        |), dist AS (
        |  SELECT x, MIN(depth) AS depth FROM walk GROUP BY x
        |)
        |SELECT i.doc_id,
        |  CAST(COALESCE(d.depth, -1) AS BIGINT) AS depth,
        |  CASE WHEN d.depth IS NULL THEN 'undiscovered'
        |    WHEN d.depth = 0 THEN 'seed' ELSE 'reached' END AS status
        |FROM ids i LEFT JOIN dist d ON i.doc_id = d.x
        |ORDER BY doc_id""".stripMargin,

    "anchor_text_topk" ->
      s"""WITH t AS (
        |  SELECT doc_id, ${TrainingQueries.toksExpr} AS toks
        |  FROM documents
        |), a AS (
        |  SELECT doc_id - doc_id % 17 AS target_id,
        |    unnest(toks[1:2]) AS term
        |  FROM t WHERE doc_id % 17 != 0
        |), f AS (
        |  SELECT * FROM a
        |  WHERE target_id IN (SELECT doc_id FROM documents)
        |), c AS (
        |  SELECT target_id, term, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM f GROUP BY target_id, term
        |), r AS (
        |  SELECT target_id, term, n, CAST(row_number() OVER (
        |    PARTITION BY target_id ORDER BY n DESC, term ASC)
        |    AS INT) AS rank
        |  FROM c
        |)
        |SELECT target_id, term, n, rank FROM r WHERE rank <= 3
        |ORDER BY target_id, rank""".stripMargin,

    "url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, doc_id // 7 AS grp FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    'site' || CAST(grp % 23 AS VARCHAR) ||
        |      CASE WHEN grp % 3 = 0 THEN '.com'
        |        WHEN grp % 3 = 1 THEN '.org' ELSE '.net' END AS host,
        |    '/page/' || CAST(grp AS VARCHAR) || '.html' AS path
        |  FROM u
        |), r AS (
        |  SELECT doc_id,
        |    'https://' ||
        |      CASE WHEN doc_id % 2 = 0 THEN upper(host) ELSE host END ||
        |      CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
        |      path ||
        |      CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END AS raw_url
        |  FROM h
        |), c AS (
        |  SELECT doc_id, raw_url,
        |    'https://' ||
        |      lower(replace(regexp_extract(raw_url,
        |        '^https://([^/#]+)/', 1), ':443', '')) ||
        |      regexp_extract(raw_url, '^https://[^/#]+(/[^#]*)', 1)
        |      AS canonical_url
        |  FROM r
        |)
        |SELECT canonical_url,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_raw_variants,
        |  CAST(MIN(doc_id) AS BIGINT) AS survivor_id
        |FROM c GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin,

    "domain_dup_matrix" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |  WHERE doc_id % 5 >= 3
        |), fp AS (
        |  SELECT doc_id, md5(text) AS f FROM corpus
        |), capped AS (
        |  SELECT f FROM fp GROUP BY f HAVING COUNT(*) BETWEEN 2 AND 100
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM fp a JOIN capped USING (f) JOIN fp b USING (f)
        |  WHERE a.doc_id < b.doc_id
        |), dom AS (
        |  SELECT doc_id,
        |    'site' || CAST(doc_id % 37 AS VARCHAR) ||
        |      CASE WHEN doc_id % 3 = 0 THEN '.com'
        |        WHEN doc_id % 3 = 1 THEN '.org' ELSE '.net' END AS domain
        |  FROM corpus
        |)
        |SELECT da.domain AS domain_a, db.domain AS domain_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM pairs
        |JOIN dom da ON da.doc_id = id_a
        |JOIN dom db ON db.doc_id = id_b
        |GROUP BY 1, 2 ORDER BY domain_a, domain_b""".stripMargin,

    "domain_cap" ->
      s"""WITH $urlCte,
        |blk AS (
        |  SELECT DISTINCT domain FROM canon
        |  WHERE CAST(regexp_extract(domain, '^site(\\d+)\\.', 1)
        |    AS BIGINT) % 10 = 7
        |), ranked AS (
        |  SELECT domain, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY domain
        |      ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM canon WHERE domain NOT IN (SELECT domain FROM blk)
        |)
        |SELECT domain, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(rnk AS INT) AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY domain, rank""".stripMargin)
}
