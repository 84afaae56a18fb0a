package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches
import graft.sources.Tables

/** Pins [[Sketches]] beyond the hll_shingle_report oracle row: the
  * MERGE law that makes the sketch distributable (registers of a
  * union = element-wise max of the parts' registers — why the
  * aggregate is partial and a 1000-executor fan-in is exact), and the
  * raw-regime accuracy the report's p choice depends on. */
class SketchesSpec extends SparkSpec {

  private def shingleStream(dir: String) =
    Tables.documents(spark, dir).select(col("source"),
      explode(graft.operators.TextAnalysis.shingles(col("text"), 3))
        .as("sh"))

  test("merge law: HLL registers of the whole corpus equal the " +
      "element-wise max of per-half registers — the property that " +
      "makes the sketch exact under any partitioning/fan-in") {
    val sh = shingleStream(sf0001)
    val whole = Sketches.hllRegisters(sh, col("source"), col("sh"), 8)
    val a = sh.filter(pmod(crc32(col("sh")), lit(2)) === 0)
    val b = sh.filter(pmod(crc32(col("sh")), lit(2)) === 1)
    val merged = Sketches.hllRegisters(a, col("source"), col("sh"), 8)
      .unionByName(Sketches.hllRegisters(b, col("source"), col("sh"), 8))
      .groupBy("key", "register").agg(max("m").as("m"))
    assert(whole.exceptAll(merged).isEmpty && merged.exceptAll(whole).isEmpty,
      "union-of-registers diverged from registers-of-union")
  }

  test("raw-regime accuracy: every source's estimate is within 20% " +
      "of exact at p=8 (1.04/sqrt(256) ~ 6.5% stderr; deterministic " +
      "data, so this is a pin, not a flake) and no source is in the " +
      "small-range regime the sketch deliberately avoids") {
    val sh = shingleStream(sf0001)
    val summ = Sketches.hllSummary(
      Sketches.hllRegisters(sh, col("source"), col("sh"), 8), 8)
    val exact = sh.groupBy(col("source").as("key"))
      .agg(countDistinct(col("sh")).as("exact"))
    val rows = summ.join(exact, "key")
      .withColumn("est", expr(Sketches.hllEstimateSql(8)))
      .collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val exactN = r.getAs[Long]("exact").toDouble
      val est = r.getAs[Double]("est")
      assert(exactN > 2.5 * 256,
        s"${r.getAs[String]("key")}: cardinality $exactN is in the " +
          "small-range regime — the report's p choice no longer holds")
      assert(math.abs(est - exactN) / exactN < 0.20,
        s"${r.getAs[String]("key")}: estimate $est vs exact $exactN")
    }
  }

  test("CMS one-sided error: every token's estimate >= exact count, " +
      "the sketch is bounded by d*w cells, and per-shard sketches " +
      "merge by cell-wise addition into the whole-corpus sketch") {
    val toks = Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(graft.operators.TextAnalysis
        .tokens(lower(col("text")))).as("key"))
    val (d, w) = (3, 64)
    val cells = Sketches.cmsCells(toks, col("key"), d, w)
    assert(cells.count() <= d.toLong * w, "sketch outgrew d*w cells")
    val exact = toks.groupBy("key").agg(count(lit(1)).as("n_exact"))
    val est = Sketches.cmsEstimate(exact, cells, d, w)
    val bad = est.filter(col("cms_estimate") < col("n_exact")).count()
    assert(bad === 0, s"$bad tokens underestimated — CMS one-sided " +
      "error guarantee broken")
    // merge law: shard sketches sum cell-wise to the corpus sketch
    val a = Sketches.cmsCells(toks.filter(pmod(col("doc_id"), lit(2))
      === 0), col("key"), d, w)
    val b = Sketches.cmsCells(toks.filter(pmod(col("doc_id"), lit(2))
      === 1), col("key"), d, w)
    val merged = a.unionByName(b).groupBy("r", "c")
      .agg(sum("cnt").as("cnt"))
    assert(cells.exceptAll(merged).isEmpty &&
      merged.exceptAll(cells).isEmpty,
      "sum-of-shard-sketches diverged from whole-corpus sketch")
  }

  test("cmsCellsFromCounts over the vocabulary aggregate equals " +
      "cmsCells over the raw occurrence stream (the r21 audit-row " +
      "rewrite: d probes per distinct key, identical cell table)") {
    val toks = Tables.documents(spark, sf0001)
      .select(explode(graft.operators.TextAnalysis
        .tokens(lower(col("text")))).as("key"))
    val (d, w) = (3, 64)
    val fromStream = Sketches.cmsCells(toks, col("key"), d, w)
    val fromCounts = Sketches.cmsCellsFromCounts(
      toks.groupBy("key").agg(count(lit(1)).as("cnt")), d, w)
    assert(fromStream.exceptAll(fromCounts).isEmpty &&
      fromCounts.exceptAll(fromStream).isEmpty,
      "vocabulary-derived cells diverged from occurrence-derived cells")
  }

  test("cmsCellsSliced splits bit-identically to per-slice cmsCells " +
      "(the r21 single-scan ingest rewrite: the cell hash never sees " +
      "the slice tag)") {
    val toks = Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(graft.operators.TextAnalysis
        .tokens(lower(col("text")))).as("key"))
    val (d, w) = (3, 64)
    val tagged = toks.select(
      when(pmod(col("doc_id"), lit(2)) === 0, lit("even"))
        .otherwise(lit("odd")).as("slice"), col("key"))
    val sliced = Sketches.cmsCellsSliced(tagged, col("slice"),
      col("key"), d, w)
    for (sl <- Seq("even", "odd")) {
      val got = sliced.filter(col("slice") === sl).select("r", "c", "cnt")
      val want = Sketches.cmsCells(
        tagged.filter(col("slice") === sl).select("key"),
        col("key"), d, w)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"sliced cells diverged from the filtered build for '$sl'")
    }
  }

  test("CMS estimate is exact for a key with collision-free cells " +
      "in at least one row, and a never-inserted key estimates 0") {
    // two keys engineered onto the real token stream: the sketch of
    // tokens plus one sentinel occurrence; the sentinel's count must
    // come back >= 1 and a distinct absent sentinel exactly 0.
    val toks = Tables.documents(spark, sf0001)
      .select(explode(graft.operators.TextAnalysis
        .tokens(lower(col("text")))).as("key"))
    val withSentinel = toks.unionByName(
      spark.range(1).select(lit("graft-cms-sentinel").as("key")))
    val cells = Sketches.cmsCells(withSentinel, col("key"), 3, 1024)
    val probe = spark.range(1)
      .select(lit("graft-cms-sentinel").as("key"))
      .unionByName(spark.range(1)
        .select(lit("graft-cms-absent").as("key")))
    val est = Sketches.cmsEstimate(probe, cells, 3, 1024)
      .collect().map(r => r.getAs[String]("key") ->
        r.getAs[Long]("cms_estimate")).toMap
    assert(est("graft-cms-sentinel") >= 1L,
      "inserted sentinel lost from the sketch")
    // deterministic data, so this is a pin: at w=1024 over a
    // ~32-token vocabulary the absent key has a collision-free row
    assert(est("graft-cms-absent") === 0L,
      "never-inserted key estimated nonzero at w=1024")
  }

  test("KMV merge law: bottom-k of per-half sketches equals the " +
      "whole-corpus sketch — the k smallest of A union B are among " +
      "kmv(A) union kmv(B), so shard-and-merge is exact under any " +
      "partitioning") {
    val sh = shingleStream(sf0001)
    val whole = Sketches.kmvSketch(sh, col("source"), col("sh"), 64)
    val a = sh.filter(pmod(crc32(col("sh")), lit(2)) === 0)
    val b = sh.filter(pmod(crc32(col("sh")), lit(2)) === 1)
    val merged = Sketches.kmvMerge(
      Sketches.kmvSketch(a, col("source"), col("sh"), 64)
        .unionByName(Sketches.kmvSketch(b, col("source"), col("sh"), 64)),
      64)
    assert(whole.exceptAll(merged).isEmpty &&
        merged.exceptAll(whole).isEmpty,
      "merge-of-sketches diverged from sketch-of-union")
  }

  test("KMV estimate: exact when the sketch is exhaustive (n_k < k " +
      "sees every distinct value), within 25% of exact in the " +
      "sampled regime at k=256 (1/sqrt(255) ~ 6.3% stderr; " +
      "deterministic data, so a pin), and the sketch is distinct and " +
      "sorted-ascending per key") {
    val sh = shingleStream(sf0001)
    // exhaustive regime: key by DOCUMENT — a doc holds well under
    // k=256 distinct shingles, so the sketch sees every value and
    // the estimate must be the exact distinct count
    val byDoc = Tables.documents(spark, sf0001)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        explode(graft.operators.TextAnalysis.shingles(col("text"), 3))
          .as("sh"))
    val exactDoc = byDoc.groupBy(col("doc_id").as("key"))
      .agg(countDistinct(col("sh")).as("exact"))
    val exhaustive = Sketches.kmvSummary(
        Sketches.kmvSketch(byDoc, col("doc_id"), col("sh"), 256), 256)
      .withColumn("est", expr(Sketches.kmvEstimateSql(256)))
      .join(exactDoc, "key").collect()
    assert(exhaustive.nonEmpty)
    exhaustive.foreach { r =>
      assert(r.getAs[Long]("exact") < 256,
        s"doc ${r.getAs[Long]("key")} too large for the exhaustive pin")
      assert(r.getAs[Double]("est") === r.getAs[Long]("exact").toDouble,
        s"doc ${r.getAs[Long]("key")}: exhaustive sketch not exact")
    }
    val exact = sh.groupBy(col("source").as("key"))
      .agg(countDistinct(col("sh")).as("exact"))
    // sampled regime at the registered k
    val kv = Sketches.kmvSketch(sh, col("source"), col("sh"), 256)
    val sampled = Sketches.kmvSummary(kv, 256)
      .withColumn("est", expr(Sketches.kmvEstimateSql(256)))
      .join(exact, "key").collect()
    sampled.foreach { r =>
      val exactN = r.getAs[Long]("exact").toDouble
      val est = r.getAs[Double]("est")
      assert(exactN > 256,
        s"${r.getAs[String]("key")}: source too small to exercise " +
          "the sampled regime")
      assert(math.abs(est - exactN) / exactN < 0.25,
        s"${r.getAs[String]("key")}: estimate $est vs exact $exactN")
    }
    // table invariants: distinct h per key, |sketch| == k
    val bad = kv.groupBy("key")
      .agg(count(lit(1)).as("n"), countDistinct(col("h")).as("nd"))
      .filter(col("n") =!= col("nd") || col("n") =!= 256)
      .count()
    assert(bad === 0L, "sketch table lost the k-distinct invariant")
  }

  test("hllSummaryBy equals hllSummary on any grouping and any p " +
      "(r19: the pair-union algebra and the single-key summary now " +
      "share ONE register fold, so a future p change cannot drift " +
      "the three pair queries that previously inlined p=8 constants)") {
    val sh = shingleStream(sf0001)
    Seq(6, 10).foreach { p =>
      val regs = Sketches.hllRegisters(sh, col("source"), col("sh"), p)
      val single = Sketches.hllSummary(regs, p)
        .collect()
        .map(r => r.getAs[String]("key") ->
          ((r.getAs[Long]("v_zero"), r.getAs[Long]("s_scaled")))).toMap
      // the same registers under two group tags: every (tag, key)
      // summary must equal the single-key fold bit-for-bit
      val tagged = regs.withColumn("tag", lit("t0"))
        .unionByName(regs.withColumn("tag", lit("t1")))
      val by = Sketches.hllSummaryBy(tagged, Seq("tag", "key"), p)
        .collect()
      assert(by.length === 2 * single.size, s"p=$p lost group rows")
      by.foreach { r =>
        val k = r.getAs[String]("key")
        assert((r.getAs[Long]("v_zero"), r.getAs[Long]("s_scaled")) ===
          single(k), s"p=$p key=$k grouped summary diverged")
      }
    }
  }

  test("kmvSketch ignores NULL values (r18 advice): a nullable " +
      "column yields exactly the sketch of its non-null subset — " +
      "md5(NULL) cannot inject a spurious minimum hash 0") {
    import spark.implicits._
    val vals = (1 to 500).map(i => s"v-$i-${i * 7919}")
    val withNulls: Seq[Option[String]] =
      vals.map(Option(_)) ++ Seq.fill(50)(Option.empty[String])
    val a = Sketches.kmvSketch(withNulls.toDF("v"), lit("k"), col("v"),
      64).collect().map(_.getLong(1)).toSeq.sorted
    val b = Sketches.kmvSketch(vals.toDF("v"), lit("k"), col("v"),
      64).collect().map(_.getLong(1)).toSeq.sorted
    assert(a === b, "NULL values changed the sketch")
    assert(!a.contains(0L), "spurious 0 hash in the sketch")
  }

  test("hllRegisters ignores NULL values: a nullable column yields " +
      "exactly the registers and summary of its non-null subset — " +
      "md5(NULL) cannot occupy a phantom register") {
    import spark.implicits._
    val vals = (1 to 500).map(i => s"v-$i-${i * 7919}")
    val withNulls: Seq[Option[String]] =
      vals.map(Option(_)) ++ Seq.fill(50)(Option.empty[String])
    def regs(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllRegisters(df, lit("k"), col("v"), 8)
    val (a, b) = (regs(withNulls.toDF("v")), regs(vals.toDF("v")))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "NULL values changed the register table")
    def summary(r: org.apache.spark.sql.DataFrame) =
      Sketches.hllSummary(r, 8).collect()
        .map(x => (x.getAs[Long]("v_zero"), x.getAs[Long]("s_scaled")))
        .toSeq
    assert(summary(a) === summary(b), "NULL values changed the summary")
  }

  test("hllPairs: a pair's union summary is the summary of its two " +
      "sources' rows relabelled as one key (the merge law through the " +
      "pair helper), and inter_est = est_s1 + est_s2 - est_union") {
    val sh = shingleStream(sf0001)
    val regs = Sketches.hllRegisters(sh, col("source"), col("sh"), 8)
    val pairs = Sketches.pairsOf(regs)
    val got = Sketches.hllPairs(regs, pairs, 8).collect()
    val relabelled = pairs.join(sh,
      col("source") === col("s1") || col("source") === col("s2"))
    val want = Sketches.hllSummary(Sketches.hllRegisters(relabelled,
        concat_ws("|", col("s1"), col("s2")), col("sh"), 8), 8)
      .withColumn("est", expr(Sketches.hllEstimateSql(8)))
      .collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("s_scaled"), r.getAs[Double]("est")))).toMap
    assert(got.nonEmpty && got.length === want.size,
      s"${got.length} pair rows vs ${want.size} relabelled unions")
    got.foreach { r =>
      val k = s"${r.getAs[String]("s1")}|${r.getAs[String]("s2")}"
      assert((r.getAs[Long]("s_scaled"), r.getAs[Double]("est_union")) ===
        want(k), s"$k: union summary diverged from the relabelled rows'")
      assert(r.getAs[Double]("inter_est") === r.getAs[Double]("est_s1") +
        r.getAs[Double]("est_s2") - r.getAs[Double]("est_union"),
        s"$k: inter_est is not inclusion-exclusion")
    }
  }

  test("kmvPairs with an exhaustive k (every sketch has n_k < k) " +
      "gives inter_est equal to the exact intersection for every " +
      "pair, pairs with no common value included") {
    val byDoc = Tables.documents(spark, sf0001)
      .filter(col("doc_id") < 50)
      .select(col("doc_id").cast("string").as("key"),
        explode(graft.operators.TextAnalysis.shingles(col("text"), 3))
          .as("sh"))
    val kv = Sketches.kmvSketch(byDoc, col("key"), col("sh"), 256)
    val got = Sketches.kmvPairs(kv, Sketches.pairsOf(kv), 256).collect()
    val d = byDoc.distinct()
    val exact = d.as("x")
      .join(d.as("y"), col("x.sh") === col("y.sh") &&
        col("x.key") < col("y.key"))
      .groupBy(col("x.key"), col("y.key")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val nDocs = byDoc.select("key").distinct().count()
    assert(got.length === nDocs * (nDocs - 1) / 2, "pairs lost")
    assert(exact.nonEmpty && exact.size < got.length,
      "fixture must hold pairs with and without common shingles")
    got.foreach { r =>
      val k = (r.getAs[String]("s1"), r.getAs[String]("s2"))
      assert(r.getAs[Long]("theta") === 1L << 60,
        s"$k: a sketch was not exhaustive")
      assert(r.getAs[Double]("inter_est") === exact.getOrElse(k, 0L).toDouble,
        s"$k: exhaustive pair estimate is not the exact intersection")
    }
  }
}
