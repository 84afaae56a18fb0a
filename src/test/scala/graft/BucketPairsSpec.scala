package graft

import org.apache.spark.sql.functions._

import graft.functions.TextShingles
import graft.operators.Dedup
import graft.sources.Tables

/** Pins the r21 bucket-pair restructures against the shapes they
  * replaced:
  *
  *  - [[Dedup.ngramJaccardPairs]]' FUSED emission (size tokens riding
  *    the pair exchange) must equal the definitional doc-freq-capped
  *    shingle self-join — sizes, intersections and jaccard all —
  *    including on edge-case texts (null/empty/sub-shingle docs);
  *  - [[Dedup.bucketPairCounts]] must equal the
  *    aggregate + join-back + key-equi-self-join it replaced in the
  *    winnowing rows, INCLUDING duplicate-occurrence multiplicity
  *    (an id appearing k times in a bucket pairs k·m times with an
  *    id appearing m times, never with itself).
  */
class BucketPairsSpec extends SparkSpec {

  private def docsDf = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),      // exact copy
      (3L, "alpha beta gamma delta epsilon eta theta"), // near dup
      (4L, "totally different words entirely here now"),
      (5L, "a b"),                                      // sub-shingle
      (6L, ""),                                         // empty
      (7L, null.asInstanceOf[String]),                  // null text
      (8L, "alpha beta gamma delta epsilon zeta extra tail tokens")
    ).toDF("doc_id", "text")
  }

  test("ngramJaccardPairs (fused size tokens) equals the definitional " +
      "doc-freq-capped shingle self-join on edge docs and corpus") {
    def definitional(df: org.apache.spark.sql.DataFrame,
        maxDocFreq: Int, minJaccard: Double) = {
      val sh = df.select(col("doc_id").as("id"),
        explode(TextShingles.distinctShingles(3)(col("text"))).as("sh"))
      val surviving = sh.join(
        sh.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select("sh"), "sh")
      val sizes = surviving.groupBy("id")
        .agg(count(lit(1)).as("set_size"))
      val x = surviving.select(col("sh"), col("id").as("id_a"))
      val y = surviving.select(col("sh"), col("id").as("id_b"))
      x.join(y, "sh").filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("id").as("id_a"),
          col("set_size").as("size_a")), "id_a")
        .join(sizes.select(col("id").as("id_b"),
          col("set_size").as("size_b")), "id_b")
        .withColumn("jaccard",
          col("inter") / (col("size_a") + col("size_b") - col("inter")))
        .filter(col("jaccard") >= minJaccard)
        .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
    }
    for ((df, cap, minJ) <- Seq(
        (docsDf, 20, 0.0),
        (docsDf, 2, 0.0),   // cap prunes the 3-doc shared shingles
        (docsDf, 20, 0.5),
        (Tables.documents(spark, sf0001)
          .select(col("doc_id"), col("text")), 20, 0.0))) {
      val got = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"),
        shingleN = 3, maxDocFreq = cap, minJaccard = minJ)
      val want = definitional(df, cap, minJ)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"fused ngramJaccardPairs diverged (cap=$cap, minJ=$minJ)")
      assert(got.count() === want.count())
    }
  }

  test("bucketPairCounts equals the aggregate + join-back + " +
      "self-join shape, including duplicate-occurrence multiplicity") {
    import spark.implicits._
    // k1: plain 3-doc bucket; k2: id 1 occurs TWICE (multiplicity);
    // k3: occupancy 1 (below minDf); k4: occupancy above maxDf;
    // k5: a single doc twice (self-pairs only — must vanish)
    val occ = (Seq((1L, "k1"), (2L, "k1"), (3L, "k1"),
      (1L, "k2"), (1L, "k2"), (2L, "k2"), (3L, "k2"),
      (9L, "k3"),
      (5L, "k5"), (5L, "k5")) ++
      (1L to 6L).map(i => (i, "k4"))).toDF("doc_id", "fp")
    def reference(minDf: Int, maxDf: Int) = {
      val banded = occ.groupBy("fp").agg(count(lit(1)).as("nd"))
        .filter(col("nd").between(minDf, maxDf)).select("fp")
      val cand = occ.join(banded, "fp")
      cand.select(col("doc_id").as("id_a"), col("fp"))
        .join(cand.select(col("doc_id").as("id_b"), col("fp")), "fp")
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    }
    for ((minDf, maxDf) <- Seq((2, 50), (2, 5), (1, 50), (4, 4))) {
      val got = Dedup.bucketPairCounts(occ, col("doc_id"), col("fp"),
        minDf, maxDf)
      val want = reference(minDf, maxDf)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"bucketPairCounts diverged at [$minDf, $maxDf]")
      assert(got.count() === want.count())
    }
    // the multiplicity pin, spelled out: in k2 id 1 (×2) pairs with
    // ids 2 and 3 twice each and never with itself
    val k2 = Dedup.bucketPairCounts(
      occ.filter(col("fp") === "k2"), col("doc_id"), col("fp"), 2, 50)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(k2.toSeq === Seq((1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 1L)))
  }

  test("hammingBandPairs (in-bucket kernel verification) equals the " +
      "brute-force all-pairs Hamming join on edge docs and corpus") {
    val docs = docsDf.unionByName(
      Tables.documents(spark, sf0001).select(
        (col("doc_id") + 1000L).as("doc_id"), col("text")))
    val got = Dedup.simhashPairs(docs, col("doc_id"), col("text"),
      maxHamming = 3)
    val sigs = docs.select(col("doc_id"),
      TextShingles.simhash64(col("text")).as("sig"))
    val want = sigs.select(col("doc_id").as("id_a"), col("sig").as("sa"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sb")),
        col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "band-bucket kernel pairs diverged from brute force")
    assert(got.count() === want.count())
  }

  test("minhashCandidatePairs (bucket expansion) equals the " +
      "band-keyed self-join shape on edge docs and corpus") {
    val docs = docsDf.unionByName(
      Tables.documents(spark, sf0001).select(
        (col("doc_id") + 1000L).as("doc_id"), col("text")))
    val got = Dedup.minhashCandidatePairs(docs, col("doc_id"),
      col("text"), numHashes = 8, bands = 4, shingleN = 3)
    val b = Dedup.lshBands(docs, col("doc_id"), col("text"),
      numHashes = 8, bands = 4, shingleN = 3)
    val want = b.select(col("band"), col("band_key"),
        col("id").as("id_a"))
      .join(b.select(col("band"), col("band_key"), col("id").as("id_b")),
        Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "bucket-expanded candidates diverged from the self-join")
    assert(got.count() === want.count())
  }

  test("oversized-bucket chunk decomposition (r22, r21-ADVICE): " +
      "with a tiny graft.bucket.kernelCap every bucket expands " +
      "through multi-chunk kernel calls and both operators still " +
      "equal their default-cap pair sets exactly") {
    val docs = docsDf.unionByName(
      Tables.documents(spark, sf0001).select(
        (col("doc_id") + 1000L).as("doc_id"), col("text")))
    import spark.implicits._
    // k6: id 2's two occurrences straddle the cap-2 chunk boundary
    // ([1,2] and [2,3]), so only the cross-chunk equal-id skip keeps
    // (2,2) out
    val occ = (Seq((1L, "k1"), (2L, "k1"), (3L, "k1"),
      (1L, "k2"), (1L, "k2"), (2L, "k2"), (3L, "k2"),
      (1L, "k6"), (2L, "k6"), (2L, "k6"), (3L, "k6")) ++
      (1L to 9L).map(i => (i, "k4"))).toDF("doc_id", "fp")
    val defHam = Dedup.simhashPairs(docs, col("doc_id"), col("text"),
      maxHamming = 3).collect().map(_.toString).sorted.toSeq
    val defLsh = Dedup.minhashCandidatePairs(docs, col("doc_id"),
      col("text")).collect().map(_.toString).sorted.toSeq
    val defBpc = Dedup.bucketPairCounts(occ, col("doc_id"), col("fp"),
      2, 50).collect().map(_.toString).sorted.toSeq
    spark.conf.set("graft.bucket.kernelCap", "2")
    try {
      assert(Dedup.simhashPairs(docs, col("doc_id"), col("text"),
        maxHamming = 3).collect().map(_.toString).sorted.toSeq
        === defHam, "hammingBandPairs fallback diverged")
      assert(Dedup.minhashCandidatePairs(docs, col("doc_id"),
        col("text")).collect().map(_.toString).sorted.toSeq
        === defLsh, "minhash fallback diverged")
      assert(Dedup.bucketPairCounts(occ, col("doc_id"), col("fp"),
        2, 50).collect().map(_.toString).sorted.toSeq
        === defBpc, "bucketPairCounts fallback diverged")
      val k6 = Dedup.bucketPairCounts(occ.filter(col("fp") === "k6"),
        col("doc_id"), col("fp"), 2, 50).orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(k6.toSeq === Seq((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 2L)))
    } finally spark.conf.unset("graft.bucket.kernelCap")
  }

  test("winnowing-row rewrite: bucketPairCounts over word " +
      "fingerprints equals the old self-join shape on real corpus") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val fps = docs.select(col("doc_id"),
      explode(TextShingles.winnowedWordFingerprints(3, 8)(col("text")))
        .as("fp"))
    val banded = fps.groupBy("fp").agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(2, 50)).select("fp")
    val cand = fps.join(banded, "fp")
    val want = cand.select(col("doc_id").as("id_a"), col("fp"))
      .join(cand.select(col("doc_id").as("id_b"), col("fp")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    val got = Dedup.bucketPairCounts(fps, col("doc_id"), col("fp"),
      minDf = 2, maxDf = 50)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "winnow bucket expansion diverged from the self-join")
  }
}
