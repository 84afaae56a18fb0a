package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TopK}

/** Property pins for the two operators with non-obvious exactness
  * arguments: the chord-bound grid refinement in
  * [[Similarity.cosineDupPairs]] (must return the IDENTICAL pair set
  * as an unrefined bucket join — the grid may only prune pairs that
  * cannot qualify) and the large-star/small-star fallback in
  * [[Dedup.connectedComponents]] (must produce the same components as
  * pure propagation on arbitrary random graphs, not just paths). */
class SimilaritySpec extends SparkSpec {

  /** The IVF rows' composition: `probes` (carrying `query_id`, `qvec`,
    * `cell`) scored against the same-cell rows of `indexed`, then the
    * top `k` per query through the native top-k node. */
  private def ivfTop(indexed: DataFrame, probes: DataFrame,
      k: Int): DataFrame =
    TopK.perGroup(Similarity.probedScores(indexed, col("embedding"), probes,
      col("qvec"), "cell"), "query_id", "vec_id", "cosine", k)

  test("cosineDupPairs grid refinement returns exactly the naive " +
      "bucket-join pair set on random vectors (seeded)") {
    import spark.implicits._
    val rnd = new Random(42)
    val dim = 16
    // clustered vectors: points near one of 30 seeded directions, so a
    // healthy mix of qualifying and non-qualifying in-bucket pairs
    // exists at the 0.95 threshold; 4 labels ensure multi-bucket
    val centers = Array.fill(30)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until 600).map { i =>
      val c = centers(rnd.nextInt(centers.length))
      val noise = if (rnd.nextBoolean()) 0.02 else 0.6
      val v = c.map(x => (x + noise * rnd.nextGaussian()).toFloat)
      (i.toLong, v, i % 4)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    def naive = {
      val withNorm = df.withColumn("_norm",
        Similarity.norm(col("embedding")))
      val a = withNorm.select(col("label"), col("vec_id").as("id_a"),
        col("embedding").as("vec_a"), col("_norm").as("_norm_a"))
      val b = withNorm.select(col("label"), col("vec_id").as("id_b"),
        col("embedding").as("vec_b"), col("_norm").as("_norm_b"))
      a.join(b, "label").filter(col("id_a") < col("id_b"))
        .withColumn("cosine", Similarity.dot(col("vec_a"), col("vec_b")) /
          (col("_norm_a") * col("_norm_b")))
        .filter(col("cosine") >= 0.95)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val refined = (1 to 3).map { p =>
      Similarity.cosineDupPairs(df, col("vec_id"), col("embedding"),
          "label", threshold = 0.95, probeDims = p)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val expected = naive
    assert(expected.nonEmpty, "degenerate fixture: no qualifying pairs")
    refined.zipWithIndex.foreach { case (got, i) =>
      assert(got === expected, s"probeDims=${i + 1} diverged")
    }
  }

  test("cosineDupPairs: odd dimension (no orthonormal Hadamard family " +
      "— prefilter off, single-bit fallback) and the auto-sized " +
      "default both still return the exact naive pair set") {
    import spark.implicits._
    val rnd = new Random(7)
    val dim = 15 // odd: numberOfTrailingZeros = 0 → fallback path
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until 400).map { i =>
      val c = centers(rnd.nextInt(centers.length))
      val noise = if (rnd.nextBoolean()) 0.02 else 0.6
      (i.toLong, c.map(x => (x + noise * rnd.nextGaussian()).toFloat),
        i % 3)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val withNorm = df.withColumn("_n", Similarity.norm(col("embedding")))
    val a = withNorm.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("va"), col("_n").as("na"))
    val b = withNorm.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("_n").as("nb"))
    val expected = a.join(b, "label").filter(col("id_a") < col("id_b"))
      .filter(Similarity.dot(col("va"), col("vb")) /
        (col("na") * col("nb")) >= 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty, "degenerate fixture: no qualifying pairs")
    val fallback = Similarity.cosineDupPairs(df, col("vec_id"),
        col("embedding"), "label", threshold = 0.95, probeDims = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fallback === expected, "odd-dim fallback diverged")
    // default probeDims = 0 → auto-sized from a count probe
    val auto = Similarity.cosineDupPairs(df, col("vec_id"),
        col("embedding"), "label", threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto === expected, "auto-sized grid diverged")
  }

  test("int8 scalar quantization: constant vectors degrade gracefully, " +
      "bytes stay in range, and dequantized top-10 recall >= 0.9 vs " +
      "the exact float ranking on sf0.001") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    // degenerate constant vector → all -128, bounds preserved
    val const = Seq((1L, Array(2.5f, 2.5f, 2.5f)))
      .toDF("vec_id", "embedding")
      .select(Similarity.quantizeInt8(col("embedding")).as("q"))
      .select(col("q.mn"), col("q.mx"), col("q.q")).head()
    assert(const.getFloat(0) === 2.5f && const.getFloat(1) === 2.5f)
    assert(const.getSeq[Byte](2).forall(_ == -128))

    val e = graft.sources.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding")
    // every quantized byte is a legal bucket (floor bound argument)
    val qs = e.select(explode(
      Similarity.quantizeInt8(col("embedding")).getField("q")).as("b"))
    assert(qs.filter(col("b") < -128 || col("b") > 127).count() === 0)

    // recall@10: dequantized-dot ranking vs exact float ranking
    def dotD(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.bruteForceTopK(e, col("vec_id"),
        col("embedding"), q, col("qid"), col("qv"), 10)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val de = e.withColumn("dq",
      Similarity.dequantizeInt8(Similarity.quantizeInt8(col("embedding"))))
    val qd = q.withColumn("dqq",
      Similarity.dequantizeInt8(Similarity.quantizeInt8(col("qv"))))
    val w = Window.partitionBy("qid")
      .orderBy(col("s").desc, col("vec_id"))
    val approx = de.crossJoin(broadcast(qd))
      .withColumn("s", dotD(col("dq"), col("dqq")) /
        (sqrt(dotD(col("dq"), col("dq"))) *
          sqrt(dotD(col("dqq"), col("dqq")))))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= 10)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val recalls = exact.map { case (qid, want) =>
      approx(qid).intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"dequantized recall@10 = $mean")
  }

  test("trainCentroids rejects initRounds = 0 with k > 1 (would seed " +
      "k identical centroids Lloyd cannot separate)") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.trainCentroids(df, col("embedding"), k = 2,
        iters = 1, initRounds = 0)
    }
    assert(ex.getMessage.contains("initRounds"))
    // k = 1 with zero rounds stays legal: a single centroid needs no
    // oversampling and the md5-smallest seed is well-defined
    val one = Similarity.trainCentroids(df, col("embedding"), k = 1,
      iters = 1, initRounds = 0)
    assert(one.length === 1)
  }

  test("IVF quantizer: trainCentroids recovers well-separated cluster " +
      "means, assignCells routes to the nearest, probe recall is exact") {
    import spark.implicits._
    val rnd = new Random(11)
    val dim = 8
    // four orthogonal-direction clusters, tight noise: the true coarse
    // structure a quantizer must find
    val centers = (0 until 4).map { c =>
      Array.tabulate(dim)(i => if (i == 2 * c) 1.0f else 0.0f)
    }
    val rows = (0 until 800).map { i =>
      val c = i % 4
      val v = centers(c).map(x => x + 0.05f * rnd.nextGaussian().toFloat)
      (i.toLong, v, c)
    }
    val df = rows.toDF("vec_id", "embedding", "true_c")

    val cents = Similarity.trainCentroids(df, col("embedding"), k = 4,
      iters = 5)
    assert(cents.length === 4)
    // every true center is ~recovered by exactly one trained centroid
    // (cosine > 0.99 to it), i.e. no two clusters merged
    val matched = centers.map { tc =>
      val n = math.sqrt(tc.map(x => x * x.toDouble).sum)
      cents.indexWhere { cc =>
        val cn = math.sqrt(cc.map(x => x * x.toDouble).sum)
        val d = tc.zip(cc).map { case (a, b) => a.toDouble * b }.sum
        d / (n * cn) > 0.99
      }
    }
    assert(matched.forall(_ >= 0) && matched.distinct.length === 4)

    // assignment agrees with a scala-side nearest-centroid argmax
    val assigned = df.select(col("vec_id"), col("true_c"),
        Similarity.assignCells(col("embedding"), cents).as("cell"))
      .as[(Long, Int, Int)].collect()
    val cellsByTrue = assigned.groupBy(_._2)
      .map { case (t, xs) => t -> xs.map(_._3).distinct }
    // tight clusters ⇒ each true cluster maps onto ONE trained cell
    assert(cellsByTrue.values.forall(_.length === 1))
    assert(cellsByTrue.values.flatten.toSeq.distinct.length === 4)

    // end-to-end: probe only the query's trained cell; top-10 matches
    // brute force exactly (in-cluster neighbors dominate at this
    // separation, so pruning the other cells loses nothing)
    val cellCol = Similarity.assignCells(col("embedding"), cents)
    val indexed = df.withColumn("cell", cellCol)
    val queries = indexed.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("cell"))
    val ivf = ivfTop(indexed, queries, k = 10)
      .select(col("query_id"), col("vec_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    val brute = Similarity.bruteForceTopK(df, col("vec_id"),
        col("embedding"),
        df.filter(col("vec_id") < 4).select(col("vec_id").as("query_id"),
          col("embedding").as("qvec")),
        col("query_id"), col("qvec"), k = 10)
      .select(col("query_id"), col("vec_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    assert(ivf === brute)
  }

  test("multi-probe IVF: boundary queries recover the neighbors that " +
      "nprobe=1 quantizes away") {
    import spark.implicits._
    val rnd = new Random(23)
    val dim = 8
    val centers = (0 until 4).map { c =>
      Array.tabulate(dim)(i => if (i == 2 * c) 1.0f else 0.0f)
    }
    val corpus = (0 until 800).map { i =>
      val c = i % 4
      (i.toLong, centers(c).map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val df = corpus.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(df, col("embedding"), k = 4,
      iters = 5)
    val indexed = df.withColumn("cell",
      Similarity.assignCells(col("embedding"), cents))
    // a query BETWEEN clusters 0 and 1 (equal cosine to both): its true
    // top-10 straddles the cell boundary
    val qvec = Array.tabulate(dim)(i =>
      if (i == 0 || i == 2) 0.7071f else 0.0f)
    val qDf = Seq((9999L, qvec)).toDF("query_id", "qvec")
    val brute = Similarity.bruteForceTopK(df, col("vec_id"),
        col("embedding"), qDf, col("query_id"), col("qvec"), k = 10)
      .select("vec_id").as[Long].collect().toSet
    def probed(nprobe: Int) = {
      val probes = qDf.select(col("query_id"), col("qvec"),
        explode(Similarity.probeCells(col("qvec"), cents, nprobe))
          .as("cell"))
      ivfTop(indexed, probes, k = 10).select("vec_id").as[Long].collect().toSet
    }
    // nprobe=1 sees only one side of the boundary; nprobe=2 is exact
    val one = probed(1)
    assert((brute -- one).nonEmpty,
      "fixture not on a boundary: nprobe=1 already exact")
    assert(probed(2) === brute)
  }

  test("star-contraction fallback produces identical components to " +
      "pure propagation on random graphs (seeded)") {
    import spark.implicits._
    val rnd = new Random(7)
    // sparse random graph: mixed topology — some chains, some bushy
    // components, some isolated pairs
    val edges = (0 until 800).map { _ =>
      val a = rnd.nextInt(500).toLong
      val d = 1 + rnd.nextInt(6)
      (a, math.min(499L, a + d))
    }.filter(e => e._1 != e._2).distinct
    val pairs = edges.toDF("id_a", "id_b")
    // propagation-only: generous budget, never reaches the fallback
    val byProp = Dedup.connectedComponents(pairs, col("id_a"),
        col("id_b"), maxIters = 200, switchAfter = 200)
      .as[(Long, Long)].collect().toMap
    // fallback-heavy: propagation capped at 1 round, contraction does
    // the real work
    val byStar = Dedup.connectedComponents(pairs, col("id_a"),
        col("id_b"), maxIters = 40, switchAfter = 1)
      .as[(Long, Long)].collect().toMap
    assert(byProp === byStar)
    assert(byProp.nonEmpty)
    // canonical really is the component minimum: no member maps to a
    // larger id than itself maps through
    byProp.foreach { case (id, canon) =>
      assert(canon <= id && byProp(canon) === canon)
    }
  }

  test("k-means|| init is partitioning-independent: identical seeds " +
      "from 1-partition and 7-partition layouts (iters=0 isolates init)") {
    import spark.implicits._
    val rnd = new Random(23)
    val dim = 8
    val rows = (0 until 600).map { i =>
      val c = i % 6
      val v = Array.tabulate(dim)(j =>
        (if (j == c) 1.0f else 0.0f) + 0.05f * rnd.nextGaussian().toFloat)
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    // quantized-long normalizer + md5 Bernoulli draws: the candidate
    // set, weights, and greedy picks must not see partition boundaries
    val a = Similarity.trainCentroids(df.repartition(1),
      col("embedding"), k = 8, iters = 0)
    val b = Similarity.trainCentroids(df.repartition(7),
      col("embedding"), k = 8, iters = 0)
    assert(a.length === 8 && b.length === 8)
    a.zip(b).foreach { case (x, y) => assert(x.toSeq === y.toSeq) }
    // and FULL training too: Lloyd means sum 2^-20-grid longs, so
    // iterations are as layout-independent as init — this is the
    // property that lets ann_topk_ivf_trained export its centroids
    // for a bit-exact DuckDB oracle
    val ta = Similarity.trainCentroids(df.repartition(1),
      col("embedding"), k = 8, iters = 3)
    val tb = Similarity.trainCentroids(df.repartition(7),
      col("embedding"), k = 8, iters = 3)
    ta.zip(tb).foreach { case (x, y) => assert(x.toSeq === y.toSeq) }
    // oversampling really oversamples: seeds cover all 6 planted
    // directions (no two true clusters starved)
    val covered = (0 until 6).count { c =>
      a.exists { s =>
        val n = math.sqrt(s.map(x => x * x.toDouble).sum)
        s(c) / n > 0.8
      }
    }
    assert(covered === 6, s"only $covered/6 clusters seeded")
  }

  test("CentroidBest kernel equals the per-centroid-literal " +
      "formulation (cell and score) on random, tied, zero and NaN " +
      "vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new Random(7)
    val dim = 8
    val cents: Seq[Array[Float]] =
      Seq.fill(37)(Array.fill(dim)(rnd.nextGaussian().toFloat)) ++
        Seq(Array.fill(dim)(0.0f)) :+            // zero centroid (norm->1)
        Array.fill(dim)(rnd.nextGaussian().toFloat)
    val vecs: Seq[Array[Float]] =
      Seq.tabulate(200)(_ => Array.fill(dim)(rnd.nextGaussian().toFloat)) ++
        Seq(Array.fill(dim)(0.0f),               // ties every centroid at 0
          cents(3),                              // exact centroid hit
          Array.fill(dim)(Float.NaN))            // NaN scores everywhere
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    // legacy formulation, inlined (the pre-round-10 assignCells body)
    def legacyScores = cents.zipWithIndex.map { case (cArr, i) =>
      val n = math.sqrt(cArr.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      val cLit = array(cArr.toSeq.map(x => lit(x)): _*)
      struct((Similarity.dot(col("v"), cLit) /
        lit(if (n == 0) 1.0 else n)).as("s"), lit(-i).as("ni"))
    }
    val got = df.select(col("id"),
        graft.functions.CentroidBest(col("v"), cents).getField("cell")
          .as("kc"),
        graft.functions.CentroidBest(col("v"), cents).getField("cos")
          .as("ks"),
        (-array_max(array(legacyScores: _*)).getField("ni")).cast("int")
          .as("lc"),
        array_max(array(legacyScores: _*)).getField("s").as("ls"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(1) === r.getInt(3), s"cell mismatch at id ${r.getLong(0)}")
      val ks = r.getDouble(2); val ls = r.getDouble(4)
      assert(java.lang.Double.compare(ks, ls) === 0,
        s"score mismatch at id ${r.getLong(0)}: $ks vs $ls")
    }
  }

  test("CentroidTopN kernel equals the sort_array/slice formulation " +
      "(order and ties) on random vectors with duplicate centroids") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new Random(11)
    val dim = 8
    val base = Seq.fill(29)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    // duplicate centroids make exact score ties — the ordering edge
    val cents: Seq[Array[Float]] = base ++ Seq(base(2).clone, base(7).clone)
    val nprobe = 5
    val df = Seq.tabulate(150)(i =>
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("id", "v")
    def legacyScores = cents.zipWithIndex.map { case (cArr, i) =>
      val n = math.sqrt(cArr.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      val cLit = array(cArr.toSeq.map(x => lit(x)): _*)
      struct((Similarity.dot(col("v"), cLit) /
        lit(if (n == 0) 1.0 else n)).as("s"), lit(-i).as("ni"))
    }
    val legacy = transform(
      slice(sort_array(array(legacyScores: _*), asc = false), 1, nprobe),
      c => (-c.getField("ni")).cast("int"))
    val rows = df.select(col("id"),
        graft.functions.CentroidTopN(col("v"), cents, nprobe).as("k"),
        legacy.as("l"))
      .as[(Long, Seq[Int], Seq[Int])].collect()
    rows.foreach { case (id, k, l) =>
      assert(k === l, s"probe order mismatch at id $id: $k vs $l")
    }
  }

  test("samplePredicate draws a strict non-empty subset of the " +
      "embeddings table (the ann_topk_ivf_sampled training pool), " +
      "deterministically") {
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val total = e.count()
    val pred = Similarity.samplePredicate(col("embedding"), 0.5)
    val sampled = e.filter(pred).count()
    assert(sampled > 0, "empty training pool: sampled quantizer would " +
      "train on nothing")
    assert(sampled < total,
      s"sample is the whole table ($sampled of $total): the sampled " +
        "path would be indistinguishable from full training")
    // content-keyed draw: same predicate, same rows — no RNG anywhere
    assert(e.filter(pred).count() === sampled)
  }

  test("PQ re-rank recovers strictly more of the exact top-10 than the " +
      "ADC-only ranking, every query self-hits at rank 1, and re-ranked " +
      "members carry TRUE cosines (not reconstruction scores)") {
    def topSet(name: String) = SparkEntry.queries(name)(spark, sf0001)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = topSet("ann_topk_brute")
    val adc = topSet("ann_topk_pq")
    val rerank = topSet("ann_topk_pq_rerank")
    val adcHits = (adc & brute).size
    val rerankHits = (rerank & brute).size
    // the whole point of the refine stage: a 100-deep ADC shortlist
    // re-scored exactly must beat the raw 10-deep ADC cut (12-bit
    // codes alone sit at ~10-40% recall; the measured re-rank recall
    // here is ~62%)
    assert(rerankHits > adcHits,
      s"re-rank recall $rerankHits/50 not above ADC-only $adcHits/50")
    assert(rerankHits >= 20, s"re-rank recall collapsed: $rerankHits/50")
    // each query vector is its own exact nearest neighbor (cosine 1);
    // the re-ranker must surface it at rank 1 — ADC alone need not
    // (codes can collide), so this pins the exact stage specifically
    val r1 = SparkEntry.queries("ann_topk_pq_rerank")(spark, sf0001)
      .filter(col("rank") === 1)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(r1.length == 5 && r1.forall { case (q, v) => q == v },
      s"self-neighbor not at rank 1: ${r1.toSeq}")
  }

  test("PQ code assignment is total: every vector gets one code per " +
      "subspace in [0, K) and identical inputs encode identically") {
    val df = SparkEntry.queries("ann_topk_pq")(spark, sf0001)
    // plan sanity: the broadcast query join must not degrade into a
    // shuffle join (the corpus side never shuffles before top-k)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"PQ scoring join shuffles the corpus:\n$plan")
    val rows = df.collect()
    assert(rows.length == 5 * 10)
    assert(rows.forall(_.getInt(rows.head.fieldIndex("rank")) <= 10))
  }

  test("probedScores probing every trained cell (nprobe = IvfK) returns " +
      "exactly the brute top-10") {
    import graft.queries.SimilarityQueries._
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val cents = trainedCentroids(spark, sf0001)
    val probed = probes(e, cents, IvfK)
    assert(probed.count() === 5L * IvfK, "not every cell is probed")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "rank", "cosine").collect()
        .map(_.toSeq).toSet
    val ivf = rows(ivfTop10(assigned(e, cents), probed))
    assert(ivf.size === 50)
    assert(ivf === rows(bruteTop10(e, queryFrame(e))))
  }

  test("PQ reconstruction is the concatenation of the codebook rows " +
      "assignCells picks for each slice") {
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val books = graft.queries.SimilarityQueries.pqCodebooks(spark, sf0001)
    val width = books.head.head.length
    val picks = books.indices.map(m => Similarity.assignCells(
      slice(col("embedding"), m * width + 1, width), books(m).toSeq))
    val rows = e.select(array(picks: _*).as("picks") +:
        Similarity.pqCodes(col("embedding"), books): _*)
      .select(col("picks"), Similarity.pqReconstruct(books))
      .as[(Seq[Int], Seq[Double])].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length > 1, "every vector coded alike")
    rows.foreach { case (pick, rvec) =>
      val expected = pick.zipWithIndex.flatMap { case (code, m) =>
        books(m)(code).map(_.toDouble) }
      assert(rvec === expected, s"codes $pick")
    }
  }

  test("the recall report of the brute top-10 against itself is 1000 " +
      "permille for all 5 queries") {
    import graft.queries.SimilarityQueries._
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val brute = bruteTop10(e, queryFrame(e)).select("query_id", "vec_id")
    val report = recallReport(brute, brute).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(report === (0L until 5L).map(q => (q, 10L, 1000L)))
  }
}
