package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.FloatVecDot

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exact baseline, an IVF-style
  * cell-probed variant as the scale path, and label-bucketed
  * cosine near-duplicate pairs.
  *
  * Numerics: products and sums run in DOUBLE, accumulated strictly
  * left-to-right ([[graft.functions.VecDot]]), so results are
  * bit-deterministic — independent of partitioning, and reproducible
  * against any engine
  * that folds left-to-right in double (float32 inputs convert exactly).
  *
  * Performance: the dot product is a custom codegen'd Catalyst
  * expression — one fused loop over packed ArrayData — because the
  * equivalent `aggregate(zip_with(...))` higher-order chain evaluates
  * interpreted (measured ~50× slower at 10⁵⁻⁶ pairs). Norms are
  * computed ONCE per row before any join, never per pair.
  *
  * Scale design: queries are broadcast (collect-free plan, one scan of
  * the vector table); the serving rows rank with [[TopK.perGroup]],
  * whose exchange carries ≤ partitions×Q×k rows, while the
  * window-ranked reference [[bruteForceTopK]] shuffles all Q·N pairs.
  * [[probedScores]] pre-prunes by probing only the query's coarse cell
  * (partition pruning on the cell column cuts both scan and pair count
  * by the cell fan-out). Near-dup pairing never goes all-pairs:
  * candidates are restricted to a bucket column (coarse cluster id,
  * LSH band, …).
  */
object Similarity {

  /** Sequential-fold dot product in double (codegen'd). */
  def dot(a: Column, b: Column): Column = FloatVecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** All (vector, query) cosine pairs with pre-hoisted norms — the
    * scoring stage of the exact top-k, ranked by [[TopK.perGroup]] in
    * the query rows and by a window in [[bruteForceTopK]]. */
  def scoredPairs(vectors: DataFrame, idCol: Column, vecCol: Column,
      queries: DataFrame, queryIdCol: Column,
      queryVecCol: Column): DataFrame = {
    val vecs = vectors.withColumn("_vnorm", norm(vecCol))
    val qs = queries.withColumn("_qnorm", norm(queryVecCol))
    vecs.crossJoin(broadcast(qs))
      .withColumn("cosine",
        dot(vecCol, queryVecCol) / (col("_vnorm") * col("_qnorm")))
      .drop("_vnorm", "_qnorm")
  }

  /** Exact top-k neighbours per query vector, ranked by a window — the
    * specs' reference for the [[TopK.perGroup]] paths. `queries` must be
    * small enough to broadcast (it is the driver of the Q·N pair
    * count). */
  def bruteForceTopK(vectors: DataFrame, idCol: Column, vecCol: Column,
      queries: DataFrame, queryIdCol: Column, queryVecCol: Column,
      k: Int): DataFrame = {
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("cosine").desc, idCol)
    scoredPairs(vectors, idCol, vecCol, queries, queryIdCol, queryVecCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Train an IVF coarse quantizer: Lloyd's k-means over the vector
    * column, returning the centroid matrix (collected — a coarse
    * quantizer is k ≲ thousands of d-dim rows, always driver-sized).
    *
    * Initialization is a DETERMINISTIC k-means‖-style oversampling
    * (Bahmani et al., VLDB'12): the md5-smallest vector seeds first,
    * then `initRounds` rounds each Bernoulli-sample ~ℓ = 2k candidates
    * with per-row probability ℓ·d(x,C)/Σd — far rows are likelier, so
    * no tight cluster hogs the candidate set — then one assignment
    * scan weights the ~1+ℓ·rounds candidates by the pool mass they
    * capture, and a driver-side weighted farthest-point pass picks the
    * final k. That is O(initRounds) full scans instead of the k
    * driver-paced scans of naive farthest-point init — at k = 512-4096
    * (realistic 100 TB IVF) init no longer dominates training.
    *
    * Determinism without RNG: the Bernoulli draw for row x in round r
    * compares the md5-derived uniform frac(md5(h(x):r)) against
    * ℓ·d_q(x)/Z where d_q is the cosine distance QUANTIZED to 2⁻²⁰
    * grid longs and Z their LONG sum — integer sums are associative,
    * so the threshold (and thus the candidate set, weights, and final
    * centroids) is identical under any partitioning. Training then
    * runs a FIXED `iters` Lloyd rounds — no RNG, no
    * convergence-dependent round count. Per-round cost is one scan:
    * assign (broadcast centroid literals, argmax cosine) + a
    * `posexplode`→`groupBy(cell, pos)` partial-agg mean — k·d groups,
    * never a shuffle of the vectors themselves. Empty cells retain
    * their previous centroid. Lloyd means sum per-element values
    * quantized to the same 2⁻²⁰ grid as LONGs, so the WHOLE trained
    * quantizer — init and iterations — is bit-identical under any
    * partitioning or shuffle-merge order (a plain double sum varies
    * in the trailing bits with cluster layout); the ≤2⁻²⁰ per-element
    * quantization is noise for a coarse quantizer, and it is what
    * lets `ann_topk_ivf_trained` export the centroids for an exact
    * hash-matching DuckDB oracle.
    *
    * @param sampleFraction train on a deterministic md5-bucketed
    *   sample (coarse quantizers don't need every row; at 100 TB you
    *   train on ~10⁻⁴ of the corpus and assign everything)
    * @param initRounds oversampling rounds (each ~2k candidates; the
    *   paper shows ~5 rounds match k-means++ quality) */
  def trainCentroids(df: DataFrame, vecCol: Column, k: Int,
      iters: Int = 5, sampleFraction: Double = 1.0,
      initRounds: Int = 4): Array[Array[Float]] = {
    require(k > 0 && iters >= 0 && initRounds >= 0)
    // initRounds = 0 with k > 1 would degenerate: the candidate pool is
    // only the md5-smallest vector, the cycle fallback copies it k
    // times, and Lloyd cannot separate identical centroids (every row
    // assigns to cell 0; empty cells keep the same copy) — an
    // effective k=1 quantizer that LOOKS trained. Fail loudly instead.
    require(k == 1 || initRounds >= 1,
      s"initRounds must be >= 1 when k > 1 (k=$k): zero oversampling " +
        "rounds seed k identical centroids that Lloyd cannot separate")
    val pool =
      if (sampleFraction >= 1.0) df.select(vecCol.as("_v"))
      else df.select(vecCol.as("_v"))
        .filter(samplePredicate(vecCol, sampleFraction))
    // Re-partition the training pool to full parallelism BEFORE
    // caching: an embeddings table often arrives as few fat parquet
    // splits (sf0.1 is ONE 13 MB split), and every driver-paced
    // training round re-scans this cached pool — without the spread, a
    // 32-core session trains on one thread (measured: k=16 init alone
    // ran minutes single-threaded; spread it's seconds). One
    // shuffle of the pool, amortized over every init + Lloyd round.
    // Partitioning does NOT affect results: round sums are associative
    // integer sums and the Bernoulli draws are per-row md5 decisions.
    val hashed = pool
      .repartition(pool.sparkSession.sparkContext.defaultParallelism)
      .withColumn("_h", md5(to_json(struct(col("_v")))))
      .withColumn("_n", norm(col("_v")))
      .cache()
    val first = hashed.orderBy("_h").limit(1).select("_v", "_h")
      .collect().map(r => (r.getSeq[Float](0).toArray, r.getString(1)))
    require(first.nonEmpty, "no vectors to train on")
    var centroids = kmeansParInit(hashed, first, k, initRounds)
    for (_ <- 1 to iters) {
      // per-element sums quantized to 2^-20 grid LONGs: associative,
      // hence partition-layout-independent (see Scaladoc). Headroom:
      // |Σ| < rows · max|x| · 2^20, overflowing Long only past ~8.8e12
      // row-units — train on a sample long before that.
      val stats = hashed
        .select(assignCells(col("_v"), centroids).as("_cell"),
          posexplode(col("_v")).as(Seq("_pos", "_x")))
        .groupBy("_cell", "_pos")
        .agg(sum(floor(col("_x").cast("double") * lit(1048576.0)))
          .as("_s"), count(lit(1)).as("_n"))
        .collect()
      val byCell = stats.groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (prev, c) =>
        byCell.get(c) match {
          case Some(rows) =>
            val out = prev.clone()
            rows.foreach(r =>
              out(r.getInt(1)) =
                (r.getLong(2).toDouble / 1048576.0 / r.getLong(3)).toFloat)
            out
          case None => prev
        }
      }
    }
    hashed.unpersist()
    centroids
  }

  /** The deterministic training-sample predicate behind
    * `trainCentroids(sampleFraction)` — the documented 100 TB mode
    * (train the coarse quantizer on ~10⁻⁴ of the corpus, assign
    * everything): a row is in the pool iff the first 4 hex chars of
    * the md5 of its vector's JSON rendering, read as a 16-bit
    * integer, fall below `sampleFraction · 2¹⁶`. Content-keyed and
    * RNG-free, so the pool (hence the trained quantizer) is identical
    * under any partitioning — and re-derivable by a spec or an
    * external engine from the same md5 primitive. Exposed so
    * `SimilaritySpec` can assert the draw is a strict non-empty
    * subset at the CORRECTNESS scale. */
  def samplePredicate(vecCol: Column, sampleFraction: Double): Column =
    conv(substring(md5(to_json(struct(vecCol))), 1, 4), 16, 10)
      .cast("long") < (sampleFraction * 65536).toLong

  /** Deterministic k-means‖ oversampling init (see [[trainCentroids]]
    * Scaladoc for the determinism argument). Returns exactly k seed
    * vectors. */
  private def kmeansParInit(hashed: DataFrame,
      first: Array[(Array[Float], String)], k: Int,
      initRounds: Int): Array[Array[Float]] = {
    val ell = math.max(2 * k, 8)
    var cand = first
    var r = 1
    var exhausted = false
    while (r <= initRounds && !exhausted) {
      // candidate sets reach ~ell·rounds vectors, so scoring MUST go
      // through the flat CentroidBest kernel — the per-centroid
      // expression form ran 230 s/task here at k=256 (see its Scaladoc)
      val maxCos = graft.functions.CentroidBest(col("_v"),
        cand.map(_._1).toSeq).getField("cos") / col("_n")
      // cosine distance quantized to a 2^-20 grid as LONG: the global
      // normalizer Z is then an associative integer sum — identical
      // under any partitioning, so the Bernoulli threshold is too
      val distQ = greatest(lit(0L),
        floor((lit(1.0) - maxCos) * lit(1048576.0)).cast("long"))
      val z = hashed.select(sum(distQ).as("z")).head.getLong(0)
      if (z <= 0L) exhausted = true // every row coincides with a seed
      else {
        val u = conv(substring(
          md5(concat(col("_h"), lit(s":kmpar:$r"))), 1, 15), 16, 10)
          .cast("long").cast("double") / lit(math.pow(2.0, 60))
        val p = distQ.cast("double") * lit(ell.toDouble / z.toDouble)
        val drawn = hashed.filter(u < p).select("_v", "_h").collect()
          .map(row => (row.getSeq[Float](0).toArray, row.getString(1)))
        val known = cand.map(_._2).toSet
        cand = cand ++ drawn.filterNot(t => known(t._2))
        r += 1
      }
    }
    // weight candidates by captured pool mass (one assignment scan),
    // then a driver-side weighted farthest-point pass picks k — cheap:
    // the candidate set is ~1 + ell*initRounds rows
    val candSorted = cand.sortBy(_._2)
    val vecs = candSorted.map(_._1)
    val weights = hashed
      .select(assignCells(col("_v"), vecs.toSeq).as("_c"))
      .groupBy("_c").count().collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
    val norms = vecs.map(v =>
      math.max(math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x)),
        Double.MinPositiveValue))
    def cosAt(i: Int, j: Int): Double = {
      var s = 0.0; var d = 0
      val a = vecs(i); val b = vecs(j)
      while (d < math.min(a.length, b.length)) {
        s += a(d).toDouble * b(d); d += 1
      }
      s / (norms(i) * norms(j))
    }
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val startIdx = vecs.indices
      .maxBy(i => (weights.getOrElse(i, 0L), -i.toLong))
    chosen += startIdx
    val bestCos = Array.tabulate(vecs.length)(i => cosAt(i, startIdx))
    while (chosen.length < math.min(k, vecs.length)) {
      val next = vecs.indices.filterNot(chosen.contains)
        .maxBy(i =>
          (weights.getOrElse(i, 0L).toDouble * (1.0 - bestCos(i)), -i.toLong))
      chosen += next
      vecs.indices.foreach { i =>
        val c = cosAt(i, next)
        if (c > bestCos(i)) bestCos(i) = c
      }
    }
    // pool smaller than k: cycle the candidates (matches the old
    // farthest-point behavior of repeating once everything is a seed)
    val picked = chosen.map(vecs).toArray
    if (picked.length >= k) picked
    else Array.tabulate(k)(i => picked(i % picked.length))
  }

  /** Nearest-centroid cell id by cosine (norm of the input vector is a
    * common positive factor of the argmax and cancels; centroid norms
    * fold into the kernel's reference matrix). Ties break to the
    * SMALLEST cell id. One [[graft.functions.CentroidBest]] kernel
    * expression regardless of k — see its Scaladoc for why the
    * per-centroid-literal formulation this replaced collapses at
    * training-scale k. */
  def assignCells(vec: Column, centroids: Seq[Array[Float]]): Column =
    graft.functions.CentroidBest(vec, centroids).getField("cell")

  /** The `nprobe` nearest centroid cells by cosine, best first (ties
    * to the smaller cell id) — the multi-probe companion to
    * [[assignCells]]: a query near a cell boundary must search its
    * runner-up cells or it misses true neighbors that quantized across
    * the line. Returns `array<int>`; explode it onto the probe side of
    * [[probedScores]] (each corpus vector lives in exactly one cell, so
    * multi-probing cannot duplicate a (query, vector) pair). */
  def probeCells(vec: Column, centroids: Seq[Array[Float]],
      nprobe: Int): Column =
    graft.functions.CentroidTopN(vec, centroids, nprobe)

  /** Cosine of every (vector, probe) pair that shares `key` — the
    * scoring stage of the probed top-k paths. `key` is a coarse cell id
    * (pre-explode [[probeCells]] into the probe side: Q×nprobe rows)
    * or any other bucket column such as a label. Norms are hoisted onto
    * each side before the join (`_vn` on the vectors, `_qn` on the
    * probes) and the probe side is broadcast, so on a cell-partitioned
    * table the join's runtime filter prunes the scan to the probed
    * cells. Output: both sides' columns plus `_vn`, `_qn` and
    * `cosine`. */
  def probedScores(vectors: DataFrame, vecCol: Column, probes: DataFrame,
      qvecCol: Column, key: String): DataFrame =
    vectors.withColumn("_vn", norm(vecCol))
      .join(broadcast(probes.withColumn("_qn", norm(qvecCol))), key)
      .withColumn("cosine",
        dot(vecCol, qvecCol) / (col("_vn") * col("_qn")))

  /** Product-quantization codes (Jégou et al., TPAMI'11): for each
    * subspace `m`, the nearest row ([[assignCells]]) of `codebooks(m)`
    * to the m-th consecutive slice of `vec`, as an INT column
    * `code<m>`. The slice width is the codebook rows' width (d/M). */
  def pqCodes(vec: Column,
      codebooks: Seq[Array[Array[Float]]]): Seq[Column] =
    codebooks.zipWithIndex.map { case (book, m) =>
      val width = book.head.length
      assignCells(slice(vec, m * width + 1, width), book.toSeq)
        .as(s"code$m")
    }

  /** The PQ reconstruction of the `code<m>` columns of [[pqCodes]]: the
    * concatenation of each subspace's chosen codebook row, as
    * `array<double>` (doubles carry the float rows exactly). Codebooks
    * are inlined as literals — M·K·(d/M) floats, always broadcast-sized. */
  def pqReconstruct(codebooks: Seq[Array[Array[Float]]]): Column =
    concat(codebooks.zipWithIndex.map { case (book, m) =>
      element_at(typedLit(book.toSeq.map(_.toSeq.map(_.toDouble))),
        col(s"code$m") + 1)
    }: _*)

  /** Embedding-cosine near-duplicate pairs within a bucket, with the
    * bucket refined by `probeDims` chord-bound projection grids and an
    * exact chord PREFILTER on the candidate stream.
    *
    * A coarse bucket column alone (class label, cluster id) has FIXED
    * cardinality, so its per-bucket population grows linearly with the
    * corpus and the in-bucket pair expansion quadratically — measured
    * 12.8× time at 10× rows in the r9 scale run. The refinement is
    * EXACT, not probabilistic: a pair with cosine ≥ t has normalized
    * chord ‖â−b̂‖ ≤ √(2−2t), so its projections onto any UNIT vector
    * differ by at most that width — quantized to grid cells of exactly
    * that width, the two cells differ by at most 1 per projection.
    * Joining home cells against ±1-probed cells therefore cannot miss
    * a qualifying pair; the final codegen'd cosine filter is
    * unchanged, so the result set is identical to the unrefined join.
    *
    * r15 redesign, after the sf10 (100×) measurement showed the fixed
    * knob COMPOUNDING (pd=2: 196 s; pd=4 slower than pd=3 because the
    * probe explode carried the vectors — ~300 B × 3^pd per row):
    *
    *  1. The probe explode carries only (bucket, id, cells, prefilter)
    *     — never the vector.
    *  2. Candidates stream through an exact chord prefilter BEFORE
    *     anything materializes: with mutually ORTHONORMAL projection
    *     directions, Σ_k (Δproj_k)² ≤ ‖â−b̂‖² over any subset, so
    *     `pfa²+pfb²−2·pf_a·pf_b > 2−2t (+ float slack)` rejects
    *     exactly — the slack only ADMITS borderline candidates, which
    *     the final full cosine still filters. The dot is the codegen'd
    *     [[FloatVecDot]] over an 8-float array; the directions are
    *     Hadamard rows (mask j: sign = parity(popcount(i & j))),
    *     orthonormal whenever 2^⌈log₂(m+1)⌉ divides d — degenerate
    *     dims fall back to the r9 single-bit patterns, prefilter off.
    *  3. Only prefilter SURVIVORS (≈ true near-dups) join the vectors
    *     back by id for the exact cosine — two linear id-keyed joins.
    *  4. `probeDims = 0` (the default) AUTO-SIZES from a count probe —
    *     one extra cheap job, MEMOIZED per (input plan, process) so
    *     repeated construction (Explain, ElisionAudit, bench loops)
    *     pays it once — the dedup_incremental_bloom sizing precedent:
    *     one grid dim per decade beyond 5·10⁴ rows, so candidate
    *     enumeration stays bounded as the corpus grows (capped at 5:
    *     the probe explode is 3^pd). NOTE this makes the FIRST
    *     construction of each distinct input plan side-effectful (a
    *     count job runs before the DataFrame exists) — unavoidable,
    *     because grid depth is plan SHAPE.
    *
    * A positive `probeDims` pins the grid depth (output-invariant by the
    * exactness argument). Projections are computed per ROW in O(d) next
    * to the O(d) norm — never per pair. */
  /** Construction-time COUNT probe, memoized by the input's SEMANTIC
    * plan hash: `probeDims = 0` auto-sizing needs the row count (grid
    * depth is plan SHAPE, so it must be known before the DataFrame
    * exists), which makes construction side-effectful —
    * Explain/ElisionAudit and Bench's timed region run this job on
    * first construction of each distinct input plan. The memo bounds
    * that to once per (plan, process). The safety claim is specific
    * to the COUNT: depth is output-invariant (exactness argument
    * above), so a stale count across hash-colliding or rewritten-data
    * plans can only change grid DEPTH, never the emitted pairs. The
    * vector DIMENSION enjoys no such invariance (it sizes the Hadamard
    * masks, the √d normalization and the prefilter slack), so it is
    * deliberately NOT memoized — the limit-1 probe is a one-row job
    * per construction (r16 ADVICE). */
  private val countMemo = new java.util.concurrent.ConcurrentHashMap[
    Int, Long]()

  def cosineDupPairs(df: DataFrame, idCol: Column, vecCol: Column,
      bucketCol: String, threshold: Double,
      probeDims: Int = 0): DataFrame = {
    require(threshold > -1.0 && threshold < 1.0,
      "threshold must be in (-1, 1)")
    val memoKey =
      df.select(idCol, vecCol).queryExecution.analyzed.semanticHash()
    val gridDims =
      if (probeDims > 0) probeDims
      else {
        val n = countMemo.computeIfAbsent(memoKey, _ => df.count())
        math.min(5, 2 + math.max(0,
          math.floor(math.log10(math.max(1.0, n / 50000.0))).toInt +
            (if (n > 50000) 1 else 0)))
      }
    val cellW = math.sqrt(2.0 - 2.0 * threshold)
    val base = df.select(col(bucketCol).as("_bk"), idCol.as("_id"),
        vecCol.as("_vec"))
      .withColumn("_norm", norm(col("_vec")))
    // Projection j: constant ±1 sign array folded at plan time (the
    // signed sum is one codegen'd FloatVecDot, not an interpreted
    // per-element lambda chain); unit value = Σ ±x_i / (√d · ‖x‖),
    // cell = ⌊proj / cellW⌋.
    val dim = {
      val dimRow = df.select(size(vecCol)).limit(1).collect()
      if (dimRow.isEmpty) 1 else dimRow.head.getInt(0)
    }
    // Hadamard masks 1..m are mutually orthonormal iff d is a multiple
    // of 2^⌈log₂(m+1)⌉; bDiv = largest b with 2^b | d bounds the family
    val bDiv = if (dim > 0) Integer.numberOfTrailingZeros(dim) else 0
    val nOrtho = (1 << math.min(bDiv, 16)) - 1
    val useHadamard = nOrtho >= gridDims
    val mPref = if (useHadamard) math.min(8, nOrtho) else 0
    def signsFor(j: Int) = {
      val mask = if (useHadamard) j + 1 else 1 << j
      array((0 until dim).map(i =>
        lit(if (Integer.bitCount(i & mask) % 2 == 0) 1.0f else -1.0f)): _*)
    }
    def proj(j: Int): Column =
      dot(col("_vec"), signsFor(j)) /
        (lit(math.sqrt(dim.toDouble)) * col("_norm"))
    val withProj = (0 until math.max(gridDims, mPref))
      .foldLeft(base)((acc, j) => acc.withColumn(s"_p$j", proj(j)))
    val withPf =
      if (mPref == 0) withProj.withColumn("_pf", lit(null).cast("array<float>"))
        .withColumn("_pf2", lit(0.0))
      else withProj
        .withColumn("_pf", array((0 until mPref).map(j =>
          col(s"_p$j").cast("float")): _*))
        .withColumn("_pf2", dot(col("_pf"), col("_pf")))
    val withCells = (0 until gridDims).foldLeft(withPf) { (acc, k) =>
      acc.withColumn(s"_c$k", floor(col(s"_p$k") / lit(cellW)))
    }
    // Probe side duplicates each row into the 3^probeDims neighboring
    // cell combinations; emitting a pair only when the PROBE id is the
    // smaller one both dedups (exactly one of the two directions
    // satisfies the order; the matching offset vector c_b − c_a is
    // unique per pair, so no distinct is needed) and keeps coverage
    // (offsets are symmetric).
    //
    // The explode carries ONLY (bucket, id, cells) — r15 fix: the
    // original carried the vector + norm through the 3^probeDims
    // duplication, so at sf10 (1M vectors, 64 floats) the probe side
    // materialized ~8 GB per added dim and deeper grids LOST time
    // (measured: probeDims 3 = 35 s but 4 = 85 s). Narrow probe rows
    // are ~40 B; the exact cosine filter instead joins the two
    // vectors back by id — two linear hash joins whose cost follows
    // the CANDIDATE count the grid just cut.
    val offsets = Seq.fill(gridDims)(Seq(-1, 0, 1))
      .foldLeft(Seq(Seq.empty[Int]))((acc, s) =>
        for (c <- acc; x <- s) yield c :+ x)
    val offArr = array(offsets.map(o =>
      struct(o.zipWithIndex.map { case (v, i) => lit(v).as(s"o$i") }: _*)
    ): _*)
    val aCols = Seq(col("_bk"), col("_id").as("id_a"),
      col("_pf").as("_pf_a"), col("_pf2").as("_pf2_a")) ++
      (0 until gridDims).map(k =>
        (col(s"_c$k") + col(s"_off").getField(s"o$k")).as(s"_ca$k"))
    val a = withCells.withColumn("_off", explode(offArr)).select(aCols: _*)
    val bCols = Seq(col("_bk").as("_bkb"), col("_id").as("id_b"),
      col("_pf").as("_pf_b"), col("_pf2").as("_pf2_b")) ++
      (0 until gridDims).map(k => col(s"_c$k").as(s"_cb$k"))
    val b = withCells.select(bCols: _*)
    // exact chord prefilter (see scaladoc): the slack must dominate
    // the float rounding of the projections so it only ever ADMITS
    // borderline candidates (the final full cosine re-filters), never
    // rejects a qualifying pair. Each projection is a FloatVecDot
    // accumulation over d elements divided by a float-accumulated
    // norm — worst-case absolute error grows ~linearly in d (each of
    // the ≤ d float adds contributes ≤ ulp ≈ 6e-8 relative, and
    // |proj| ≤ 1) — so a FIXED 1e-5 is unsafe at d ≳ 512 (r15
    // ADVICE). Slack = 1e-5 + 2^-20·d bounds 8 projections' combined
    // error with an order-of-magnitude margin (d=64 → 7e-5,
    // d=4096 → 4e-3, still ≪ the 2−2t chord budget at any useful t).
    val slack = 1e-5 + dim.toDouble / (1 << 20)
    val prefilter =
      if (mPref == 0) lit(true)
      else col("_pf2_a") + col("_pf2_b") -
        lit(2.0) * dot(col("_pf_a"), col("_pf_b")) <=
        lit(2.0 - 2.0 * threshold + slack)
    val joinCond = (0 until gridDims)
      .map(k => col(s"_ca$k") === col(s"_cb$k"))
      .foldLeft(col("_bk") === col("_bkb") &&
        col("id_a") < col("id_b") && prefilter)(_ && _)
    val cand = a.join(b, joinCond).select("id_a", "id_b")
    val va = base.select(col("_id").as("id_a"), col("_vec").as("vec_a"),
      col("_norm").as("_norm_a"))
    val vb = base.select(col("_id").as("id_b"), col("_vec").as("vec_b"),
      col("_norm").as("_norm_b"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine",
        dot(col("vec_a"), col("vec_b")) / (col("_norm_a") * col("_norm_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Per-vector int8 scalar quantization — the storage tier of a
    * 100 TB embedding pipeline (a float32 corpus shrinks ~4×: each
    * element becomes one byte + two float bounds per vector; parquet
    * bit-packs the byte column). Returns
    * `struct(mn float, mx float, q array<tinyint>)` with
    * `q_i = floor((x_i − mn) · 255 / (mx − mn)) − 128` computed in
    * DOUBLE — floor (not round) so there is no half-even/half-away
    * divergence across engines, making the quantized bytes
    * bit-reproducible anywhere IEEE doubles are (the
    * `embedding_quantize` oracle hash-matches them in DuckDB).
    * Degenerate constant vectors (mx = mn) quantize to all −128.
    * Dequantization is `mn + (q + 128) · (mx − mn) / 255` — max
    * per-element error (mx−mn)/255, which `SimilaritySpec` pins to
    * ≥ 0.9 recall@10 against the exact float top-k. */
  def quantizeInt8(vec: Column): Column = {
    val mn = array_min(vec)
    val span = (array_max(vec).cast("double") - mn.cast("double"))
    val q = transform(vec, x =>
      when(span === 0.0, lit(-128).cast("byte"))
        .otherwise((floor((x.cast("double") - mn.cast("double"))
          * lit(255.0) / span) - lit(128L)).cast("byte")))
    struct(mn.as("mn"), array_max(vec).as("mx"), q.as("q"))
  }

  /** Dequantized values of [[quantizeInt8]] output, as
    * `array<double>` (the scoring-side companion — dot products over
    * these approximate the float dot within d·span/255). */
  def dequantizeInt8(quant: Column): Column = {
    val mn = quant.getField("mn").cast("double")
    val span = quant.getField("mx").cast("double") - mn
    transform(quant.getField("q"), q =>
      mn + (q.cast("double") + lit(128.0)) * span / lit(255.0))
  }
}
