package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DoubleVecDot
import graft.operators.{Similarity, TopK}
import graft.sinks.CorpusWriter
import graft.sources.Tables

/** Similarity-search queries over the `embeddings` table
  * (`array<float>` dim 64, coarse cell id in `label`).
  *
  * The DuckDB oracles compute the same double-precision left-to-right
  * dot products as explicit 64-term chains — float32 elements convert
  * to double exactly and IEEE addition is deterministic, so cosine
  * values (not just ranks) must hash-match bit-for-bit.
  */
object SimilarityQueries {

  private val Dim = 64

  // ann_topk_ivf_trained knobs — mirrored literally in its oracle SQL
  private[graft] val IvfK = 8
  private val IvfNprobe = 2
  private val IvfIters = 3
  private val IvfInitRounds = 2

  /** ann_topk_ivf_sampled's training fraction — the documented 100 TB
    * mode (Similarity.trainCentroids trains the coarse quantizer on a
    * deterministic md5-bucketed sample and assigns everything; at
    * 100 TB the fraction is ~10⁻⁴, here 0.5 so the CORRECTNESS-scale
    * pool is still thousands of vectors). */
  private val IvfSampleFraction = 0.5

  // ann_topk_pq knobs: M subspaces × K codes (Jégou et al., TPAMI'11
  // "Product Quantization for Nearest Neighbor Search"). M·log2(K) =
  // 12 bits per vector here; production is M=8, K=256 (64 bits) — the
  // shapes below are M/K-generic, only the literals change.
  private val PqM = 4
  private val PqSub = Dim / PqM
  private val PqK = 8

  /** Process-wide PQ codebook memo (same train-once/serve-many
    * rationale as [[centroidMemo]]): M spherical-k-means runs, one
    * per subspace slice, each bit-deterministic — so the M·K·(d/M)
    * floats here are a versioned artifact any query batch reuses.
    * Export for the oracle happens once, inside the fill. */
  private val pqMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Int, Int), Array[Array[Array[Float]]]]()

  private[graft] def pqCodebookPath(dir: String): String =
    artifactPath("pq_codebooks", dir)

  private[graft] def pqCodebooks(s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Array[Float]]] =
    pqMemo.computeIfAbsent((dir, PqM, PqK, IvfIters, IvfInitRounds), _ => {
      val e = Tables.embeddings(s, dir)
      val books = (0 until PqM).map { m =>
        Similarity.trainCentroids(
          e.select(expr(
            s"slice(embedding, ${m * PqSub + 1}, $PqSub)").as("sub")),
          col("sub"), k = PqK, iters = IvfIters,
          initRounds = IvfInitRounds)
      }.toArray
      import s.implicits._
      books.zipWithIndex.flatMap { case (cb, m) =>
        cb.zipWithIndex.map { case (c, code) =>
          (m, code, c.toSeq.map(_.toDouble))
        }
      }.toSeq.toDF("m", "code", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(pqCodebookPath(dir))
      books
    })

  /** Process-wide trained-quantizer memo, keyed by every knob that
    * feeds training. Training is bit-deterministic (quantized-long
    * sums end to end), so all queries sharing a key train the SAME
    * centroid matrix — recomputing it per query (the pre-round-13
    * shape: four queries × ~2.5 s of identical training per bench
    * pass) modeled nothing real. Production IVF is train-once /
    * serve-many: the quantizer is a versioned artifact every query
    * batch reuses. The memo holds k·d floats per key — driver-sized
    * by construction. The centroid EXPORT for the DuckDB oracle also
    * runs once per key, inside the memo fill: re-running it per
    * query would rewrite identical bytes (determinism), so once is
    * enough for any later oracle compare. */
  private val centroidMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Int, Double), Array[Array[Float]]]()

  private[graft] def trainedCentroids(s: org.apache.spark.sql.SparkSession,
      dir: String, sampleFraction: Double = 1.0): Array[Array[Float]] =
    centroidMemo.computeIfAbsent(
      (dir, IvfK, IvfIters, IvfInitRounds, sampleFraction), _ => {
        val cents = Similarity.trainCentroids(Tables.embeddings(s, dir),
          col("embedding"), k = IvfK, iters = IvfIters,
          initRounds = IvfInitRounds, sampleFraction = sampleFraction)
        exportCentroids(s, cents,
          if (sampleFraction >= 1.0) centroidExportPath(dir)
          else centroidExportPathSampled(dir))
        cents
      })

  /** Where the trained centroid matrix is exported for the DuckDB
    * oracle, SF-suffixed (`…_sf0.01.parquet`) so a bench run at
    * another SF between Verify and the oracle compare cannot clobber
    * the verified run's centroids. The oracle SQL reads the sf0.01
    * path because that is the driver's CORRECTNESS scale. Training is
    * bit-deterministic (quantized-long sums end to end), so re-runs at
    * the same SF rewrite identical values. */
  private[graft] def centroidExportPath(dir: String): String =
    artifactPath("ivf_centroids", dir)

  /** The sampled-training quantizer's export path — separate from
    * [[centroidExportPath]] because a 0.5-pool quantizer is a
    * DIFFERENT (equally deterministic) centroid matrix. */
  private[graft] def centroidExportPathSampled(dir: String): String =
    artifactPath("ivf_centroids_sampled", dir)

  /** Where ann_topk_ivf_pruned lays the corpus out cell-partitioned
    * (one directory per IVF cell), SF-suffixed like the centroid
    * export. */
  private def ivfLayoutPath(dir: String): String =
    artifactPath("ivf_layout", dir)

  /** ann_topk_quantized's int8 cell-partitioned layout. */
  private def int8LayoutPath(dir: String): String =
    artifactPath("int8_layout", dir)

  /** ann_topk_ivfpq_pruned's PQ-code cell-partitioned layout. */
  private def ivfPqLayoutPath(dir: String): String =
    artifactPath("ivfpq_layout", dir)

  /** Centroids as (cell INT, cvec ARRAY<DOUBLE>) — doubles carry the
    * float values EXACTLY, so DuckDB reproduces the kernels'
    * float-to-double arithmetic bit-for-bit. */
  private def exportCentroids(s: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Float]], path: String): Unit = {
    import s.implicits._
    cents.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq.map(_.toDouble)) }
      .toDF("cell", "cvec")
      .coalesce(1).write.mode("overwrite")
      .parquet(path)
  }

  /** `Σ a[i]·b[i]` as an explicit left-assoc chain in SQL. */
  private def dotSql(a: String, b: String): String =
    (1 to Dim).map(i =>
      s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")

  private[graft] def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** The 5 query vectors as `(query_id, qvec)`, then `extra`. */
  private[graft] def queryFrame(e: DataFrame, extra: Column*): DataFrame =
    e.filter(col("vec_id") < 5)
      .select(Seq(col("vec_id").as("query_id"),
        col("embedding").as("qvec")) ++ extra: _*)

  /** [[queryFrame]] with each query's `nprobe` best cells exploded into
    * `cell` — the probe side of [[Similarity.probedScores]]. */
  private[graft] def probes(e: DataFrame, cents: Array[Array[Float]],
      nprobe: Int): DataFrame =
    queryFrame(e).withColumn("cell",
      explode(Similarity.probeCells(col("qvec"), cents, nprobe)))

  /** `df` with the nearest-centroid `cell` of its `embedding`. */
  private[graft] def assigned(df: DataFrame,
      cents: Array[Array[Float]]): DataFrame =
    df.withColumn("cell", Similarity.assignCells(col("embedding"), cents))

  /** Per query, the `k` best rows of a `(query_id, vec_id, score)` frame
    * through [[TopK.perGroup]]. */
  private def perQuery(scored: DataFrame, k: Int = 10): DataFrame =
    TopK.perGroup(scored, "query_id", "vec_id", scored.columns.last, k)

  /** `(query_id, vec_id, cosine)` of the corpus `vectors` against the
    * query frame `qs`, joined on `key`. */
  private def probedCosines(vectors: DataFrame, qs: DataFrame,
      key: String): DataFrame =
    Similarity.probedScores(vectors, col("embedding"), qs, col("qvec"), key)
      .select("query_id", "vec_id", "cosine")

  /** The trained-IVF serving path: `vectors` (carrying `cell`) scored
    * against the [[probes]] frame, native top-10. */
  private[graft] def ivfTop10(vectors: DataFrame,
      probed: DataFrame): DataFrame =
    perQuery(probedCosines(vectors, probed, "cell"))

  /** The exact top-10 of the whole corpus for the query frame `q`:
    * `(query_id, vec_id, cosine, rank)`. */
  private[graft] def bruteTop10(e: DataFrame, q: DataFrame): DataFrame =
    perQuery(Similarity.scoredPairs(e, col("vec_id"), col("embedding"), q,
      col("query_id"), col("qvec")).select("query_id", "vec_id", "cosine"))

  /** How many `truth` rows `found` returned, per `by`, and that count in
    * permille of `outOf`: `(by, n_hits, recall_permille)`. Both frames
    * carry exactly the join keys; `truth` is the preserved side. */
  private[graft] def recallReport(truth: DataFrame, found: DataFrame,
      by: String = "query_id", outOf: Int = 10): DataFrame =
    truth.join(found.withColumn("hit", lit(1L)), found.columns.toSeq, "left")
      .groupBy(by)
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col(by), col("n_hits"),
        expr(s"n_hits * 1000 div $outOf").as("recall_permille"))
      .orderBy(by)

  /** [[queryFrame]] for PQ scoring: `qvec` as `array<double>` and its
    * norm `_qn`, with `extra` columns before the norm. */
  private def pqQueries(e: DataFrame, extra: Column*): DataFrame =
    e.filter(col("vec_id") < 5)
      .select(Seq(col("vec_id").as("query_id"),
        expr("transform(embedding, x -> cast(x as double))").as("qvec")) ++
        extra: _*)
      .withColumn("_qn", sqrt(DoubleVecDot(col("qvec"), col("qvec"))))

  /** [[pqQueries]] with each query's `IvfNprobe` best coarse cells. */
  private def pqProbes(e: DataFrame, cents: Array[Array[Float]]): DataFrame =
    pqQueries(e, explode(Similarity.probeCells(col("embedding"), cents,
      IvfNprobe)).as("cell"))

  /** `(query_id, vec_id, score)`: the reconstruction cosine of the
    * PQ-`coded` rows against the broadcast PQ query side `qs`, the two
    * sides combined by `pair` (a cross join or a join on `cell`). */
  private def pqScores(coded: DataFrame, books: Array[Array[Array[Float]]],
      qs: DataFrame)(pair: (DataFrame, DataFrame) => DataFrame): DataFrame =
    pair(coded.withColumn("rvec", Similarity.pqReconstruct(books))
        .withColumn("_rn", sqrt(DoubleVecDot(col("rvec"), col("rvec")))),
      broadcast(qs))
      .withColumn("score",
        DoubleVecDot(col("rvec"), col("qvec")) / (col("_rn") * col("_qn")))
      .select("query_id", "vec_id", "score")

  /** [[pqScores]] of the whole PQ-coded corpus against the 5 queries. */
  private def pqBrute(e: DataFrame,
      books: Array[Array[Array[Float]]]): DataFrame =
    pqScores(e.select(col("vec_id") +:
      Similarity.pqCodes(col("embedding"), books): _*), books,
      pqQueries(e))(_.crossJoin(_))

  /** The exact re-score of a `(query_id, vec_id)` shortlist: the
    * shortlist, then the query frame `q`, broadcast onto the corpus `e`,
    * and `cosine` computed per joined row. */
  private def rescored(e: DataFrame, shortlist: DataFrame, q: DataFrame,
      cosine: Column): DataFrame =
    e.join(broadcast(shortlist), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine", cosine)
      .select("query_id", "vec_id", "cosine")

  val all: Map[String, Q] = Map(

    // Exact brute-force cosine top-10 for 5 broadcast query vectors,
    // ranked by a window over all Q·N pairs — the specs' reference
    // (Similarity.bruteForceTopK), so the oracle checks the reference
    // the top-k specs compare against.
    "ann_topk_brute" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
          queryFrame(e), col("query_id"), col("qvec"), 10)
        .select("query_id", "vec_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    },

    // The SAME brute-force contract through the native top-k plan node
    // (TopKPerGroupLogical → partial/final TopKPerGroupExec with a
    // Catalyst-planned exchange, SURVEY §7.3 tier c): partial selection
    // before the exchange, so the shuffle carries ≤ partitions×Q×k rows,
    // not Q·N — hash-matching the same oracle as ann_topk_brute proves
    // the pruning exact.
    "ann_topk_native" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      bruteTop10(e, queryFrame(e)).orderBy("query_id", "rank")
    },

    // IVF-style probe: only the query's coarse cell (label) is scored
    // (partition-pruned), then the bounded top-k.
    "ann_topk_ivf" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      perQuery(probedCosines(e, queryFrame(e, col("label")), "label"))
        .orderBy("query_id", "rank")
    },

    // ANN RECALL report — the diagnostic that tunes nprobe/cell count:
    // per query, how many of the exact top-10 the cell-restricted IVF
    // search actually returned. Composes the two existing contracts
    // (brute ground truth, label-IVF candidate) and reduces to a
    // (query, vec) equi-join of two 10-row-per-query sets — the
    // ground-truth side is the expensive half and is exactly the
    // ann_topk_native plan; the report adds only a top-k-sized join.
    // Integer hits and a permille rate keep the oracle exact.
    "ann_recall_report" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val ivf =
        perQuery(probedCosines(e, queryFrame(e, col("label")), "label"))
      recallReport(bruteTop10(e, queryFrame(e)).select("query_id", "vec_id"),
        ivf.select("query_id", "vec_id"))
    },

    // The flagship 100 TB ANN composition END-TO-END under the hard
    // oracle signal: k-means|| training (deterministic, quantized-long
    // sums) → corpus cell assignment (CentroidBest kernel) → multi-probe
    // cell selection on the query side (CentroidTopN kernel, exploded to
    // Q×nprobe probe rows) → pruned scoring join → native bounded-heap
    // top-k plan node. Each corpus vector lives in exactly ONE cell, so
    // multi-probing cannot duplicate a (query, vector) pair. The trained
    // centroid matrix is exported as exact doubles; the oracle re-derives
    // the argmax assignment, the probed cells, and the top-k from those
    // values with the kernels' own arithmetic (left-to-right double dot,
    // / sqrt-sum-of-squares norm), so the hash match proves the whole
    // train→assign→probe→select path, not a label-bucket stand-in.
    "ann_topk_ivf_trained" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir)
      ivfTop10(assigned(e, cents), probes(e, cents, IvfNprobe))
        .orderBy("query_id", "rank")
    },

    // Recall of the TRAINED IVF path — the flagship diagnostic: how
    // much of the exact top-10 survives the trained quantizer's
    // nprobe-cell restriction. Same train→assign→probe→score→top-k
    // stages as ann_topk_ivf_trained (bit-deterministic training, the
    // exported-centroid oracle re-derives everything), with the brute
    // ground truth joined on (query, vec). At 100 TB this is the
    // report that decides whether nprobe=2 at k=8 cells is enough
    // BEFORE committing the cell-partitioned layout — run on a
    // sampled query set, it prices recall against the ~nprobe/k scan
    // fraction the at-rest layout buys.
    "ann_recall_trained" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir)
      val ivf = ivfTop10(assigned(e, cents), probes(e, cents, IvfNprobe))
      recallReport(bruteTop10(e, queryFrame(e)).select("query_id", "vec_id"),
        ivf.select("query_id", "vec_id"))
    },

    // The SAMPLED-TRAINING path under the hard oracle — the actual
    // 100 TB mode of the flagship composition: trainCentroids draws a
    // deterministic md5-bucketed HALF of the corpus as the training
    // pool (at 100 TB the fraction is ~10⁻⁴ — a coarse quantizer
    // doesn't need every row), then assigns/probes/scores EVERYTHING
    // exactly as ann_topk_ivf_trained does. The draw is content-keyed
    // and RNG-free, so the half-pool quantizer is just as
    // bit-deterministic as the full one: its exported centroid matrix
    // feeds the same oracle shape, and SimilaritySpec asserts the
    // pool really is a strict non-empty subset at this scale.
    "ann_topk_ivf_sampled" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir,
        sampleFraction = IvfSampleFraction)
      ivfTop10(assigned(e, cents), probes(e, cents, IvfNprobe))
        .orderBy("query_id", "rank")
    },

    // IVF AT REST — the 100 TB layout behind ann_topk_ivf_trained: the
    // assigned corpus is WRITTEN cell-partitioned (CorpusWriter: one
    // directory per IVF cell, vec_id-sorted files) and the probe reads
    // the at-rest table back joined on the probed cells. Spark's
    // dynamic partition pruning turns the broadcast probe side into a
    // runtime partition filter on the scan — each query batch physically
    // reads ~nprobe/k of the corpus directories, which is the entire
    // point of IVF on a data lake (PlanPinsSpec pins the
    // dynamicpruning expression in the scan's PartitionFilters). Same
    // centroids, same arithmetic, same oracle as ann_topk_ivf_trained:
    // a hash match proves the write→prune→read path loses nothing.
    "ann_topk_ivf_pruned" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir)
      val path = ivfLayoutPath(dir)
      CorpusWriter.writePartitioned(
        assigned(e, cents).select("vec_id", "embedding", "cell"), path,
        partitionCol = "cell", sortCols = Seq("vec_id"))
      ivfTop10(s.read.parquet(path), probes(e, cents, IvfNprobe))
        .orderBy("query_id", "rank")
    },

    // The WHOLE production ANN path in one oracle-checked query:
    // train the coarse quantizer → assign cells → int8-QUANTIZE the
    // vectors → write the corpus cell-partitioned (CorpusWriter) →
    // probe reads the at-rest table under dynamic partition pruning →
    // score queries against the DEQUANTIZED bytes → native top-k.
    // This is what a 100 TB deployment actually stores and scans: the
    // float corpus never persists, only bytes + bounds + cell id
    // (~4× smaller), and each query batch reads ~nprobe/k directories
    // of that smaller table. Every arithmetic step (floor-bucketed
    // quantize, dequant, left-assoc double dot) is deterministic, so
    // the DuckDB oracle reproduces the EXACT result — approximate
    // scoring, exactly verified. Recall vs the float ranking is the
    // SimilaritySpec pin; this query pins the composition.
    "ann_topk_quantized" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir)
      val quantized = assigned(e, cents)
        .withColumn("_q", Similarity.quantizeInt8(col("embedding")))
        .select(col("vec_id"), col("cell"), col("_q.mn").as("mn"),
          col("_q.mx").as("mx"), col("_q.q").as("q"))
      val path = int8LayoutPath(dir)
      CorpusWriter.writePartitioned(quantized, path,
        partitionCol = "cell", sortCols = Seq("vec_id"))
      // codegen'd double dot (DoubleVecDot): identical fold order to
      // the aggregate(zip_with) chain, so oracle-neutral — but the
      // scoring loop is the hot path (Q·corpus/k·nprobe pairs at
      // scale) and must stay inside WholeStageCodegen
      val atRest = s.read.parquet(path)
        .withColumn("dq", Similarity.dequantizeInt8(
          struct(col("mn"), col("mx"), col("q"))))
      val probed = e.filter(col("vec_id") < 5)
        .withColumn("cell", explode(Similarity.probeCells(
          col("embedding"), cents, IvfNprobe)))
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qvd"), col("cell"))
      val scored = atRest.join(broadcast(probed), "cell")
        .withColumn("cosine", DoubleVecDot(col("dq"), col("qvd")) /
          (sqrt(DoubleVecDot(col("dq"), col("dq"))) *
            sqrt(DoubleVecDot(col("qvd"), col("qvd")))))
        .select("query_id", "vec_id", "cosine")
      perQuery(scored).orderBy("query_id", "rank")
    },

    // PRODUCT quantization top-k (Jégou et al., TPAMI'11): M=4
    // spherical-k-means codebooks, one per 16-dim subspace slice
    // (train-once/serve-many via the pq memo), each vector encoded to
    // M small codes (12 bits here; M=8/K=256 = 64 bits in production
    // — a 256× at-rest shrink vs float32 that IVF's int8 path can't
    // reach). Scoring reconstructs from the codes (element_at over
    // codebook literals — codebooks are M·K·(d/M) floats, always
    // broadcast-sized) and runs the exact cosine kernel against the
    // reconstruction; a production server replaces this with
    // per-query LUTs of the same M partials, but the PLAN is
    // identical either way: one narrow encode pass, a broadcast query
    // join, native bounded-heap top-k — nothing pairwise, nothing
    // vocab-sized shuffled. The oracle re-derives assignment
    // (same argmax + smaller-code tie-break as the IVF oracles),
    // reconstruction (list concat of the exported codebook rows) and
    // scoring (64-term left-assoc chains) from the exported-double
    // codebooks — hash-matching scores, not just ranks.
    "ann_topk_pq" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      perQuery(pqBrute(e, pqCodebooks(s, dir))).orderBy("query_id", "rank")
    },

    // PQ recall@10 vs the exact float top-10 — the diagnostic that
    // prices the 256×-at-rest compression: how much of the true
    // neighborhood the 12-bit codes preserve. Brute side is the
    // ann_topk_brute contract (the point: an exact baseline); the PQ
    // side re-runs the code path above; the report join is
    // top-k-sized. Integer hits + permille keep the oracle exact.
    "ann_recall_pq" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val pq = perQuery(pqBrute(e, pqCodebooks(s, dir)))
      recallReport(bruteTop10(e, queryFrame(e)).select("query_id", "vec_id"),
        pq.select("query_id", "vec_id"))
    },

    // PQ + RE-RANK — how product quantization is actually deployed
    // (the ann_recall_pq numbers are the motivation: 12-bit codes
    // alone hold ~10-40% recall@10): the code-domain scan produces a
    // SHORTLIST (top-100 by reconstruction cosine — the cheap pass
    // that at 100 TB runs over in-memory codes, 256× smaller than the
    // floats), then ONLY the shortlist's original vectors are fetched
    // and exactly re-scored for the final top-10. The expensive exact
    // kernel touches R=100 rows per query instead of the corpus; R is
    // the recall/IO knob. Join shape: the per-query shortlist is
    // top-R-sized, so the fetch is a broadcast equi-join on vec_id —
    // never a second corpus scan.
    "ann_topk_pq_rerank" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val shortlist = perQuery(pqBrute(e, pqCodebooks(s, dir)), k = 100)
        .select("query_id", "vec_id")
      val exact = rescored(
        e.withColumn("_vn", Similarity.norm(col("embedding"))), shortlist,
        queryFrame(e).withColumn("_qn2", Similarity.norm(col("qvec"))),
        Similarity.dot(col("embedding"), col("qvec"))
          / (col("_vn") * col("_qn2")))
      perQuery(exact).orderBy("query_id", "rank")
    },

    // The STORAGE tier of the embedding pipeline: per-vector int8
    // scalar quantization (float32 corpus → ~4× smaller at rest; see
    // Similarity.quantizeInt8). floor-based bucketing in double makes
    // the quantized bytes bit-reproducible cross-engine, so the oracle
    // hash-matches the bytes themselves (md5 over the joined byte
    // string — array columns don't stringify identically across
    // engines, a digest does). Recall of the dequantized scorer vs the
    // exact float top-k is pinned in SimilaritySpec.
    "embedding_quantize" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      e.withColumn("_q", Similarity.quantizeInt8(col("embedding")))
        .select(col("vec_id"),
          col("_q.mn").cast("double").as("mn"),
          col("_q.mx").cast("double").as("mx"),
          md5(concat_ws(",",
            transform(col("_q.q"), v => v.cast("string")))).as("q_md5"))
        .orderBy("vec_id")
    },

    // Embedding-cosine near-dup pairs, label-bucketed, over the corpus
    // plus an id-shifted copy (planted exact duplicates ⇒ cosine 1).
    "embedding_dups" -> { (s, dir) =>
      val all = withCopy(Tables.embeddings(s, dir), "vec_id", "embedding",
        "label")
      Similarity.cosineDupPairs(all, col("vec_id"), col("embedding"),
          "label", threshold = 0.99)
        .orderBy("id_a", "id_b")
    },

    // IVF-PQ — the composition production ANN indexes actually ship
    // (FAISS's IndexIVFPQ shape): the trained COARSE quantizer
    // restricts the search to nprobe cells (at rest: the DPP-pruned
    // directory layout of ann_topk_ivf_pruned), and within those
    // cells scoring runs in the CODE domain (PQ reconstruction
    // cosine) instead of touching the float vectors — IO ∝ nprobe/k
    // of the corpus AND bytes/row ∝ M codes. Both quantizers are the
    // memoized train-once artifacts; the oracle composes the two
    // proven CTE families (centroid assign/probe + codebook
    // assign/reconstruct) end to end, so the hash match covers the
    // full train→assign→encode→probe→ADC→top-k chain.
    "ann_topk_ivfpq" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir)
      val books = pqCodebooks(s, dir)
      val coded = e.select(Seq(col("vec_id"),
        Similarity.assignCells(col("embedding"), cents).as("cell")) ++
        Similarity.pqCodes(col("embedding"), books): _*)
      perQuery(pqScores(coded, books, pqProbes(e, cents))(_.join(_, "cell")))
        .orderBy("query_id", "rank")
    },

    // IVF-PQ AT REST — what a 100 TB PQ deployment physically stores
    // and scans: the corpus persists as M=4 int codes + the coarse
    // cell id ONLY (neither floats nor reconstructions touch disk —
    // bytes/row ∝ M, the whole point of PQ), laid out one directory
    // per coarse cell by CorpusWriter. The probe reads the at-rest
    // code table under dynamic partition pruning (~nprobe/k of the
    // directories), reconstructs in-flight from the broadcast
    // codebook literals, and scores in the code domain — so a query
    // batch's IO is (nprobe/k) × (M codes/row) of the corpus. Same
    // memoized quantizers and SAME oracle as the in-memory
    // ann_topk_ivfpq: a hash match proves the write→prune→read→
    // reconstruct round trip lossless, exactly like
    // ann_topk_ivf_pruned vs ann_topk_ivf_trained.
    "ann_topk_ivfpq_pruned" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir)
      val books = pqCodebooks(s, dir)
      val coded = e.select(Seq(col("vec_id"),
        Similarity.assignCells(col("embedding"), cents).as("cell")) ++
        Similarity.pqCodes(col("embedding"), books): _*)
      val path = ivfPqLayoutPath(dir)
      CorpusWriter.writePartitioned(coded, path,
        partitionCol = "cell", sortCols = Seq("vec_id"))
      perQuery(pqScores(s.read.parquet(path), books, pqProbes(e, cents))(
          _.join(_, "cell"))).orderBy("query_id", "rank")
    },

    // APPEND-ONLY serving with a FROZEN quantizer — the daily-ingest
    // shape of a 100 TB ANN deployment: new vectors arrive (corpus +
    // an id-shifted, orthogonally-reusable copy stands in for the
    // append batch), get assigned by the centroids trained on the
    // ORIGINAL corpus (memoized — no retrain on ingest, which is the
    // entire operational point of a versioned quantizer artifact),
    // and the same multi-probe top-k runs over old + new together.
    // Every stage is the proven trained-IVF shape; only the corpus
    // CTE changes — and the oracle proves the frozen-centroid
    // assignment of never-trained-on vectors, not just the training
    // fixed point.
    "ann_topk_ivf_append" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir)
      ivfTop10(assigned(withCopy(e, "vec_id", "embedding"), cents),
          probes(e, cents, IvfNprobe))
        .orderBy("query_id", "rank")
    },

    // PQ-code BLOCKING for embedding dedup — near-dup candidates are
    // the vectors sharing ALL M codes (the quantizer's finest grain:
    // identical 12-bit encodings ⇒ reconstructions coincide ⇒ likely
    // neighbors), verified by exact cosine ≥ 0.99. Versus
    // embedding_dups' label buckets + projection grid, the blocking
    // key here comes from the TRAINED quantizer itself — the
    // production pattern when a PQ index already exists (candidates
    // are index-colocated rows; zero extra infrastructure). Shape:
    // encode (narrow map) → self-join on the M-code tuple (bucket
    // join, cost ∝ collisions) → compiled exact verify. Recall is
    // blocking-bounded (a pair can straddle a code boundary —
    // documented, same trade as any LSH family); planted exact copies
    // encode identically by determinism, so they can never be missed.
    "embedding_code_dups" -> { (s, dir) =>
      val all = withCopy(Tables.embeddings(s, dir), "vec_id", "embedding")
      val books = pqCodebooks(s, dir)
      val coded = all.select(col("vec_id") +: col("embedding") +:
          Similarity.pqCodes(col("embedding"), books): _*)
        .withColumn("_vn", Similarity.norm(col("embedding")))
      val keys = (0 until PqM).map(m => s"code$m")
      val left = coded.select(Seq(col("vec_id").as("id_a"),
        col("embedding").as("va"), col("_vn").as("_na")) ++
        keys.map(col): _*)
      val right = coded.select(Seq(col("vec_id").as("id_b"),
        col("embedding").as("vb"), col("_vn").as("_nb")) ++
        keys.map(col): _*)
      left.join(right, keys)
        .filter(col("id_a") < col("id_b"))
        .withColumn("cosine", Similarity.dot(col("va"), col("vb"))
          / (col("_na") * col("_nb")))
        .filter(col("cosine") >= 0.99)
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    },

    // Cross-tier composition: the embedding-space near-dup COLLAPSE —
    // cosine pairs (Similarity tier) → transitive closure (Dedup
    // tier's connectedComponents, star-contraction fallback and all) →
    // keep min-id canonicals + unpaired vectors (Dedup.survivors, the
    // text pipeline's dedup_survivors step). Pins that the two tiers
    // compose on a shared pair contract.
    "embedding_survivors" -> { (s, dir) =>
      val all = withCopy(Tables.embeddings(s, dir), "vec_id", "embedding",
        "label")
      graft.operators.Dedup.survivors(all.select("vec_id"),
          Similarity.cosineDupPairs(all, col("vec_id"), col("embedding"),
            "label", threshold = 0.99))
        .orderBy("vec_id")
    },

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    // dedup with the TRAINED coarse quantizer's cells as the blocking
    // key: k-means cells restrict the pairwise cosine check to
    // cluster-mates, exactly the paper's recipe (cluster, then dedup
    // within clusters). Differs from embedding_dups (label buckets +
    // projection grid) and embedding_code_dups (PQ code tuples) in
    // that the blocking comes from the SAME memoized quantizer the
    // ANN tier serves with — one trained artifact powers search AND
    // dedup. Output is the paper's acceptance report: per cell, how
    // many vectors, how many near-dup pairs, how many members a
    // min-id keeper policy drops, and the keep rate. Scale shape:
    // assignment is a narrow kernel map; the within-cell self-join is
    // the SemDeDup cost model — Σ|cell|² work, bounded by choosing k
    // ∝ corpus size so cells stay ~constant (the paper trains 50k
    // cells for LAION; here k=8 at CORRECTNESS scale), and the
    // closure/rollup stages are ∝ duplicates. Pairs cannot span
    // cells, so components are cell-local by construction and the
    // per-cell drop rollup needs no canonical-cell lookup. Measured
    // sf0.1→sf1 at the FIXED toy k: 3.1× at 10× docs — the N²/k
    // candidate growth the k-∝-corpus rule exists to flatten
    // (SCALE.md round 13); the knob, not the shape, is what changes
    // in production.
    "semantic_dedup" -> { (s, dir) =>
      val cents = trainedCentroids(s, dir)
      val cells = assigned(
          withCopy(Tables.embeddings(s, dir), "vec_id", "embedding"), cents)
        .withColumn("_vn", Similarity.norm(col("embedding")))
      val left = cells.select(col("cell"), col("vec_id").as("id_a"),
        col("embedding").as("va"), col("_vn").as("_na"))
      val right = cells.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("vb"), col("_vn").as("_nb"))
      val pairs = left.join(right, Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(Similarity.dot(col("va"), col("vb"))
          / (col("_na") * col("_nb")) >= 0.99)
        .select("cell", "id_a", "id_b")
      val comp = graft.operators.Dedup.connectedComponents(
        pairs.select("id_a", "id_b"), col("id_a"), col("id_b"))
      val dropped = comp.filter(col("id") =!= col("canonical"))
        .select(col("id").as("vec_id"))
      val perCell = cells.groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"))
      val pairCell = pairs.groupBy("cell")
        .agg(count(lit(1)).as("n_pairs"))
      val dropCell = cells.join(dropped, Seq("vec_id"))
        .groupBy("cell").agg(count(lit(1)).as("n_dropped"))
      perCell
        .join(pairCell, Seq("cell"), "left")
        .join(dropCell, Seq("cell"), "left")
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
        .withColumn("keep_permille",
          expr("(n_vecs - n_dropped) * 1000 div n_vecs"))
        .orderBy("cell")
    },

    // IVF index-health report — the retrain/re-balance trigger a
    // 100 TB ANN deployment watches: per-cell population of the
    // trained (memoized) quantizer, each cell's share of the corpus,
    // its load relative to a perfectly balanced k-way split (1000 =
    // ideal; a 3000-permille cell serves 3× its share of probes and
    // is the tail-latency driver under the DPP layout, where cell =
    // partition directory), and a hotness rank for the on-call. One
    // kernel-map scan + one k-row aggregate; the rank window runs
    // over the k aggregated rows, never corpus rows, so the
    // single-partition window is k-bounded by construction.
    "ivf_balance_report" -> { (s, dir) =>
      val perCell = assigned(Tables.embeddings(s, dir),
          trainedCentroids(s, dir))
        .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      val tot = perCell.agg(sum("n_vecs").as("_total"))
      perCell.crossJoin(broadcast(tot))
        .withColumn("share_permille", expr("n_vecs * 1000 div _total"))
        .withColumn("load_permille",
          expr(s"n_vecs * $IvfK * 1000 div _total"))
        .withColumn("hot_rank", row_number().over(
          Window.orderBy(col("n_vecs").desc, col("cell"))))
        .select("cell", "n_vecs", "share_permille", "load_permille",
          "hot_rank")
        .orderBy("cell")
    },

    // nprobe SWEEP — the tuning CURVE behind ann_recall_trained's
    // single point: recall@10 at nprobe ∈ 1..4 in one query, the
    // table an operator actually reads to pick the probe count
    // (recall rises with nprobe, scan cost rises ∝ nprobe/k — the
    // sweep shows where the curve flattens and extra probes stop
    // paying). One probed-scoring pass carries the probe RANK; the
    // 4-way sweep is a broadcast nprobe frame joined on
    // probe_rank ≤ nprobe, and each (nprobe, query) ranks through
    // the native bounded-heap node on a composite group key. At
    // 100 TB this runs on a sampled query set like the other recall
    // reports.
    "ivf_probe_sweep" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir)
      val probed = queryFrame(e)
        .select(col("query_id"), col("qvec"),
          posexplode(Similarity.probeCells(col("qvec"), cents, 4)))
        .select(col("query_id"), col("qvec"),
          (col("pos") + 1).as("probe_rank"), col("col").as("cell"))
      val np = s.range(1, 5).toDF("nprobe")
      val scored = Similarity.probedScores(assigned(e, cents),
          col("embedding"), probed, col("qvec"), "cell")
        .select("query_id", "vec_id", "cosine", "probe_rank")
      val swept = scored.join(broadcast(np),
          col("probe_rank") <= col("nprobe"))
        .withColumn("grp", col("nprobe") * 1000 + col("query_id"))
      val ivf = TopK.perGroup(swept, "grp", "vec_id", "cosine", k = 10)
        .select(expr("grp div 1000").as("nprobe"),
          pmod(col("grp"), lit(1000)).as("query_id"), col("vec_id"))
      recallReport(bruteTop10(e, queryFrame(e)).select("query_id", "vec_id")
          .crossJoin(broadcast(np)), ivf, by = "nprobe", outOf = 50)
    },

    // Cell PURITY against ground-truth labels — the standard
    // external-validity check for a trained clustering (here: the
    // coarse quantizer vs the embeddings' label column): per cell,
    // the majority label's share in permille, plus the majority
    // label itself. High purity means the learned cells recover the
    // label structure (the quantizer is semantically meaningful, not
    // just geometrically balanced — ivf_balance_report's
    // complementary axis). One kernel-map scan → cell×label counts →
    // per-cell argmax via a cells-bounded rank window.
    "ivf_purity" -> { (s, dir) =>
      val cl = assigned(Tables.embeddings(s, dir), trainedCentroids(s, dir))
        .groupBy("cell", "label").agg(count(lit(1)).as("n"))
      val tot = cl.groupBy("cell").agg(sum("n").as("n_vecs"))
      cl.withColumn("rn", row_number().over(
          Window.partitionBy("cell")
            .orderBy(col("n").desc, col("label"))))
        .filter(col("rn") === 1)
        .join(broadcast(tot), "cell")
        .select(col("cell"), col("label").as("majority_label"),
          col("n_vecs"),
          expr("n * 1000 div n_vecs").as("purity_permille"))
        .orderBy("cell")
    },

    // kNN SELF-JOIN (k=1) — semantic pair MINING: for every corpus
    // vector, its single nearest neighbor (excluding itself) within
    // its coarse cell — how a pipeline mines paraphrase/duplicate
    // pair candidates corpus-wide, the join-shaped sibling of the
    // query-driven top-k. Blocking by the trained cells makes it the
    // SemDeDup cost model again (Σ|cell|² scored pairs, k ∝ corpus
    // bounds it); the per-vector top-1 runs through the SAME native
    // bounded-heap plan node as the query path, so the shuffle
    // carries ≤ partitions×vectors×1 candidate rows, never the
    // scored pair set. Cell-boundary misses are the priced LSH-family
    // trade (a vector's true NN can quantize across the line; nprobe
    // on the query path is the mitigation — pair mining accepts it
    // for one-pass cost).
    "knn_join" -> { (s, dir) =>
      val cells = assigned(Tables.embeddings(s, dir), trainedCentroids(s, dir))
        .withColumn("_vn", Similarity.norm(col("embedding")))
      val left = cells.select(col("cell"), col("vec_id"),
        col("embedding").as("va"), col("_vn").as("_na"))
      val right = cells.select(col("cell"), col("vec_id").as("nn_id"),
        col("embedding").as("vb"), col("_vn").as("_nb"))
      val scored = left.join(right, Seq("cell"))
        .filter(col("vec_id") =!= col("nn_id"))
        .withColumn("cosine", Similarity.dot(col("va"), col("vb"))
          / (col("_na") * col("_nb")))
        .select("vec_id", "nn_id", "cosine")
      TopK.perGroup(scored, "vec_id", "nn_id", "cosine", k = 1)
        .select("vec_id", "nn_id", "cosine")
        .orderBy("vec_id")
    },

    // Quantizer DRIFT report — the acceptance check for the sampled
    // 100 TB training mode: for each centroid of the full-pool
    // quantizer, its nearest sampled-pool centroid (same
    // dot/centroid-norm argmax + smallest-cell tie-break the
    // assignment kernel uses) and the true cosine between them. Read
    // it before swapping a cheaply-retrained quantizer into the
    // serving path: cosines near 1 with a bijective nearest-cell
    // mapping mean the sampled artifact quantizes the space the same
    // way and the cell-partitioned layout can be reused; a cell whose
    // best match is far (or doubly-claimed) is where recall will
    // leak. Both matrices come from the process-wide memo
    // (train-once artifacts); the comparison itself is k×k driver-
    // sized work expressed as a broadcast join so the SAME query
    // shape serves k in the thousands. The oracle re-derives the
    // argmax and the cosine from the two exported exact-double
    // matrices.
    "quantizer_drift" -> { (s, dir) =>
      import s.implicits._
      val full = trainedCentroids(s, dir)
      val samp = trainedCentroids(s, dir,
        sampleFraction = IvfSampleFraction)
      val fullDf = full.toSeq.zipWithIndex
        .map { case (c, i) => (i, c) }.toDF("cell", "fvec")
      val sampDf = samp.toSeq.zipWithIndex
        .map { case (c, i) => (i, c) }.toDF("nearest_cell", "svec")
      fullDf
        .withColumn("nearest_cell",
          Similarity.assignCells(col("fvec"), samp))
        .join(broadcast(sampDf), "nearest_cell")
        .withColumn("cosine", Similarity.cosine(col("fvec"), col("svec")))
        .select("cell", "nearest_cell", "cosine")
        .orderBy("cell")
    },

    // RADIUS (range) search through the trained-IVF path — "every
    // vector within cosine ≥ τ of the query", the other half of the
    // serving API next to top-k: near-dup lookup, recommendation
    // pools and dedup-on-write all want ALL matches above a bar, not
    // a fixed k (a k-cut silently truncates dense neighborhoods; a
    // radius returns 0 or 400 as the data dictates). Identical
    // probe/score plan to ann_topk_ivf_trained with the bounded-heap
    // node replaced by a predicate — so the result-size risk moves
    // from the plan to τ, which is the operational knob (the
    // ann_recall family prices it). τ = 0.2 here: non-degenerate
    // (dozens of matches across the 5 queries) without being
    // all-pairs at CORRECTNESS scale.
    "ann_range_search" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir)
      Similarity.probedScores(assigned(e, cents), col("embedding"),
          probes(e, cents, IvfNprobe), col("qvec"), "cell")
        .filter(col("cosine") >= 0.2)
        .select("query_id", "vec_id", "cosine")
        .orderBy("query_id", "vec_id")
    },

    // FILTERED vector search — the "vector search with a WHERE
    // clause" every production deployment needs (tenant, language,
    // license, date-range restrictions): a metadata predicate (label
    // parity stands in) composes with the trained-IVF probe path by
    // plain predicate pushdown — the filter lands IN the corpus scan
    // next to the cell restriction, so a query batch reads ~nprobe/k
    // of the corpus AND only the rows passing the filter, with top-k
    // guaranteed filter-consistent (post-filtering a k-deep
    // unfiltered result can return < k rows; filtering BEFORE the
    // bounded heap cannot). Same memoized quantizer; queries stay
    // unfiltered — restricting the corpus, not the askers.
    "ann_topk_filtered" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir)
      ivfTop10(assigned(e.filter(col("label") % 2 === 0), cents),
          probes(e, cents, IvfNprobe))
        .orderBy("query_id", "rank")
    },

    // MATRYOSHKA two-stage retrieval (Kusupati et al., NeurIPS'22):
    // coarse-score on the FIRST 16 dims only — an MRL-trained
    // embedding front-loads information, so the prefix is itself a
    // usable (4× cheaper, 4× smaller) embedding — shortlist 50 per
    // query through the native bounded-heap top-k, then exact
    // full-dim re-rank of the 50. The coarse pass reads a quarter of
    // the vector bytes and does a quarter of the multiplies; the
    // exact pass touches shortlist-sized frames only (broadcast
    // joins). On NON-MRL embeddings (these fixtures) the prefix is
    // just a random 16-dim projection — recall loss vs brute is the
    // priced trade, same contract as every approximate tier here;
    // the output itself is exact arithmetic, hash-pinned.
    "matryoshka_topk" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val q = queryFrame(e)
      val coarse = e
        .select(col("vec_id"), slice(col("embedding"), 1, 16).as("v16"))
        .crossJoin(broadcast(q.select(col("query_id"),
          slice(col("qvec"), 1, 16).as("q16"))))
        .withColumn("c16", Similarity.cosine(col("v16"), col("q16")))
        .select("query_id", "vec_id", "c16")
      val shortlist = perQuery(coarse, k = 50)
        .select("query_id", "vec_id")
      perQuery(rescored(e, shortlist, q,
          Similarity.cosine(col("embedding"), col("qvec"))))
        .orderBy("query_id", "rank")
    },

    // BINARY sign-hash ANN — the cheapest sketch in the ladder: one
    // bit per dimension (sign), 64 dims packed into two BIGINT words
    // at the scan, so the candidate pass streams 16 BYTES per vector
    // (16× less than float32) and scores with two xor+popcount ops —
    // SIMD-codegen'd, no multiplies. Hamming ≤ 24 (chance distance
    // concentrates at 32 ± 4, so 24 ≈ 2σ) shortlists ~1.5‰ of the
    // corpus; exact cosine re-ranks the shortlist through
    // broadcast-sized joins. The two-word split (dims 1-32 / 33-64)
    // keeps every packed value positive — a single 64-bit word would
    // overflow the sign bit differently per engine. Sign bits are a
    // 1-bit LSH for angular distance (Charikar'02), the same family
    // as the SimHash text tier.
    "ann_topk_binary" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val coded = e.select(col("vec_id"),
        signCode(col("embedding"), 0).as("lo"),
        signCode(col("embedding"), 32).as("hi"))
      val qc = coded.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("lo").as("qlo"),
          col("hi").as("qhi"))
      val cand = coded.crossJoin(broadcast(qc))
        .filter(bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi"))) <= 24)
        .select("query_id", "vec_id")
      perQuery(rescored(e, cand, queryFrame(e),
          Similarity.cosine(col("embedding"), col("qvec"))))
        .orderBy("query_id", "rank")
    },

    // NDCG@10 of the trained-IVF serving path vs the exact top-10 —
    // the rank-POSITION-aware eval next to the recall reports (recall
    // counts hits; NDCG also prices WHERE a miss happened — losing
    // the true #1 costs 6× losing the true #10). Relevance grades
    // the exact list 10..1; discounts are pre-floored integer
    // micro-weights (see ndcgWeights), so per-query DCG is an exact
    // integer sum and NDCG an exact integer permille — no float
    // accumulates anywhere. Same memoized quantizer; marginal cost
    // over ann_recall_trained is a CASE and a multiply.
    "ann_ndcg_report" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cents = trainedCentroids(s, dir)
      val ivf = ivfTop10(assigned(e, cents), probes(e, cents, IvfNprobe))
        .select("query_id", "vec_id", "rank")
      val brute = bruteTop10(e, queryFrame(e))
        .select(col("query_id"), col("vec_id"),
          col("rank").as("brute_rank"))
      ivf.join(brute, Seq("query_id", "vec_id"), "left")
        .withColumn("rel", coalesce(lit(11) - col("brute_rank"), lit(0)))
        .withColumn("w", expr(ndcgCaseW))
        .groupBy("query_id")
        .agg(sum(expr("CAST(rel AS BIGINT) * w")).as("dcg_micro"))
        .withColumn("ndcg_pm",
          expr(s"dcg_micro * 1000 div CAST($ndcgIdcg AS BIGINT)"))
        .select("query_id", "dcg_micro", "ndcg_pm")
        .orderBy("query_id")
    })

  /** NDCG@10 discount weights floor(1e6/log2(i+1)) and the ideal DCG,
    * computed ONCE here and embedded as LITERALS in both engines'
    * texts — the ln-determinism rule satisfied by construction (the
    * single math.log call can be 1-ulp platform-dependent, but both
    * engines consume the same already-floored integers). Relevance is
    * graded 10..1 down the exact top-10, so IDCG = Σ(10−i)·w. */
  private val ndcgWeights: Seq[Long] =
    (1 to 10).map(i =>
      math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  private val ndcgIdcg: Long =
    ndcgWeights.zipWithIndex.map { case (w, i) => (10L - i) * w }.sum

  /** Shared CASE mapping a candidate's rank to its discount weight. */
  private val ndcgCaseW: String =
    "CASE rank " +
      (1 to 10).map(i => s"WHEN $i THEN ${ndcgWeights(i - 1)}")
        .mkString(" ") + " ELSE 0 END"

  /** Packs the sign bits of dims (offset+1 .. offset+32) into one
    * positive BIGINT (bit i-1 set ⟺ dim offset+i strictly positive) —
    * a 32-term codegen'd conditional sum, mirrored term-for-term by
    * [[signCodeSql]]. */
  private def signCode(vec: Column, offset: Int): Column =
    (1 to 32).map(i =>
      when(element_at(vec, offset + i) > lit(0f), lit(1L << (i - 1)))
        .otherwise(lit(0L))).reduce(_ + _)

  /** DuckDB mirror of [[signCode]]. */
  private def signCodeSql(a: String, offset: Int): String =
    (1 to 32).map(i =>
      s"(CASE WHEN $a[${offset + i}] > 0 THEN CAST(${1L << (i - 1)} " +
        "AS BIGINT) ELSE CAST(0 AS BIGINT) END)").mkString(" + ")

  /** Prefix-k variants of the dot/cosine SQL chains (matryoshka's
    * coarse stage scores on the first k dims only). */
  private def dotSqlK(a: String, b: String, k: Int): String =
    (1 to k).map(i =>
      s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")

  private def cosSqlK(a: String, b: String, k: Int): String =
    s"(${dotSqlK(a, b, k)}) / " +
      s"(sqrt(${dotSqlK(a, a, k)}) * sqrt(${dotSqlK(b, b, k)}))"

  /** Shared by ann_topk_brute (window-ranked) and ann_topk_native (the
    * bounded top-k node): one contract, two plans, and both must
    * hash-match this ONE oracle. */
  private val bruteTopKSql =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec
      |  FROM embeddings WHERE vec_id < 5
      |), p AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${cosSql("e.embedding", "q.qvec")} AS cosine
      |  FROM embeddings e, q
      |), r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER
      |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT)
      |    AS rank
      |  FROM p
      |)
      |SELECT query_id, vec_id, rank, cosine FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** The kernels' centroid score, verbatim: left-to-right double dot
    * divided by the centroid's sqrt-sum-of-squares norm (`c` ranges
    * over the exported exact-double centroid rows). */
  private def centScoreSql(v: String): String =
    s"(${dotSql(v, "c.cvec")}) / sqrt(${dotSql("c.cvec", "c.cvec")})"

  /** Left-assoc dot over already-DOUBLE list columns (no casts). */
  private def dotSqlD(a: String, b: String): String =
    (1 to Dim).map(i => s"$a[$i] * $b[$i]").mkString(" + ")

  /** Shared by ann_topk_ivf_trained (in-memory assignment) and
    * ann_topk_ivf_pruned (cell-partitioned at-rest layout + DPP probe
    * reads): identical centroids (training is bit-deterministic),
    * identical arithmetic, so both must hash-match this ONE oracle —
    * which is exactly what proves the at-rest round trip lossless.
    * Parameterized on the centroid export path so the SAME SQL also
    * oracles the sampled-training quantizer (different centroids,
    * identical assign/probe/select arithmetic). */
  private def trainedIvfSqlFor(centPath: String) =
      s"""WITH cents AS (
        |  SELECT cell, cvec FROM read_parquet(
        |    '$centPath/*.parquet')
        |), assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell)
        |        AS rn
        |    FROM embeddings e CROSS JOIN cents c)
        |  WHERE rn = 1
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec
        |  FROM embeddings WHERE vec_id < 5
        |), probe AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY ${centScoreSql("q.qvec")} DESC, c.cell) AS rn
        |    FROM q CROSS JOIN cents c)
        |  WHERE rn <= $IvfNprobe
        |), p AS (
        |  SELECT q.query_id, e.vec_id,
        |    ${cosSql("e.embedding", "q.qvec")} AS cosine
        |  FROM embeddings e
        |  JOIN assign a ON a.vec_id = e.vec_id
        |  JOIN probe pr ON pr.cell = a.cell
        |  JOIN q ON q.query_id = pr.query_id
        |), r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER
        |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT)
        |    AS rank
        |  FROM p
        |)
        |SELECT query_id, vec_id, rank, cosine FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** ann_topk_ivf's pre-assigned-label stand-in probe. */
  private val labelIvfSql =
      s"""WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec, label
        |  FROM embeddings WHERE vec_id < 5
        |), p AS (
        |  SELECT q.query_id, e.vec_id,
        |    ${cosSql("e.embedding", "q.qvec")} AS cosine
        |  FROM embeddings e JOIN q ON e.label = q.label
        |), r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER
        |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT)
        |    AS rank
        |  FROM p
        |)
        |SELECT query_id, vec_id, rank, cosine FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private val recallReportSql =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec, label
      |  FROM embeddings WHERE vec_id < 5
      |), pb AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${cosSql("e.embedding", "q.qvec")} AS cosine
      |  FROM embeddings e, q
      |), rb AS (
      |  SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM pb
      |), b AS (
      |  SELECT query_id, vec_id FROM rb WHERE rank <= 10
      |), pi AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${cosSql("e.embedding", "q.qvec")} AS cosine
      |  FROM embeddings e JOIN q ON e.label = q.label
      |), ri AS (
      |  SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM pi
      |), i AS (
      |  SELECT query_id, vec_id FROM ri WHERE rank <= 10
      |)
      |SELECT b.query_id,
      |  CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits,
      |  CAST(COUNT(i.vec_id) * 1000 // 10 AS BIGINT) AS recall_permille
      |FROM b LEFT JOIN i
      |  ON b.query_id = i.query_id AND b.vec_id = i.vec_id
      |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  /** Sub-dot of `v`'s m-th PQ slice against the codebook row alias
    * `c` — same left-assoc chain + /centroid-norm score and
    * smaller-code tie-break as [[centScoreSql]], per subspace. */
  private def pqScoreSql(v: String, m: Int): String = {
    val dot = (1 to PqSub).map(i =>
      s"CAST($v[${m * PqSub + i}] AS DOUBLE) * CAST(c.cvec[$i] AS DOUBLE)")
      .mkString(" + ")
    val nrm = (1 to PqSub).map(i =>
      s"CAST(c.cvec[$i] AS DOUBLE) * CAST(c.cvec[$i] AS DOUBLE)")
      .mkString(" + ")
    s"($dot) / sqrt($nrm)"
  }

  /** Shared CTE chain for the PQ oracles: codebooks → per-subspace
    * assignment (argmax + smaller-code ties, like the IVF assign) →
    * reconstruction by list concat → exact-cosine scoring of the
    * reconstruction (the engine's DoubleVecDot chains) → rank. */
  /** The four per-subspace assignment CTEs (a0..a3) over `from`'s
    * (vec_id, embedding) rows — shared by the PQ top-k/recall/re-rank
    * oracles (corpus = embeddings) and the code-blocking dedup oracle
    * (corpus = appended all_vecs). */
  private def pqAssignsSql(from: String): String =
    (0 until PqM).map { m =>
      s""",
         |a$m AS (
         |  SELECT vec_id, code AS code$m FROM (
         |    SELECT e.vec_id, c.code,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${pqScoreSql("e.embedding", m)} DESC, c.code)
         |        AS rn
         |    FROM $from e
         |      CROSS JOIN (SELECT * FROM cb WHERE m = $m) c)
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString

  private def pqRankCtes: String = {
    val assigns = pqAssignsSql("embeddings")
    val reconJoins = (0 until PqM).map(m =>
      s"    JOIN cb cb$m ON cb$m.m = $m AND cb$m.code = a$m.code$m")
      .mkString("\n")
    val rdot = (1 to Dim).map(i =>
      s"r.rvec[$i] * CAST(q.qvec[$i] AS DOUBLE)").mkString(" + ")
    val rnrm = (1 to Dim).map(i => s"r.rvec[$i] * r.rvec[$i]")
      .mkString(" + ")
    val qnrm = (1 to Dim).map(i =>
      s"CAST(q.qvec[$i] AS DOUBLE) * CAST(q.qvec[$i] AS DOUBLE)")
      .mkString(" + ")
    s"""cb AS (
       |  SELECT m, code, cvec FROM read_parquet(
       |    '${pqCodebookPath("sf0.01")}/*.parquet')
       |)$assigns,
       |recon AS (
       |  SELECT a0.vec_id,
       |    ${(0 until PqM).map(m => s"cb$m.cvec").mkString(" || ")} AS rvec
       |  FROM a0 ${(1 until PqM).map(m => s"JOIN a$m USING (vec_id)")
          .mkString(" ")}
       |$reconJoins
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec
       |  FROM embeddings WHERE vec_id < 5
       |), pp AS (
       |  SELECT q.query_id, r.vec_id,
       |    ($rdot) / (sqrt($rnrm) * sqrt($qnrm)) AS score
       |  FROM recon r CROSS JOIN q
       |), rk AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, vec_id) AS INT) AS rank
       |  FROM pp
       |)""".stripMargin
  }

  private val pqTopkSql =
    s"""WITH $pqRankCtes
       |SELECT query_id, vec_id, rank, score FROM rk
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private val pqRecallSql =
    s"""WITH $pqRankCtes, pq AS (
       |  SELECT query_id, vec_id FROM rk WHERE rank <= 10
       |), pb AS (
       |  SELECT q.query_id, e.vec_id,
       |    ${cosSql("e.embedding", "q.qvec")} AS cosine
       |  FROM embeddings e, q
       |), rb AS (
       |  SELECT *, ROW_NUMBER() OVER
       |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM pb
       |), b AS (
       |  SELECT query_id, vec_id FROM rb WHERE rank <= 10
       |)
       |SELECT b.query_id,
       |  CAST(COUNT(pq.vec_id) AS BIGINT) AS n_hits,
       |  CAST(COUNT(pq.vec_id) * 1000 // 10 AS BIGINT) AS recall_permille
       |FROM b LEFT JOIN pq
       |  ON b.query_id = pq.query_id AND b.vec_id = pq.vec_id
       |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  private val pqRerankSql =
    s"""WITH $pqRankCtes, sl AS (
       |  SELECT query_id, vec_id FROM rk WHERE rank <= 100
       |), px AS (
       |  SELECT sl.query_id, e.vec_id,
       |    ${cosSql("e.embedding", "q.qvec")} AS cosine
       |  FROM sl JOIN embeddings e ON e.vec_id = sl.vec_id
       |    JOIN q ON q.query_id = sl.query_id
       |), rx AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, vec_id) AS INT) AS rank
       |  FROM px
       |)
       |SELECT query_id, vec_id, rank, cosine FROM rx
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private val ivfPqSql = {
    val rdot = (1 to Dim).map(i =>
      s"r.rvec[$i] * CAST(q.qvec[$i] AS DOUBLE)").mkString(" + ")
    val rnrm = (1 to Dim).map(i => s"r.rvec[$i] * r.rvec[$i]")
      .mkString(" + ")
    val qnrm = (1 to Dim).map(i =>
      s"CAST(q.qvec[$i] AS DOUBLE) * CAST(q.qvec[$i] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH cents AS (
       |  SELECT cell, cvec FROM read_parquet(
       |    '${centroidExportPath("sf0.01")}/*.parquet')
       |), cb AS (
       |  SELECT m, code, cvec FROM read_parquet(
       |    '${pqCodebookPath("sf0.01")}/*.parquet')
       |), cellof AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell)
       |        AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1
       |)${pqAssignsSql("embeddings")},
       |recon AS (
       |  SELECT a0.vec_id,
       |    ${(0 until PqM).map(m => s"cb$m.cvec").mkString(" || ")} AS rvec
       |  FROM a0 ${(1 until PqM).map(m => s"JOIN a$m USING (vec_id)")
          .mkString(" ")}
       |${(0 until PqM).map(m =>
          s"    JOIN cb cb$m ON cb$m.m = $m AND cb$m.code = a$m.code$m")
          .mkString("\n")}
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec
       |  FROM embeddings WHERE vec_id < 5
       |), probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${centScoreSql("q.qvec")} DESC, c.cell) AS rn
       |    FROM q CROSS JOIN cents c)
       |  WHERE rn <= $IvfNprobe
       |), pp AS (
       |  SELECT q.query_id, r.vec_id,
       |    ($rdot) / (sqrt($rnrm) * sqrt($qnrm)) AS score
       |  FROM recon r
       |  JOIN cellof co ON co.vec_id = r.vec_id
       |  JOIN probe pr ON pr.cell = co.cell
       |  JOIN q ON q.query_id = pr.query_id
       |), rk AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, vec_id) AS INT) AS rank
       |  FROM pp
       |)
       |SELECT query_id, vec_id, rank, score FROM rk
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  private val ivfAppendSql =
    s"""WITH cents AS (
       |  SELECT cell, cvec FROM read_parquet(
       |    '${centroidExportPath("sf0.01")}/*.parquet')
       |), all_vecs AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $CopyShift, embedding FROM embeddings
       |), assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell)
       |        AS rn
       |    FROM all_vecs e CROSS JOIN cents c)
       |  WHERE rn = 1
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec
       |  FROM embeddings WHERE vec_id < 5
       |), probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${centScoreSql("q.qvec")} DESC, c.cell) AS rn
       |    FROM q CROSS JOIN cents c)
       |  WHERE rn <= $IvfNprobe
       |), p AS (
       |  SELECT q.query_id, e.vec_id,
       |    ${cosSql("e.embedding", "q.qvec")} AS cosine
       |  FROM all_vecs e
       |  JOIN assign a ON a.vec_id = e.vec_id
       |  JOIN probe pr ON pr.cell = a.cell
       |  JOIN q ON q.query_id = pr.query_id
       |), r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER
       |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT)
       |    AS rank
       |  FROM p
       |)
       |SELECT query_id, vec_id, rank, cosine FROM r
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private val codeDupsSql =
    s"""WITH cb AS (
       |  SELECT m, code, cvec FROM read_parquet(
       |    '${pqCodebookPath("sf0.01")}/*.parquet')
       |), all_vecs AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $CopyShift, embedding FROM embeddings
       |)${pqAssignsSql("all_vecs")},
       |codes AS (
       |  SELECT a0.vec_id, ${(0 until PqM).map(m => s"a$m.code$m")
          .mkString(", ")}
       |  FROM a0 ${(1 until PqM).map(m => s"JOIN a$m USING (vec_id)")
          .mkString(" ")}
       |), pairs AS (
       |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |    ${cosSql("ex.embedding", "ey.embedding")} AS cosine
       |  FROM codes x JOIN codes y
       |    ON ${(0 until PqM).map(m => s"x.code$m = y.code$m")
          .mkString(" AND ")}
       |    AND x.vec_id < y.vec_id
       |  JOIN all_vecs ex ON ex.vec_id = x.vec_id
       |  JOIN all_vecs ey ON ey.vec_id = y.vec_id
       |)
       |SELECT id_a, id_b, cosine FROM pairs
       |WHERE cosine >= 0.99 ORDER BY id_a, id_b""".stripMargin

  private val recallTrainedSql =
    s"""WITH cents AS (
      |  SELECT cell, cvec FROM read_parquet(
      |    '${centroidExportPath("sf0.01")}/*.parquet')
      |), assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell)
      |        AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec
      |  FROM embeddings WHERE vec_id < 5
      |), probe AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id
      |        ORDER BY ${centScoreSql("q.qvec")} DESC, c.cell) AS rn
      |    FROM q CROSS JOIN cents c)
      |  WHERE rn <= $IvfNprobe
      |), pi AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${cosSql("e.embedding", "q.qvec")} AS cosine
      |  FROM embeddings e
      |  JOIN assign a ON a.vec_id = e.vec_id
      |  JOIN probe pr ON pr.cell = a.cell
      |  JOIN q ON q.query_id = pr.query_id
      |), ri AS (
      |  SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM pi
      |), i AS (
      |  SELECT query_id, vec_id FROM ri WHERE rank <= 10
      |), pb AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${cosSql("e.embedding", "q.qvec")} AS cosine
      |  FROM embeddings e, q
      |), rb AS (
      |  SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM pb
      |), b AS (
      |  SELECT query_id, vec_id FROM rb WHERE rank <= 10
      |)
      |SELECT b.query_id,
      |  CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits,
      |  CAST(COUNT(i.vec_id) * 1000 // 10 AS BIGINT) AS recall_permille
      |FROM b LEFT JOIN i
      |  ON b.query_id = i.query_id AND b.vec_id = i.vec_id
      |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  /** semantic_dedup's oracle: the proven exported-centroid assign CTE
    * (over the appended corpus) + within-cell pairwise cosine + the
    * proven recursive-CTE closure, rolled up per cell. The expensive
    * CTEs are MATERIALIZED: `av` is referenced four times and `p`
    * three, and DuckDB's default inlining would re-evaluate the
    * windowed assignment and the pairwise cosine per reference —
    * measured 19.5 s / OOM-prone inlined vs 2.0 s materialized under
    * an 8 GB cap at sf0.01. */
  private val semanticDedupSql =
    s"""WITH RECURSIVE cents AS (
      |  SELECT cell, cvec FROM read_parquet(
      |    '${centroidExportPath("sf0.01")}/*.parquet')
      |), all_vecs AS MATERIALIZED (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + $CopyShift, embedding FROM embeddings
      |), assign AS MATERIALIZED (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell) AS rn
      |    FROM all_vecs e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), av AS MATERIALIZED (
      |  SELECT v.vec_id, v.embedding, a.cell
      |  FROM all_vecs v JOIN assign a USING (vec_id)
      |), p AS MATERIALIZED (
      |  SELECT x.cell, x.vec_id AS id_a, y.vec_id AS id_b
      |  FROM av x JOIN av y
      |    ON x.cell = y.cell AND x.vec_id < y.vec_id
      |  WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.99
      |), sym AS (
      |  SELECT id_a AS src, id_b AS dst FROM p
      |  UNION SELECT id_b, id_a FROM p
      |), reach(node, lbl) AS (
      |  SELECT src, src FROM sym
      |  UNION
      |  SELECT s2.dst, r.lbl FROM reach r JOIN sym s2 ON s2.src = r.node
      |), dropped AS (
      |  SELECT node AS vec_id FROM reach
      |  GROUP BY node HAVING MIN(lbl) <> node
      |), cellv AS (
      |  SELECT cell, COUNT(*) AS n_vecs FROM av GROUP BY cell
      |), cellp AS (
      |  SELECT cell, COUNT(*) AS n_pairs FROM p GROUP BY cell
      |), celld AS (
      |  SELECT av.cell, COUNT(*) AS n_dropped
      |  FROM av JOIN dropped d ON d.vec_id = av.vec_id
      |  GROUP BY av.cell
      |)
      |SELECT cv.cell, cv.n_vecs,
      |  COALESCE(cp.n_pairs, 0) AS n_pairs,
      |  COALESCE(cd.n_dropped, 0) AS n_dropped,
      |  (cv.n_vecs - COALESCE(cd.n_dropped, 0)) * 1000 // cv.n_vecs
      |    AS keep_permille
      |FROM cellv cv
      |LEFT JOIN cellp cp USING (cell)
      |LEFT JOIN celld cd USING (cell)
      |ORDER BY cv.cell""".stripMargin

  private val ivfBalanceSql =
    s"""WITH cents AS (
      |  SELECT cell, cvec FROM read_parquet(
      |    '${centroidExportPath("sf0.01")}/*.parquet')
      |), assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell) AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), cellv AS (
      |  SELECT cell, COUNT(*) AS n_vecs FROM assign GROUP BY cell
      |), t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total FROM cellv)
      |SELECT cell, n_vecs,
      |  n_vecs * 1000 // t.total AS share_permille,
      |  n_vecs * $IvfK * 1000 // t.total AS load_permille,
      |  CAST(ROW_NUMBER() OVER (ORDER BY n_vecs DESC, cell) AS INT)
      |    AS hot_rank
      |FROM cellv, t ORDER BY cell""".stripMargin

  /** quantizer_drift's oracle: nearest sampled centroid by the
    * kernels' own dot/centroid-norm score (ties to the smaller cell,
    * like CentroidBest) + true cosine, from the two exported
    * exact-double matrices. */
  private val quantizerDriftSql =
    s"""WITH f AS (
      |  SELECT cell, cvec FROM read_parquet(
      |    '${centroidExportPath("sf0.01")}/*.parquet')
      |), sa AS (
      |  SELECT cell AS nearest_cell, cvec AS svec FROM read_parquet(
      |    '${centroidExportPathSampled("sf0.01")}/*.parquet')
      |), nn AS (
      |  SELECT f.cell, sa.nearest_cell,
      |    (${dotSqlD("f.cvec", "sa.svec")})
      |      / (sqrt(${dotSqlD("f.cvec", "f.cvec")})
      |        * sqrt(${dotSqlD("sa.svec", "sa.svec")})) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY f.cell
      |      ORDER BY (${dotSqlD("f.cvec", "sa.svec")})
      |        / sqrt(${dotSqlD("sa.svec", "sa.svec")}) DESC,
      |        sa.nearest_cell) AS rn
      |  FROM f CROSS JOIN sa
      |)
      |SELECT cell, nearest_cell, cosine FROM nn
      |WHERE rn = 1 ORDER BY cell""".stripMargin

  /** ann_topk_filtered's oracle: trainedIvfSqlFor's CTE chain with the
    * metadata predicate restricting the corpus in both the assignment
    * and the scoring stage (queries stay unfiltered). */
  private val filteredIvfSql =
    s"""WITH cents AS (
      |  SELECT cell, cvec FROM read_parquet(
      |    '${centroidExportPath("sf0.01")}/*.parquet')
      |), corpus AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0
      |), assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell)
      |        AS rn
      |    FROM corpus e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec
      |  FROM embeddings WHERE vec_id < 5
      |), probe AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id
      |        ORDER BY ${centScoreSql("q.qvec")} DESC, c.cell) AS rn
      |    FROM q CROSS JOIN cents c)
      |  WHERE rn <= $IvfNprobe
      |), p AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${cosSql("e.embedding", "q.qvec")} AS cosine
      |  FROM corpus e
      |  JOIN assign a ON a.vec_id = e.vec_id
      |  JOIN probe pr ON pr.cell = a.cell
      |  JOIN q ON q.query_id = pr.query_id
      |), r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER
      |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT)
      |    AS rank
      |  FROM p
      |)
      |SELECT query_id, vec_id, rank, cosine FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** knn_join's oracle: exported-centroid assignment + within-cell
    * pairwise (self excluded) + per-vector rank-1 cut, mirroring the
    * native bounded-heap node's (score desc, id asc) total order. av
    * is MATERIALIZED — referenced twice (the semantic_dedup lesson:
    * DuckDB inlining re-evaluates the windowed assignment per
    * reference). */
  private val knnJoinSql =
    s"""WITH cents AS (
      |  SELECT cell, cvec FROM read_parquet(
      |    '${centroidExportPath("sf0.01")}/*.parquet')
      |), assign AS MATERIALIZED (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell) AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), av AS MATERIALIZED (
      |  SELECT e.vec_id, e.embedding, a.cell
      |  FROM embeddings e JOIN assign a USING (vec_id)
      |), p AS (
      |  SELECT x.vec_id, y.vec_id AS nn_id,
      |    ${cosSql("x.embedding", "y.embedding")} AS cosine
      |  FROM av x JOIN av y
      |    ON x.cell = y.cell AND x.vec_id <> y.vec_id
      |), r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cosine DESC, nn_id) AS rn
      |  FROM p
      |)
      |SELECT vec_id, nn_id, cosine FROM r WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  private val ivfPuritySql =
    s"""WITH cents AS (
      |  SELECT cell, cvec FROM read_parquet(
      |    '${centroidExportPath("sf0.01")}/*.parquet')
      |), assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell) AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), cl AS (
      |  SELECT a.cell, e.label, COUNT(*) AS n
      |  FROM embeddings e JOIN assign a USING (vec_id)
      |  GROUP BY 1, 2
      |), tot AS (
      |  SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vecs FROM cl
      |  GROUP BY cell
      |), top AS (
      |  SELECT cell, label AS majority_label, n FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
      |      ORDER BY n DESC, label) AS rn FROM cl)
      |  WHERE rn = 1
      |)
      |SELECT t.cell, t.majority_label, tt.n_vecs,
      |  t.n * 1000 // tt.n_vecs AS purity_permille
      |FROM top t JOIN tot tt USING (cell)
      |ORDER BY t.cell""".stripMargin

  private val probeSweepSql =
    s"""WITH cents AS (
      |  SELECT cell, cvec FROM read_parquet(
      |    '${centroidExportPath("sf0.01")}/*.parquet')
      |), assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell) AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec
      |  FROM embeddings WHERE vec_id < 5
      |), probe AS (
      |  SELECT query_id, cell, rn AS probe_rank FROM (
      |    SELECT q.query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id
      |        ORDER BY ${centScoreSql("q.qvec")} DESC, c.cell) AS rn
      |    FROM q CROSS JOIN cents c)
      |  WHERE rn <= 4
      |), np AS (
      |  SELECT unnest(range(1, 5)) AS nprobe
      |), pi AS (
      |  SELECT np.nprobe, qq.query_id, e.vec_id,
      |    ${cosSql("e.embedding", "qq.qvec")} AS cosine
      |  FROM embeddings e
      |  JOIN assign a ON a.vec_id = e.vec_id
      |  JOIN probe pr ON pr.cell = a.cell
      |  JOIN q qq ON qq.query_id = pr.query_id
      |  JOIN np ON pr.probe_rank <= np.nprobe
      |), ri AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
      |    ORDER BY cosine DESC, vec_id) AS rank
      |  FROM pi
      |), i AS (
      |  SELECT nprobe, query_id, vec_id FROM ri WHERE rank <= 10
      |), pb AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${cosSql("e.embedding", "q.qvec")} AS cosine
      |  FROM embeddings e, q
      |), rb AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, vec_id) AS rank
      |  FROM pb
      |), b AS (
      |  SELECT query_id, vec_id FROM rb WHERE rank <= 10
      |), bx AS (
      |  SELECT np.nprobe, b.query_id, b.vec_id FROM b CROSS JOIN np
      |)
      |SELECT bx.nprobe, CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits,
      |  CAST(COUNT(i.vec_id) AS BIGINT) * 1000 // 50 AS recall_permille
      |FROM bx LEFT JOIN i
      |  ON i.nprobe = bx.nprobe AND i.query_id = bx.query_id
      |  AND i.vec_id = bx.vec_id
      |GROUP BY bx.nprobe ORDER BY bx.nprobe""".stripMargin

  /** Matryoshka mirror: coarse prefix-16 shortlist of 50, exact
    * full-dim re-rank — same two stages, same tie-breaks. */
  private val matryoshkaSql =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec
      |  FROM embeddings WHERE vec_id < 5
      |), c AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${cosSqlK("e.embedding", "q.qvec", 16)} AS c16
      |  FROM embeddings e, q
      |), sl AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id, ROW_NUMBER() OVER
      |      (PARTITION BY query_id ORDER BY c16 DESC, vec_id) AS rn
      |    FROM c)
      |  WHERE rn <= 50
      |), f AS (
      |  SELECT sl.query_id, sl.vec_id,
      |    ${cosSql("e.embedding", "q.qvec")} AS cosine
      |  FROM sl JOIN embeddings e USING (vec_id)
      |    JOIN q USING (query_id)
      |), r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER
      |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT)
      |    AS rank
      |  FROM f
      |)
      |SELECT query_id, vec_id, rank, cosine FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Binary sign-hash mirror: identical packed words (term-for-term
    * the same conditional sums), xor+bit_count Hamming ≤ 24, exact
    * cosine re-rank. */
  private val binaryTopKSql =
    s"""WITH c AS (
      |  SELECT vec_id,
      |    ${signCodeSql("embedding", 0)} AS lo,
      |    ${signCodeSql("embedding", 32)} AS hi
      |  FROM embeddings
      |), qc AS (
      |  SELECT vec_id AS query_id, lo AS qlo, hi AS qhi FROM c
      |  WHERE vec_id < 5
      |), cand AS (
      |  SELECT qc.query_id, c.vec_id
      |  FROM c CROSS JOIN qc
      |  WHERE bit_count(xor(c.lo, qc.qlo)) +
      |    bit_count(xor(c.hi, qc.qhi)) <= 24
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec
      |  FROM embeddings WHERE vec_id < 5
      |), f AS (
      |  SELECT cand.query_id, cand.vec_id,
      |    ${cosSql("e.embedding", "q.qvec")} AS cosine
      |  FROM cand JOIN embeddings e USING (vec_id)
      |    JOIN q USING (query_id)
      |), r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER
      |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT)
      |    AS rank
      |  FROM f
      |)
      |SELECT query_id, vec_id, rank, cosine FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** NDCG mirror: trained-IVF candidate ranks (the trainedIvfSqlFor
    * CTE chain) left-joined to exact brute ranks, the same pre-floored
    * literal weights, integer DCG and permille NDCG. */
  private lazy val ndcgSql = {
    val centPath = centroidExportPath("sf0.01")
    s"""WITH cents AS (
      |  SELECT cell, cvec FROM read_parquet(
      |    '$centPath/*.parquet')
      |), assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell)
      |        AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec
      |  FROM embeddings WHERE vec_id < 5
      |), probe AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id
      |        ORDER BY ${centScoreSql("q.qvec")} DESC, c.cell) AS rn
      |    FROM q CROSS JOIN cents c)
      |  WHERE rn <= $IvfNprobe
      |), p AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${cosSql("e.embedding", "q.qvec")} AS cosine
      |  FROM embeddings e
      |  JOIN assign a ON a.vec_id = e.vec_id
      |  JOIN probe pr ON pr.cell = a.cell
      |  JOIN q ON q.query_id = pr.query_id
      |), r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER
      |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT)
      |    AS rank
      |  FROM p
      |), ivf AS (
      |  SELECT query_id, vec_id, rank FROM r WHERE rank <= 10
      |), bp AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${cosSql("e.embedding", "q.qvec")} AS cosine
      |  FROM embeddings e, q
      |), br AS (
      |  SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
      |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT)
      |    AS brute_rank
      |  FROM bp
      |), brute AS (
      |  SELECT query_id, vec_id, brute_rank FROM br
      |  WHERE brute_rank <= 10
      |), j AS (
      |  SELECT ivf.query_id, ivf.rank,
      |    COALESCE(11 - b.brute_rank, 0) AS rel
      |  FROM ivf LEFT JOIN brute b USING (query_id, vec_id)
      |), d AS (
      |  SELECT query_id,
      |    CAST(SUM(CAST(rel AS BIGINT) * ($ndcgCaseW)) AS BIGINT)
      |      AS dcg_micro
      |  FROM j GROUP BY query_id
      |)
      |SELECT query_id, dcg_micro,
      |  CAST(dcg_micro * 1000 // $ndcgIdcg AS BIGINT) AS ndcg_pm
      |FROM d ORDER BY query_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "ann_ndcg_report" -> ndcgSql,
    "matryoshka_topk" -> matryoshkaSql,
    "ann_topk_binary" -> binaryTopKSql,
    "knn_join" -> knnJoinSql,
    "ivf_purity" -> ivfPuritySql,
    "ivf_probe_sweep" -> probeSweepSql,
    "semantic_dedup" -> semanticDedupSql,
    "ivf_balance_report" -> ivfBalanceSql,
    "quantizer_drift" -> quantizerDriftSql,
    "ann_topk_filtered" -> filteredIvfSql,
    "ann_range_search" ->
      s"""WITH cents AS (
        |  SELECT cell, cvec FROM read_parquet(
        |    '${centroidExportPath("sf0.01")}/*.parquet')
        |), assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell)
        |        AS rn
        |    FROM embeddings e CROSS JOIN cents c)
        |  WHERE rn = 1
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec
        |  FROM embeddings WHERE vec_id < 5
        |), probe AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY ${centScoreSql("q.qvec")} DESC, c.cell) AS rn
        |    FROM q CROSS JOIN cents c)
        |  WHERE rn <= $IvfNprobe
        |)
        |SELECT q.query_id, e.vec_id,
        |  ${cosSql("e.embedding", "q.qvec")} AS cosine
        |FROM embeddings e
        |JOIN assign a ON a.vec_id = e.vec_id
        |JOIN probe pr ON pr.cell = a.cell
        |JOIN q ON q.query_id = pr.query_id
        |WHERE ${cosSql("e.embedding", "q.qvec")} >= 0.2
        |ORDER BY q.query_id, e.vec_id""".stripMargin,
    // At-rest round trip is lossless by construction — same oracle as
    // the in-memory IVF-PQ path (the ann_topk_ivf_pruned precedent).
    "ann_topk_ivfpq_pruned" -> ivfPqSql,
    "ann_recall_report" -> recallReportSql,
    "ann_recall_trained" -> recallTrainedSql,
    "ann_topk_pq" -> pqTopkSql,
    "ann_recall_pq" -> pqRecallSql,
    "ann_topk_pq_rerank" -> pqRerankSql,
    "ann_topk_ivf_append" -> ivfAppendSql,
    "embedding_code_dups" -> codeDupsSql,
    "ann_topk_ivfpq" -> ivfPqSql,
    "ann_topk_brute" -> bruteTopKSql,
    "ann_topk_native" -> bruteTopKSql,
    "ann_topk_ivf" -> labelIvfSql,
    "ann_topk_ivf_trained" -> trainedIvfSqlFor(centroidExportPath("sf0.01")),
    "ann_topk_ivf_pruned" -> trainedIvfSqlFor(centroidExportPath("sf0.01")),
    "ann_topk_ivf_sampled" ->
      trainedIvfSqlFor(centroidExportPathSampled("sf0.01")),
    // Same cents/assign/probe stages as trainedIvfSql; the corpus side
    // is dequantized bytes (mn + floor((x−mn)·255/span)·span/255 — the
    // quantize∘dequant composition, floor-exact in double), queries
    // stay float-cast-to-double. All chains left-assoc, mirroring the
    // Spark aggregate() folds (0.0 + t1 ≡ t1 in IEEE).
    // r18 verdict task #2: this was the registry's hungriest oracle —
    // the old dq CTE carried BOTH the raw embedding list and the
    // transformed double list per row, for EVERY embedding, and q
    // carried qvec + qvd. Restructured so each CTE row holds at most
    // ONE list: per-vector min/span scalars come from a scalar-only
    // stats pass, the dequant transform projects straight off the
    // scan, and only embeddings in PROBED cells (~nprobe/k of the
    // corpus) are transformed at all. Arithmetic text is unchanged —
    // same folds, same results.
    "ann_topk_quantized" ->
      s"""WITH cents AS (
        |  SELECT cell, cvec FROM read_parquet(
        |    '${centroidExportPath("sf0.01")}/*.parquet')
        |), assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${centScoreSql("e.embedding")} DESC, c.cell)
        |        AS rn
        |    FROM embeddings e CROSS JOIN cents c)
        |  WHERE rn = 1
        |), qv AS (
        |  SELECT vec_id AS query_id, embedding AS qvec
        |  FROM embeddings WHERE vec_id < 5
        |), qd AS (
        |  SELECT query_id,
        |    list_transform(qvec, x -> CAST(x AS DOUBLE)) AS qvd
        |  FROM qv
        |), probe AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY ${centScoreSql("q.qvec")} DESC, c.cell) AS rn
        |    FROM qv q CROSS JOIN cents c)
        |  WHERE rn <= $IvfNprobe
        |), st AS (
        |  SELECT vec_id,
        |    CAST(list_min(embedding) AS DOUBLE) AS mnd,
        |    CAST(list_max(embedding) AS DOUBLE)
        |      - CAST(list_min(embedding) AS DOUBLE) AS span
        |  FROM embeddings
        |), dq AS (
        |  SELECT e.vec_id, a.cell,
        |    list_transform(e.embedding, x ->
        |      CASE WHEN span = 0 THEN mnd
        |           ELSE mnd + floor((CAST(x AS DOUBLE) - mnd) * 255.0
        |             / span) * span / 255.0
        |      END) AS l
        |  FROM embeddings e
        |  JOIN st ON st.vec_id = e.vec_id
        |  JOIN assign a ON a.vec_id = e.vec_id
        |  WHERE a.cell IN (SELECT cell FROM probe)
        |), p AS (
        |  SELECT q.query_id, d.vec_id,
        |    (${dotSqlD("d.l", "q.qvd")})
        |      / (sqrt(${dotSqlD("d.l", "d.l")})
        |        * sqrt(${dotSqlD("q.qvd", "q.qvd")})) AS cosine
        |  FROM dq d
        |  JOIN probe pr ON pr.cell = d.cell
        |  JOIN qd q ON q.query_id = pr.query_id
        |), r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER
        |    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT)
        |    AS rank
        |  FROM p
        |)
        |SELECT query_id, vec_id, rank, cosine FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "embedding_quantize" ->
      """WITH b AS (
        |  SELECT vec_id,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    CAST(list_max(embedding) AS DOUBLE) AS mx,
        |    embedding
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, mn, mx,
        |    list_transform(embedding, x ->
        |      CASE WHEN mx - mn = 0 THEN -128
        |           ELSE CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0
        |             / (mx - mn)) - 128 AS BIGINT)
        |      END) AS qv
        |  FROM b
        |)
        |SELECT vec_id, mn, mx,
        |  md5(array_to_string(
        |    list_transform(qv, v -> CAST(v AS VARCHAR)), ',')) AS q_md5
        |FROM q ORDER BY vec_id""".stripMargin,
    "embedding_dups" ->
      s"""WITH all_vecs AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + $CopyShift, embedding, label FROM embeddings
        |), pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ${cosSql("a.embedding", "b.embedding")} AS cosine
        |  FROM all_vecs a JOIN all_vecs b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, cosine FROM pairs
        |WHERE cosine >= 0.99 ORDER BY id_a, id_b""".stripMargin,
    "embedding_survivors" ->
      s"""WITH RECURSIVE all_vecs AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + $CopyShift, embedding, label FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM all_vecs a JOIN all_vecs b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.99
        |), sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p
        |), reach(node, lbl) AS (
        |  SELECT src, src FROM sym
        |  UNION
        |  SELECT s2.dst, r.lbl FROM reach r JOIN sym s2 ON s2.src = r.node
        |), comp AS (
        |  SELECT node AS id, MIN(lbl) AS canonical FROM reach GROUP BY node
        |)
        |SELECT vec_id FROM all_vecs
        |WHERE vec_id NOT IN (SELECT id FROM comp WHERE id <> canonical)
        |ORDER BY vec_id""".stripMargin)
}
