package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. (Embedding-cosine near-dup
  * lives in [[Similarity]].)
  *
  * Scale design (the whole point at 100 TB):
  *  - exact dedup is ONE partial-aggregable shuffle on the fingerprint —
  *    never a self-join;
  *  - MinHash clustering goes shingle→signature→band→BUCKET-join:
  *    candidate pairs cost ∝ actual collisions, not n²;
  *  - n-gram Jaccard only verifies candidate pairs that share a shingle,
  *    with hot-shingle pruning (document-frequency cap) so a stopword
  *    shingle cannot produce a quadratic bucket;
  *  - SimHash is a pure per-row compiled kernel (no shuffle); near-dup
  *    lookup banding-joins the 64-bit signature's 4 disjoint 16-bit
  *    bands — exact Hamming≤3 recall by pigeonhole, bucket population
  *    ~n/2^16 instead of a quadratic coarse-bucket self-join.
  *
  * All hashes derive from md5 hex strings so signatures are
  * deterministic across engines and runs (no JVM hashCode, no seed
  * drift).
  */
/** Element type of the compiled bucket-pair expansion in
  * [[Dedup.ngramJaccardPairs]] (field names are the downstream schema). */
final case class IdPair(id_a: Long, id_b: Long)

/** Element type of the shared in-bucket pair kernel behind
  * [[Dedup.hammingBandPairs]] and [[Dedup.bucketPairCounts]] (field
  * names are the downstream schema; `hamming` is 0 for buckets that
  * carry no signatures). */
final case class HamPair(id_a: Long, id_b: Long, hamming: Int)

object Dedup {

  /** Exact dedup: keep the smallest id per fingerprint. Returns
    * `(fp, keep_id, dup_count)` — join back on `fp` to filter the
    * corpus, or use `dup_count > 1` to audit. */
  def exact(df: DataFrame, idCol: Column, fingerprint: Column): DataFrame =
    df.groupBy(fingerprint.as("fp"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dup_count"))

  /** MinHash signature: `numHashes` independent minima over the
    * document's distinct shingles. Family i reads the OVERLAPPING
    * 8-hex-char window of ONE md5 per shingle starting at offset `4i`
    * (stride 4; the last window truncates at the digest end, SQL-substr
    * style — see [[graft.functions.TextShingles.minhashSig]]) — string
    * min ≡ numeric min on equal-width hex per family, and one digest
    * per shingle instead of one per (shingle, family) makes signature
    * build 8× cheaper at corpus scale. Requires `numHashes <= 8`.
    *
    * DataFrame-shaped (adds `out` as `array<string>`). The whole
    * tokenize→shingle→digest→minima pass runs as ONE compiled function
    * per row ([[graft.functions.TextShingles.minhashSig]]) — the
    * higher-order-expression formulation evaluated interpreted and
    * measured ~10× slower over the sf0.1 corpus. */
  def withMinhashSignature(df: DataFrame, text: Column, out: String,
      numHashes: Int, shingleN: Int): DataFrame =
    df.withColumn(out,
      graft.functions.TextShingles.minhashSig(numHashes, shingleN)(text))

  /** LSH banding: signature → `(band, band_key)` rows. Documents
    * sharing ANY band key are near-dup candidates. */
  def lshBands(df: DataFrame, idCol: Column, text: Column,
      numHashes: Int = 8, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sig = col("_mh_sig")
    val bandArr = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until rowsPerBand).map(r =>
          element_at(sig, b * rowsPerBand + r + 1)): _*).as("band_key"))
    }: _*)
    withMinhashSignature(df, text, "_mh_sig", numHashes, shingleN)
      .select(idCol.as("id"), explode(bandArr).as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** MinHash+LSH candidate pairs `(id_a < id_b)` via bucket join on
    * `(band, band_key)` — the scalable path: one exchange on the band
    * key, pair cost ∝ collisions. */
  def minhashCandidatePairs(df: DataFrame, idCol: Column, text: Column,
      numHashes: Int = 8, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    // r21: in-bucket pair EXPANSION instead of the band-keyed
    // self-join — same (band, band_key) exchange builds sorted id
    // buckets and a compiled kernel emits the i<j pairs, dropping the
    // self-join's two sort passes over the banded stream; the pair
    // aggregate doubles as the distinct. Identical pair set (ids are
    // unique within a bucket — one row per (id, band)).
    val b = lshBands(df, idCol, text, numHashes, bands, shingleN)
    bucketPairCounts(b, col("id"), struct(col("band"), col("band_key")),
        minDf = 2, maxDf = Int.MaxValue)
      .select("id_a", "id_b")
  }

  /** 64-bit SimHash: bit j is the majority vote of token-hash bit j
    * (first 16 hex chars of each token's md5), over ALL tokens
    * (repetition weights). Pure per-row compiled kernel
    * ([[graft.functions.TextShingles.simhash64]]) — one md5 per token,
    * no shuffle. Adds `out` (long; bit 63 is the sign bit). */
  def withSimhash(df: DataFrame, text: Column, out: String): DataFrame =
    df.withColumn(out, graft.functions.TextShingles.simhash64(text))

  /** SimHash near-dup pairs `(id_a < id_b, hamming)` via 4×16-bit BAND
    * tables: the 64-bit signature splits into 4 disjoint 16-bit bands;
    * two signatures within Hamming distance `maxHamming` ≤ 3 MUST agree
    * on at least one whole band (pigeonhole: 3 differing bits cannot
    * touch all 4 bands), so the band-equality join has EXACT recall.
    * Candidates then verify in [[hammingBandPairs]]' bucket kernel.
    *
    * Scale shape: one exchange on `(band, band_val)` — 4×2^16 buckets,
    * so bucket population is ~n/2^16 per band (vs 256 top-byte buckets
    * for a 16-bit signature, where every bucket grows linearly with the
    * corpus and the in-bucket self-join goes quadratic). */
  def simhashPairs(df: DataFrame, idCol: Column, text: Column,
      maxHamming: Int = 3): DataFrame =
    hammingBandPairs(withSimhash(df, text, "simhash"), idCol,
      col("simhash"), maxHamming)

  /** Hamming-≤-`maxHamming` pairs over ANY 64-bit signature column via
    * the 4×16-bit band tables — the signature-agnostic core of
    * [[simhashPairs]], reused verbatim by image dHash dedup
    * ([[Multimodal.dhashBmp]]): two signatures within Hamming ≤ 3
    * must agree on a whole band (pigeonhole), so the band-equality
    * join has EXACT recall; candidates verify inside the shared
    * [[chunkedPairs]] kernel. One exchange on `(band, band_val)`
    * — 4×2¹⁶ buckets, population ~n/2¹⁶ per band. Returns
    * `(id_a < id_b, hamming)` distinct. */
  def hammingBandPairs(df: DataFrame, idCol: Column, sigCol: Column,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4 bands over 64 bits guarantee recall only for Hamming <= 3")
    // a NULL signature never equi-joined (null keys don't match);
    // groupBy WOULD bucket nulls together, so drop them explicitly —
    // same "no observation" semantics, now spelled out
    val sh = df.select(idCol.as("id"), sigCol.as("_sig"))
      .filter(col("_sig").isNotNull)
    val bandArr = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("_sig"), 16 * b)
          .bitwiseAND(lit(0xFFFFL)).as("band_val"))
    }: _*)
    val bands = sh.select(col("id"), col("_sig"),
        explode(bandArr).as("bk"))
      .select(col("id"), col("_sig"),
        col("bk.band").as("band"), col("bk.band_val").as("band_val"))
    // r21: in-bucket pair expansion + compiled Hamming verification
    // instead of the band-keyed self-join — the same (band, band_val)
    // exchange builds (id, sig) buckets sorted by id and the kernel
    // emits only the verified i<j pairs, dropping the self-join's two
    // sorts over the 4n banded stream and the unverified-collision
    // materialization. ids are unique within a bucket (one row per
    // (id, band)), so id_a < id_b exactly like the old filter, and
    // bit_count ≡ Long.bitCount. A pair sharing several bands repeats
    // with the same hamming — the terminal distinct dedups, as before.
    val buckets = bands.groupBy("band", "band_val")
      .agg(sort_array(collect_list(array(col("id"), col("_sig")))).as("ms"))
      .filter(size(col("ms")) >= 2)
    chunkedPairs(buckets, flatten(col("ms")), stride = 2, maxHamming)
      .select("p.*").distinct()
  }

  /** Connected components over a near-dup pair list — the
    * cluster-resolution step every dedup pipeline needs after pairing:
    * pairs (a,b),(b,c) must collapse into ONE surviving document, which
    * requires the transitive closure, not the raw pairs. Returns
    * `(id, canonical)` for every id that appears in a pair, where
    * `canonical` is the smallest id in its component (the conventional
    * survivor choice); isolated documents are their own canonical by
    * definition and are omitted to keep the output ∝ duplicates.
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own label and its neighbors' labels (one
    * shuffle per round: an edge⋈label join + a min aggregation), until
    * a round changes nothing. Rounds = graph diameter, which for
    * near-dup graphs is tiny: components are near-cliques (copies of
    * one underlying document pair with each other, not in long chains),
    * so 2–3 rounds close them. The convergence check is a distributed
    * `count`, not a collect.
    *
    * Chain-shaped graphs (boilerplate sequences that near-dup pairwise
    * but not transitively) need diameter rounds under propagation, so
    * after `switchAfter` unconverged rounds the remaining budget goes
    * to the O(log² n) large-star/small-star contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond"): the edge
    * set is first CONTRACTED through the propagated labels (the
    * quotient graph — near-clique components already closed by then
    * vanish as self-edges), then alternating star rounds shrink any
    * surviving chain geometrically instead of one hop per round. For
    * dedup workloads propagation alone converges first and the
    * fallback never runs.
    *
    * @param maxIters total round budget (propagation rounds + star
    *                 alternations); non-convergence within it throws
    *                 rather than returning a silently-partial
    *                 clustering
    * @param switchAfter propagation rounds to attempt before handing
    *                 the remaining budget to star contraction
    */
  def connectedComponents(pairs: DataFrame, aCol: Column, bCol: Column,
      maxIters: Int = 30, switchAfter: Int = 8): DataFrame = {
    // Materialize the pair lineage ONCE before the symmetric union —
    // union(pairs, pairs.reversed) over an un-materialized plan would
    // evaluate the (expensive) pairing lineage twice. No distinct on
    // the symmetric view: duplicate edges cannot change a MIN.
    val edges = Checkpoints.truncate(
      pairs.select(aCol.as("src"), bCol.as("dst")))
    val sym = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    // Each round MUST truncate lineage (localCheckpoint, eager), not
    // just cache: a cached plan still nests the previous round's plan,
    // so an iterative loop grows the logical plan exponentially and
    // dies in the optimizer long before any data-size limit.
    //
    // r21: the initializer IS round 1 — after one propagation round
    // every node's label is min(own id, min neighbor id), which is
    // exactly the min-neighbor aggregate over the symmetric edge set,
    // and it costs the same single exchange the old identity
    // initializer paid for its distinct. Near-clique dedup graphs
    // (the common case) now close in ONE counted round instead of
    // two: one full join+aggregate+count job saved per call, across
    // every components-consuming query.
    // lazy checkpoint (same discipline as `next` below): round 2's
    // convergence count materializes the initializer in the SAME job,
    // saving the separate eager-checkpoint job every call paid —
    // both in-loop references resolve to one persisted RDD.
    var labels = Checkpoints.truncate(
      sym.groupBy("src").agg(min("dst").as("_mn"))
        .select(col("src").as("id"),
          least(col("src"), col("_mn")).as("canonical")),
      eager = false)
    var changed = 1L
    var iters = 1
    while (changed > 0 && iters < math.min(switchAfter, maxIters)) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"),
          col("canonical").as("nbr_canonical")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("nbr_canonical").as("nbr_min"))
      // lazy checkpoint: the convergence count below materializes it,
      // so each round is ONE job (plus nothing else) instead of an
      // eager-checkpoint job followed by a count job
      val next = Checkpoints.truncate(labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("canonical").as("old"),
          least(col("canonical"), coalesce(col("nbr_min"),
            col("canonical"))).as("canonical")),
        eager = false)
      changed = next.filter(col("canonical") =!= col("old")).count()
      Checkpoints.release(labels)
      labels = next
      iters += 1
    }
    if (changed > 0 && iters < maxIters) {
      // Star-contraction fallback on the QUOTIENT graph: rewrite each
      // edge through the propagated labels and drop self-edges —
      // components propagation already closed disappear; what's left
      // is the (far smaller) graph of still-merging label values.
      // Labels are always ids of nodes in the same component and the
      // component min always keeps its own label, so the quotient's
      // component minima ARE the true minima; composing the star
      // result back over the label column yields exact canonicals.
      val la = labels.select(col("id").as("src"),
        col("canonical").as("_lsrc"))
      val lb = labels.select(col("id").as("dst"),
        col("canonical").as("_ldst"))
      val quotient = Checkpoints.truncate(
        sym.join(la, "src").join(lb, "dst")
          .select(col("_lsrc").as("src"), col("_ldst").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct())
      val starLabels = starContraction(quotient, maxIters - iters)
        .select(col("id").as("_sid"), col("canonical").as("_scanon"))
      labels = labels
        .join(starLabels, labels("canonical") === col("_sid"), "left")
        .select(col("id"),
          coalesce(col("_scanon"), col("canonical")).as("canonical"))
      changed = 0
    }
    sym.unpersist()
    require(changed == 0,
      s"connectedComponents did not converge in $maxIters rounds")
    labels.select("id", "canonical")
  }

  /** The survivors of a near-dup collapse: the ids of `ids` (its one
    * column) minus every non-canonical member of the
    * [[connectedComponents]] of `pairs` (`id_a`, `id_b`) — each
    * component keeps its min id, and unpaired ids all survive. The
    * anti-join is strategy-NEUTRAL (no broadcast hint): the dropped
    * set is ∝ duplicates, and real crawl corpora run 30-80% near-dups,
    * so a forced broadcast of it would exceed the broadcast cap long
    * before 100 TB; stats/AQE pick broadcast at small scale and an
    * id-hashed shuffle anti-join past the threshold
    * (StrategyNeutralSpec pins both plans). */
  def survivors(ids: DataFrame, pairs: DataFrame): DataFrame = {
    val id = ids.columns.head
    val dropped = connectedComponents(pairs, col("id_a"), col("id_b"))
      .filter(col("id") =!= col("canonical"))
      .select(col("id").as(id))
    ids.join(dropped, Seq(id), "left_anti")
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): each alternation
    * is two grouped passes over the edge set — large-star points every
    * neighbor LARGER than the group node at the neighborhood minimum
    * (halving chain distances), small-star re-points the smaller
    * neighbors — and the fixed point is a forest of stars centered at
    * each component's minimum id. Distances shrink geometrically, so
    * chains converge in O(log² n) alternations where propagation needs
    * diameter rounds. Returns `(id, canonical)` for every NON-root
    * node (roots are their own canonical and are simply absent — the
    * caller coalesces). Throws if the edge set hasn't reached a fixed
    * point within `maxRounds` alternations. */
  private def starContraction(edges0: DataFrame,
      maxRounds: Int): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min("dst").as("_mn"))
        .select(col("src"), least(col("_mn"), col("src")).as("_m"))
      sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("_m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
          greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
      val mins = oriented.groupBy("src").agg(min("dst").as("_m"))
      oriented.join(mins, "src")
        .select(col("dst").as("src"), col("_m").as("dst"))
        .union(mins.select(col("src"), col("_m").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
    }
    var e = edges0
    var rounds = 0
    var done = e.isEmpty
    while (!done && rounds < maxRounds) {
      // one alternation; BOTH passes checkpoint lazily — smallStar
      // references its input three times (orientation, mins, join), so
      // an untruncated largeStar sub-plan would re-evaluate its
      // shuffles per reference; lazy checkpoints materialize each pass
      // once when the convergence count below runs (same rationale as
      // the propagation loop)
      val ls = Checkpoints.truncate(largeStar(e), eager = false)
      val next = Checkpoints.truncate(smallStar(ls), eager = false)
      // fixed point ⇔ identical distinct edge sets: equal counts plus
      // an empty one-sided anti-join
      done = next.count() == e.count() &&
        next.join(e, Seq("src", "dst"), "left_anti").isEmpty
      Checkpoints.release(ls)
      Checkpoints.release(e)
      e = next
      rounds += 1
    }
    require(done,
      s"connectedComponents star contraction did not converge in " +
        s"$maxRounds alternations")
    // the fixed point is a star forest: every non-root points at its
    // component minimum
    e.select(col("src").as("id"), col("dst").as("canonical"))
  }

  /** n-gram Jaccard near-dup pairs. Candidates share ≥1 surviving
    * shingle; shingles appearing in more than `maxDocFreq` documents are
    * pruned first (hot-shingle cap — keeps any single bucket from going
    * quadratic; Jaccard is then computed over the surviving shingle
    * universe, which biases AGAINST false merges on boilerplate).
    * Returns `(id_a, id_b, inter, size_a, size_b, jaccard)`.
    *
    * Shape: ONE pass builds per-shingle id buckets (groupBy + size cap);
    * candidate pairs AND the per-doc set-size tokens expand INSIDE each
    * bucket (≤ doc_freq² per shingle) instead of a corpus-wide
    * self-join, so the exploded shingle set is evaluated exactly ONCE
    * and one exchange carries both aggregates. */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, text: Column,
      shingleN: Int = 3, maxDocFreq: Int = 20,
      minJaccard: Double = 0.5): DataFrame = {
    val sh = df.select(idCol.as("id"),
      explode(graft.functions.TextShingles.distinctShingles(shingleN)(text))
        .as("sh"))
    val buckets = sh.groupBy("sh")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) <= maxDocFreq)
    // compiled pair expansion: the HOF form
    // (flatten(transform(ids, transform(slice(...)))) evaluates
    // interpreted — one boxed lambda dispatch per PAIR, which is the
    // O(bucket²) inner loop of the whole operator. Same output order
    // (i<j over the sorted bucket), compiled.
    //
    // FUSED emission (r21): each bucket emits its i<j pairs AND one
    // (id, id) SIZE TOKEN per member in the same pass, so the per-doc
    // set sizes ride the pair exchange instead of paying a second
    // evaluation of the bucket aggregate plus their own exchange —
    // the buckets frame was the only subtree evaluated twice in this
    // operator. ids within a bucket are distinct (per-doc-distinct
    // shingles), so a self-pair is unambiguously a size token and
    // sizes(id) = count of its (id, id) tokens = its surviving-shingle
    // count, exactly the old explode(ids)→count aggregate.
    val expandPairs = udf { (ids: Seq[Long]) =>
      val n = ids.length
      val out = Array.newBuilder[IdPair]
      out.sizeHint(n * (n + 1) / 2)
      var i = 0
      while (i < n) {
        out += IdPair(ids(i), ids(i))
        var j = i + 1
        while (j < n) { out += IdPair(ids(i), ids(j)); j += 1 }
        i += 1
      }
      out.result()
    }
    val pairArr = expandPairs(col("ids"))
    val counts = buckets.select(explode(pairArr).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = counts.filter(col("id_a") === col("id_b"))
      .select(col("id_a").as("id"), col("inter").as("set_size"))
    val inter = counts.filter(col("id_a") =!= col("id_b"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("set_size").as("size_a")),
        "id_a")
      .join(sizes.select(col("id").as("id_b"), col("set_size").as("size_b")),
        "id_b")
      .withColumn("jaccard",
        col("inter") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
  }

  /** Occupancy-banded bucket pair counts over an already-exploded
    * `(id, key)` occurrence stream: buckets whose occupancy (ROW
    * count, occurrences not distinct ids) lies in `[minDf, maxDf]`
    * expand their i<j member pairs in the shared [[chunkedPairs]]
    * kernel and shared buckets are counted per pair — the
    * winnowing-overlap rows' core, replacing their aggregate +
    * join-back + fp-keyed self-join (the occurrence stream evaluated
    * ~twice, three exchanges) with [[ngramJaccardPairs]]'s proven
    * one-exchange bucket shape.
    *
    * Exact self-join equivalence: a bucket holding an id k times
    * pairs it with another id's m occurrences k·m times (equal ids
    * never self-pair), which is precisely the row count the fp-keyed
    * equi-join produced under `id_a < id_b`. Returns
    * `(id_a, id_b, n_shared)`.
    *
    * Precondition: `idCol` must be NON-NULL (r21 ADVICE) — occupancy
    * is the size of the collected id list, and `collect_list` drops
    * nulls, so a null id would silently shift its bucket across the
    * `[minDf, maxDf]` band boundary relative to a row count. Every
    * registered caller keys on non-null doc ids. */
  def bucketPairCounts(occ: DataFrame, idCol: Column, keyCol: Column,
      minDf: Int, maxDf: Int): DataFrame = {
    val buckets = occ.select(keyCol.as("_k"), idCol.as("id"))
      .groupBy("_k").agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(minDf, maxDf))
    chunkedPairs(buckets, col("ids"), stride = 1, maxHamming = 0)
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The in-bucket pair expansion shared by [[hammingBandPairs]] and
    * [[bucketPairCounts]]: `members` is a bucket's flat member array
    * sorted by id, `stride` longs per member — the id, then (stride 2)
    * its 64-bit signature. Returns one [[HamPair]] row `p` per member
    * pair with distinct ids, `id_a` from the earlier member;
    * with signatures only pairs within `maxHamming` survive and
    * `hamming` records the distance, without them it is 0.
    *
    * Oversized-bucket guard (r21 ADVICE, medium): a degenerate hot
    * bucket (the all-zero signature of trivial docs, an unbounded-`maxDf`
    * minhash band) would otherwise build its O(occupancy²) pairs in ONE
    * in-memory array inside one kernel call — an executor OOM at scale
    * where the old self-join merely went slow. The expansion therefore
    * STREAMS as a chunk decomposition: the CHUNKER splits the sorted
    * bucket into consecutive chunks of `graft.bucket.kernelCap` members
    * (session conf, default 1024) and emits one row per (i ≤ j) chunk
    * pair — one chunk on the diagonal, two across — and the KERNEL
    * expands one chunk pair per call over primitive `Array[Long]`s: the
    * diagonal's upper triangle, or the full cross product. ≤ cap² pairs
    * (≈0.5M objects, tens of MB) are materialized at once whatever the
    * bucket size, with the chunk-pair rows themselves streaming through
    * the Generate. Chunk pairs partition the bucket's index pairs
    * exactly, so the pair multiset is unchanged; a bucket within the
    * cap is a single diagonal chunk. (A filter-split join fallback was
    * measured first and rejected: the second pass over the bucket
    * aggregate plus the branch stages cost 1.1-1.25× on EVERY consumer
    * row even with the fallback branch empty.) */
  private def chunkedPairs(buckets: DataFrame, members: Column,
      stride: Int, maxHamming: Int): DataFrame = {
    val cap = buckets.sparkSession.conf
      .get("graft.bucket.kernelCap", "1024").toInt
    val chunker = udf { (m: Seq[Long]) =>
      val all = m.toArray
      val n = all.length / stride
      if (n <= cap) Array(Array(all))
      else {
        val chunks = Array.tabulate((n + cap - 1) / cap)(c =>
          java.util.Arrays.copyOfRange(all, c * cap * stride,
            math.min((c + 1) * cap, n) * stride))
        chunks.indices.flatMap(i => chunks.indices.drop(i).map(j =>
          if (i == j) Array(chunks(i)) else Array(chunks(i), chunks(j))))
          .toArray
      }
    }
    val kernel = udf { (c: Seq[Seq[Long]]) =>
      val diagonal = c.length == 1
      val a = c.head.toArray
      val b = if (diagonal) a else c(1).toArray
      val out = Array.newBuilder[HamPair]
      var i = 0
      while (i < a.length) {
        var j = if (diagonal) i + stride else 0
        while (j < b.length) {
          val ham = if (stride == 1) 0
            else java.lang.Long.bitCount(a(i + 1) ^ b(j + 1))
          if (a(i) != b(j) && ham <= maxHamming)
            out += HamPair(a(i), b(j), ham)
          j += stride
        }
        i += stride
      }
      out.result()
    }
    buckets.select(explode(chunker(members)).as("c"))
      .select(explode(kernel(col("c"))).as("p"))
  }
}
