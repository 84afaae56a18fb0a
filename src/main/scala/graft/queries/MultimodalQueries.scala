package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.Tables

/** Multimodal plumbing queries: deterministic BMP/WAV/PNG containers
  * synthesized per document (dims/rates derived from `doc_id`, audio
  * payload size from the text length — the sandbox ships no media
  * files), pushed through the REAL decode path — `Dataset[MediaRecord]`
  * → partition-batched `mapPartitions` decode → byte-level header
  * parse → typed feature rows. The oracle re-derives the parsed
  * features from the same doc_id/length formulas, so the synth→parse
  * roundtrip is what's actually checked. */
object MultimodalQueries {

  /** Shared image-dedup corpus: docs + an id-shifted re-crawl of the
    * modulo-selected 40% tail, each doc's seeded BMP rendered and
    * dHashed through the oracle-checked decode→resize path. The pixel
    * seed is invariant under THIS query's re-crawl shift (+CopyShift,
    * so a re-hosted image reproduces bit-for-bit) but VARIES across
    * ScaleUp copies (+k·Shift) — base-only seeding measured a 162×
    * pair blowup at sf1 from byte-identical cross-copy images
    * (quadratic cliques); mixing the copy index into the seed keeps
    * within-copy structure isomorphic while decorrelating cross-copy
    * pixels. At the oracle's sf0.01 the copy index is always 0, so
    * the closed-form SQL is untouched. Returns (corpus ids, hashed). */
  private def imageCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    require(graft.tools.ScaleUp.Shift % CopyShift == 0,
      "image seed recovery assumes ScaleUp.Shift is a multiple of " +
        "CopyShift")
    val all = withRecrawl(Tables.documents(s, dir).select(col("doc_id")))
    val hashed = all.as[Long].map { id =>
      val base = (id % CopyShift).toInt
      val copy = (id / graft.tools.ScaleUp.Shift).toInt
      val seed = base + copy * 999983
      val img = Multimodal.makeBmpSeeded(base % 16 + 9, base % 8 + 8,
        seed)
      (id, Multimodal.dhashBmp(img).getOrElse(
        sys.error(s"fixture for doc $id is not a 24bpp BMP")))
    }.toDF("doc_id", "dhash")
    (all, hashed)
  }

  /** [[imageCorpus]]'s twin with the DCT pHash code — same corpus,
    * same seeds, only the fingerprint kernel differs. */
  private def phashCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val (all, _) = imageCorpus(s, dir)
    all.as[Long].map { id =>
      val base = (id % CopyShift).toInt
      val copy = (id / graft.tools.ScaleUp.Shift).toInt
      val seed = base + copy * 999983
      val img = Multimodal.makeBmpSeeded(base % 16 + 9, base % 8 + 8,
        seed)
      (id, Multimodal.phashBmp(img).getOrElse(
        sys.error(s"fixture for doc $id is not a 24bpp BMP")))
    }.toDF("doc_id", "phash")
  }

  /** The dHash gray value at resized column `tx` (a SQL expression
    * string), in scope: `ty` (resized row), `w`/`h` (source dims),
    * `s0`/`s1`/`s2` (seed digits) — the closed form of
    * synthesis-formula pixel → NN resize → channel sum that
    * `Multimodal.makeBmpSeeded` + `resizeBmp` + `dhashBmp` compute
    * over real bytes. */
  /** Closed-form code chain (seeded-pixel synthesis → dHash bits →
    * 4×16-bit bands → per-image band words `v`) — shared by the
    * dedup oracles below AND the image-search oracle, which consumes
    * `v` directly without the pair tail. */
  private lazy val imageCodeCtes =
    s"""corpus AS (
      |  SELECT doc_id FROM documents
      |  UNION ALL
      |  SELECT doc_id + $CopyShift FROM documents WHERE doc_id % 5 >= 3
      |), g AS (
      |  SELECT doc_id,
      |    (doc_id % $CopyShift) % 16 + 9 AS w,
      |    (doc_id % $CopyShift) % 8 + 8 AS h,
      |    (doc_id % $CopyShift) % 256 AS s0,
      |    ((doc_id % $CopyShift) // 256) % 256 AS s1,
      |    ((doc_id % $CopyShift) // 65536) % 256 AS s2
      |  FROM corpus
      |), bits AS (
      |  SELECT doc_id, ty * 8 + tx AS idx,
      |    CASE WHEN ${dhashGraySql("tx")} > ${dhashGraySql("tx + 1")}
      |      THEN 1 ELSE 0 END AS bit
      |  FROM g, range(0, 8) t1(ty), range(0, 8) t2(tx)
      |), bands AS (
      |  SELECT doc_id, CAST(idx // 16 AS INT) AS band,
      |    CAST(SUM(bit * (1 << (idx % 16))) AS BIGINT) AS band_val
      |  FROM bits GROUP BY doc_id, idx // 16
      |), v AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN band = 0 THEN band_val END) AS b0,
      |    MAX(CASE WHEN band = 1 THEN band_val END) AS b1,
      |    MAX(CASE WHEN band = 2 THEN band_val END) AS b2,
      |    MAX(CASE WHEN band = 3 THEN band_val END) AS b3
      |  FROM bands GROUP BY doc_id
      |)""".stripMargin

  /** Shared CTE chain for the image-dedup oracles: the code chain
    * plus candidate pairs → Hamming-≤3 verified `pairs`. Emitted
    * WITHOUT the WITH keyword so the survivors oracle can prepend
    * RECURSIVE. */
  private lazy val imagePairCtes =
    s"""$imageCodeCtes, cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      |  FROM bands a JOIN bands c
      |    ON a.band = c.band AND a.band_val = c.band_val
      |    AND a.doc_id < c.doc_id
      |), pairs AS (
      |  SELECT id_a, id_b,
      |    CAST(bit_count(xor(va.b0, vc.b0)) + bit_count(xor(va.b1, vc.b1))
      |      + bit_count(xor(va.b2, vc.b2)) + bit_count(xor(va.b3, vc.b3))
      |      AS INT) AS hamming
      |  FROM cand
      |  JOIN v va ON va.doc_id = id_a
      |  JOIN v vc ON vc.doc_id = id_b
      |  WHERE bit_count(xor(va.b0, vc.b0)) + bit_count(xor(va.b1, vc.b1))
      |    + bit_count(xor(va.b2, vc.b2)) + bit_count(xor(va.b3, vc.b3))
      |    <= 3
      |)""".stripMargin

  private def dhashGraySql(tx: String): String = {
    val sx = s"((($tx) * w) // 9)"
    val sy = s"((ty * h) // 8)"
    val v0 = s"($sx * 7 + $sy * 31 + s0 + s1 * $sx + s2 * $sy)"
    s"(($v0 % 256) + (($v0 + 101) % 256) + (($v0 + 202) % 256))"
  }

  /** pHash gray at 32×32-resized (tx, ty) — same closed pixel form as
    * [[dhashGraySql]] with the NN mapping retargeted to 32. */
  private val phashGraySql: String = {
    val sx = "((tx * w) // 32)"
    val sy = "((ty * h) // 32)"
    val v0 = s"($sx * 7 + $sy * 31 + s0 + s1 * $sx + s2 * $sy)"
    s"(($v0 % 256) + (($v0 + 101) % 256) + (($v0 + 202) % 256))"
  }

  /** The [[Multimodal.DctBasis]] fixed-point table as SQL VALUES rows
    * `(u, x, cv)` — the SAME 256 integers the engine multiplies by,
    * emitted from the same array. */
  private lazy val dctBasisValuesSql: String =
    (for (u <- 0 until 8; x <- 0 until 32)
      yield s"($u,$x,${Multimodal.DctBasis(u)(x)})").mkString(", ")

  /** Closed-form pHash code chain: synthesis pixels → 32×32 NN gray →
    * separable integer DCT (two join+sum passes against the embedded
    * basis literals) → exact lower-median AC sign bits → the same
    * 4×16-bit bands as the dHash chain. */
  private lazy val phashPairCtes =
    s"""corpus AS (
      |  SELECT doc_id FROM documents
      |  UNION ALL
      |  SELECT doc_id + $CopyShift FROM documents WHERE doc_id % 5 >= 3
      |), g AS (
      |  SELECT doc_id,
      |    (doc_id % $CopyShift) % 16 + 9 AS w,
      |    (doc_id % $CopyShift) % 8 + 8 AS h,
      |    (doc_id % $CopyShift) % 256 AS s0,
      |    ((doc_id % $CopyShift) // 256) % 256 AS s1,
      |    ((doc_id % $CopyShift) // 65536) % 256 AS s2
      |  FROM corpus
      |), gray AS MATERIALIZED (
      |  SELECT doc_id, tx, ty, $phashGraySql AS gv
      |  FROM g, range(0, 32) t1(ty), range(0, 32) t2(tx)
      |), ct AS (
      |  SELECT * FROM (VALUES $dctBasisValuesSql) b(u, x, cv)
      |), rowp AS (
      |  SELECT doc_id, ct.u AS fu, gray.ty,
      |    CAST(SUM(gv * cv) AS BIGINT) AS tv
      |  FROM gray JOIN ct ON ct.x = gray.tx
      |  GROUP BY doc_id, ct.u, gray.ty
      |), d AS MATERIALIZED (
      |  SELECT doc_id, fu, ct.u AS fv,
      |    CAST(SUM(tv * cv) AS BIGINT) AS coeff
      |  FROM rowp JOIN ct ON ct.x = rowp.ty
      |  GROUP BY doc_id, fu, ct.u
      |), med AS (
      |  SELECT doc_id, coeff AS med FROM (
      |    SELECT doc_id, coeff, ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY coeff, fu, fv) AS rn
      |    FROM d WHERE NOT (fu = 0 AND fv = 0))
      |  WHERE rn = 32
      |), bits AS (
      |  SELECT d.doc_id, fu * 8 + fv AS idx,
      |    CASE WHEN coeff > med THEN 1 ELSE 0 END AS bit
      |  FROM d JOIN med ON med.doc_id = d.doc_id
      |  WHERE NOT (fu = 0 AND fv = 0)
      |), bands AS (
      |  SELECT doc_id, CAST(idx // 16 AS INT) AS band,
      |    CAST(SUM(bit * (1 << (idx % 16))) AS BIGINT) AS band_val
      |  FROM bits GROUP BY doc_id, idx // 16
      |), v AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN band = 0 THEN band_val END) AS b0,
      |    MAX(CASE WHEN band = 1 THEN band_val END) AS b1,
      |    MAX(CASE WHEN band = 2 THEN band_val END) AS b2,
      |    MAX(CASE WHEN band = 3 THEN band_val END) AS b3
      |  FROM bands GROUP BY doc_id
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      |  FROM bands a JOIN bands c
      |    ON a.band = c.band AND a.band_val = c.band_val
      |    AND a.doc_id < c.doc_id
      |), pairs AS (
      |  SELECT id_a, id_b,
      |    CAST(bit_count(xor(va.b0, vc.b0)) + bit_count(xor(va.b1, vc.b1))
      |      + bit_count(xor(va.b2, vc.b2)) + bit_count(xor(va.b3, vc.b3))
      |      AS INT) AS hamming
      |  FROM cand
      |  JOIN v va ON va.doc_id = id_a
      |  JOIN v vc ON vc.doc_id = id_b
      |  WHERE bit_count(xor(va.b0, vc.b0)) + bit_count(xor(va.b1, vc.b1))
      |    + bit_count(xor(va.b2, vc.b2)) + bit_count(xor(va.b3, vc.b3))
      |    <= 3
      |)""".stripMargin

  val all: Map[String, Q] = Map(

    // Media INVENTORY rollup — the storage-ops view of the corpus'
    // binary columns: per container format, how many assets, total
    // bytes, max dimensions, distinct sample rates. Runs the REAL
    // parser path (the same decode as multimodal_features — this
    // query is its fleet-level aggregation, the report an ingest
    // dashboard heads with) then one format-cardinality partial agg;
    // at 100 TB the parse is the scan cost and the rollup is free.
    "media_format_report" -> { (s, dir) =>
      all("multimodal_features")(s, dir)
        .withColumn("format", expr(
          "CASE WHEN id % 4 = 0 THEN 'bmp' " +
            "WHEN id % 4 = 1 THEN 'wav' " +
            "WHEN id % 4 = 2 THEN 'png' ELSE 'jpeg' END"))
        .groupBy("format")
        .agg(count(lit(1)).as("n"),
          sum(col("n_bytes").cast("long")).as("total_bytes"),
          max("width").as("max_width"), max("height").as("max_height"),
          countDistinct(col("sample_rate")).as("n_sample_rates"))
        .orderBy("format")
    },

    // Batched decode/feature-extraction over binary payloads; four
    // REAL container classes (BMP, WAV, PNG, JPEG by doc_id mod 4) so
    // the unknown-container all-null path is pinned against positives
    // from four distinct parsers (LE structs, RIFF chunk walk, BE
    // chunks + CRC, and the JPEG marker-segment walk — SOF0 and SOF2
    // alternating by id so both baseline and progressive frame
    // headers stay under the oracle).
    "multimodal_features" -> { (s, dir) =>
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("id"),
          length(col("text")).as("tlen"))
        .as[(Long, Int)]
        .map { case (id, tlen) =>
          if (id % 4 == 0)
            Multimodal.MediaRecord(id, "image",
              Multimodal.makeBmp((id % 16 + 1).toInt, (id % 8 + 1).toInt))
          else if (id % 4 == 1)
            Multimodal.MediaRecord(id, "audio",
              Multimodal.makeWav((8000 + (id / 4 % 4) * 4000).toInt,
                (((id - 1) / 4) % 2 + 1).toInt, tlen))
          else if (id % 4 == 2)
            Multimodal.MediaRecord(id, "image",
              Multimodal.makePng((id % 16 + 1).toInt, (id % 8 + 1).toInt))
          else
            Multimodal.MediaRecord(id, "image",
              Multimodal.makeJpeg((id % 16 + 1).toInt, (id % 8 + 1).toInt,
                progressive = (id / 4) % 2 == 1))
        }
      Multimodal.decodeFeatures(media, batchSize = 64)
        .toDF()
        .orderBy("id")
    },

    // Pixel-level resize: parse dims → nearest-neighbor downsample to
    // half → re-encode → re-parse. The oracle re-derives the resized
    // header facts from the synthesis formulas, so what's checked is
    // the full parse→transform→encode→parse roundtrip; pixel-value
    // correctness is pinned byte-for-byte in MultimodalSpec.
    "multimodal_resize" -> { (s, dir) =>
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("id"))
        .as[Long]
        .map { id =>
          Multimodal.MediaRecord(id, "image",
            Multimodal.makeBmp((id % 16 + 1).toInt, (id % 8 + 1).toInt))
        }
      val resized = media.map { r =>
        val f = Multimodal.decode(r)
        Multimodal.MediaRecord(r.id, r.media_type,
          Multimodal.resizeBmp(r.payload,
            math.max(1, f.width.get / 2), math.max(1, f.height.get / 2)))
      }
      Multimodal.decodeFeatures(resized, batchSize = 64)
        .toDF()
        .select("id", "media_type", "n_bytes", "width", "height",
          "channels")
        .orderBy("id")
    },

    // IMAGE near-duplicate pairs — the dedup × multimodal cell: dHash
    // (decode → 9×8 resize through the oracle-checked pixel path →
    // 64 gradient-sign bits) over a corpus of seeded BMPs, then the
    // SAME 4×16-bit Hamming band join text SimHash uses
    // (Dedup.hammingBandPairs) for exact Hamming ≤ 3 recall. The
    // corpus plants duplicates the way dup_span_report does — a
    // re-crawl of the modulo-selected 40% tail (doc_id % 5 ≥ 3,
    // SF-invariant), id-shifted, with the image seeded by the
    // UNSHIFTED id so each re-crawled image reproduces its original
    // bit-for-bit (hamming 0, as a re-hosted image does). Source dims
    // (seed-derived, ≥ the 9×8 target so no degenerate duplicated-
    // column blank hashes) vary per doc, so the resize path is
    // genuinely exercised. Everything from pixel byte to band value
    // is deterministic integer arithmetic: the DuckDB oracle composes
    // the synthesis formula, the NN resize mapping, the gray sum and
    // the band decomposition in closed form — the engine reads real
    // bytes, the oracle proves the bytes' math.
    "multimodal_dedup_pairs" -> { (s, dir) =>
      val (_, hashed) = imageCorpus(s, dir)
      graft.operators.Dedup.hammingBandPairs(hashed, col("doc_id"),
          col("dhash"), maxHamming = 3)
        .orderBy("id_a", "id_b")
    },

    // DCT pHash near-duplicate pairs — dHash's robustness upgrade
    // (r13's ask): the same decode → resize pixel path, but the
    // fingerprint is the median-sign of the 32×32 gray's top-left
    // 8×8 DCT block (Multimodal.phashBmp — fixed-point integer
    // DCT-II, StrictMath-floored basis shared verbatim with the
    // oracle's VALUES literals). Low-FREQUENCY signs survive
    // re-encode/resize like dHash's gradients AND mild crops/blurs
    // that flip per-pixel comparisons — the recall trade is
    // documented in SCALE.md's image rows. Downstream is byte-for-
    // byte the dHash economics: 8-byte codes through the SAME
    // 4×16-bit Hamming band join; only the per-image kernel (a
    // 2×(8·32·32)-multiply integer transform) is heavier, and that
    // cost is the decode-stage scan cost, embarrassingly parallel.
    // The DuckDB oracle replays pixels → separable DCT (two
    // join+sum passes against the embedded basis) → exact lower
    // median → bands in closed form.
    "image_phash_pairs" -> { (s, dir) =>
      graft.operators.Dedup.hammingBandPairs(phashCorpus(s, dir),
          col("doc_id"), col("phash"), maxHamming = 3)
        .orderBy("id_a", "id_b")
    },

    // Image SIMILARITY SEARCH — "find images like this one": top-5
    // nearest neighbors per query image by dHash Hamming distance
    // (self excluded), through the native bounded-heap top-k. The
    // candidate pass scans 8-BYTE codes, not pixels — the binary-
    // sketch economics of ann_topk_binary applied to the image
    // modality (the real decode→resize→dHash path computed the codes
    // once; search touches only them). Distance ties break on
    // doc_id via the heap's (score, id) ordering; the two planted
    // exact-copy queries surface their duplicates at Hamming 0.
    "image_search_topk" -> { (s, dir) =>
      val (_, hashed) = imageCorpus(s, dir)
      val q = hashed.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("dhash").as("qhash"))
      val scored = hashed.crossJoin(broadcast(q))
        .filter(col("doc_id") =!= col("query_id"))
        .withColumn("hamming",
          bit_count(col("dhash").bitwiseXOR(col("qhash"))).cast("int"))
        .withColumn("score", -col("hamming").cast("double"))
        .select("query_id", "doc_id", "hamming", "score")
      graft.operators.TopK.perGroup(scored
          .select("query_id", "doc_id", "score"),
          "query_id", "doc_id", "score", k = 5)
        .join(scored.select("query_id", "doc_id", "hamming"),
          Seq("query_id", "doc_id"))
        .select("query_id", "rank", "doc_id", "hamming")
        .orderBy("query_id", "rank")
    },

    // Image dedup END-TO-END — pairs → transitive closure → survivor
    // corpus, the same cross-tier composition the text
    // (dedup_survivors) and embedding (embedding_survivors) paths
    // pin, now for the image modality: min-id canonicals of each
    // dHash clique plus every unpaired image survive. Closes the
    // dedup × multimodal cell as an actionable operation, not just a
    // pair report.
    "multimodal_dedup_survivors" -> { (s, dir) =>
      val (all, hashed) = imageCorpus(s, dir)
      graft.operators.Dedup.survivors(all,
          graft.operators.Dedup.hammingBandPairs(hashed, col("doc_id"),
            col("dhash"), maxHamming = 3))
        .orderBy("doc_id")
    },

    // AUDIO feature extraction over SAMPLES, not just headers: each
    // doc's seeded 16-bit PCM WAV (valid RIFF container, pseudo-PCM
    // from an integer mix formula) is byte-parsed back
    // (Multimodal.wavSamples — endianness, sign, data offset all
    // live) and aggregated per doc: sample count, zero crossings (the
    // classic voiced/unvoiced proxy), total magnitude and peak — all
    // exact integers. The DuckDB oracle NEVER sees the bytes: it
    // regenerates every sample from the same closed-form formula and
    // aggregates relationally, so a parse that misreads any byte
    // cannot hash-match. Scale shape: one narrow typed map per doc
    // (samples never leave their row) + the doc-keyed ORDER BY;
    // the 100 TB variant runs the same kernel over stored payloads
    // with sampleFrames prefiltering.
    "audio_features" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
        val sr = 8000 + (id % 4).toInt * 4000
        val n = 200 + (id % 7).toInt * 16
        val wav = Multimodal.makeWavSeeded(sr, 1, n, id.toInt)
        val samples = Multimodal.wavSamples(wav).getOrElse(
          sys.error(s"fixture for doc $id is not 16-bit PCM"))
        val zc = (1 until samples.length).count(i =>
          (samples(i - 1) < 0) != (samples(i) < 0))
        val sumAbs = samples.foldLeft(0L)((a, v) => a + math.abs(v))
        val peak = samples.foldLeft(0)((a, v) => math.max(a, math.abs(v)))
        (id, samples.length.toLong, zc.toLong, sumAbs, peak.toLong)
      }.toDF("doc_id", "n_samples", "zero_crossings", "sum_abs", "peak")
        .orderBy("doc_id")
    },

    // Frame sampling before decode: 16-byte frames, every 4th kept.
    "multimodal_frames" -> { (s, dir) =>
      val frames = Multimodal.sampleFrames(col("text"), frameBytes = 16,
        stride = 4)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(frames).as("n_sampled"),
          md5(element_at(frames, 1).cast("binary")).as("frame0_md5"))
        .orderBy("doc_id")
    })

  /** Features oracle — re-derives every parsed header fact from the
    * synthesis formulas; shared by multimodal_features and the
    * media_format_report rollup (a forward reference into the oracle
    * map itself would evaluate during map construction). */
  private val featuresSql =
    """WITH f AS (
      |  SELECT doc_id AS id, length(text) AS tlen,
      |    CAST(doc_id % 16 + 1 AS INT) AS w,
      |    CAST(doc_id % 8 + 1 AS INT) AS h,
      |    CAST(8000 + (doc_id // 4 % 4) * 4000 AS INT) AS sr,
      |    CAST(((doc_id - 1) // 4) % 2 + 1 AS INT) AS ch
      |  FROM documents
      |)
      |SELECT id,
      |  CASE WHEN id % 4 = 1 THEN 'audio' ELSE 'image' END
      |    AS media_type,
      |  CASE WHEN id % 4 = 0
      |    THEN CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS INT)
      |    WHEN id % 4 = 1
      |    THEN CAST(44 + tlen - tlen % (ch * 2) AS INT)
      |    WHEN id % 4 = 2 THEN 45
      |    ELSE 41
      |  END AS n_bytes,
      |  CASE WHEN id % 4 <> 1 THEN w END AS width,
      |  CASE WHEN id % 4 <> 1 THEN h END AS height,
      |  CASE WHEN id % 4 = 1 THEN ch ELSE 3 END AS channels,
      |  CASE WHEN id % 4 = 1 THEN sr END AS sample_rate,
      |  CASE WHEN id % 4 = 1
      |    THEN CAST(tlen - tlen % (ch * 2) AS DOUBLE) * 1000.0
      |      / (sr * ch * 2)
      |  END AS duration_ms
      |FROM f ORDER BY id""".stripMargin

  val oracle: Map[String, String] = Map(
    "multimodal_features" -> featuresSql,

    "media_format_report" ->
      s"""WITH feat AS (
        |$featuresSql
        |)
        |SELECT CASE WHEN id % 4 = 0 THEN 'bmp'
        |            WHEN id % 4 = 1 THEN 'wav'
        |            WHEN id % 4 = 2 THEN 'png'
        |            ELSE 'jpeg' END AS format,
        |  COUNT(*) AS n,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  MAX(width) AS max_width, MAX(height) AS max_height,
        |  COUNT(DISTINCT sample_rate) AS n_sample_rates
        |FROM feat GROUP BY 1 ORDER BY format""".stripMargin,
    "multimodal_resize" ->
      """WITH f AS (
        |  SELECT doc_id AS id,
        |    CAST(doc_id % 16 + 1 AS INT) AS w,
        |    CAST(doc_id % 8 + 1 AS INT) AS h
        |  FROM documents
        |), r AS (
        |  SELECT id, GREATEST(w // 2, 1) AS rw, GREATEST(h // 2, 1) AS rh
        |  FROM f
        |)
        |SELECT id, 'image' AS media_type,
        |  CAST(54 + ((rw * 3 + 3) // 4) * 4 * rh AS INT) AS n_bytes,
        |  CAST(rw AS INT) AS width, CAST(rh AS INT) AS height,
        |  CAST(3 AS INT) AS channels
        |FROM r ORDER BY id""".stripMargin,
    // Pixel → resize → gray → bit → band, all in closed form; the
    // band join + bit_count verify mirror Dedup.hammingBandPairs
    // (hamming as the SUM of per-band popcounts — the four bands
    // partition the 64 bits, so it equals the full-signature popcount
    // without materializing a 64-bit value whose top bit would
    // overflow a signed SUM).
    "multimodal_dedup_pairs" ->
      s"""WITH $imagePairCtes
        |SELECT id_a, id_b, hamming FROM pairs
        |ORDER BY id_a, id_b""".stripMargin,

    "image_phash_pairs" ->
      s"""WITH $phashPairCtes
        |SELECT id_a, id_b, hamming FROM pairs
        |ORDER BY id_a, id_b""".stripMargin,

    "image_search_topk" ->
      s"""WITH $imageCodeCtes, q AS (
        |  SELECT doc_id AS query_id, b0 AS qb0, b1 AS qb1,
        |    b2 AS qb2, b3 AS qb3
        |  FROM v WHERE doc_id < 5
        |), h AS (
        |  SELECT q.query_id, v.doc_id,
        |    CAST(bit_count(xor(v.b0, qb0)) + bit_count(xor(v.b1, qb1))
        |      + bit_count(xor(v.b2, qb2)) + bit_count(xor(v.b3, qb3))
        |      AS INT) AS hamming
        |  FROM v CROSS JOIN q
        |  WHERE v.doc_id <> q.query_id
        |), r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY hamming ASC, doc_id ASC) AS INT) AS rank
        |  FROM h
        |)
        |SELECT query_id, rank, doc_id, hamming FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "multimodal_dedup_survivors" ->
      s"""WITH RECURSIVE $imagePairCtes, sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach(node, lbl) AS (
        |  SELECT src, src FROM sym
        |  UNION
        |  SELECT s2.dst, r.lbl FROM reach r JOIN sym s2 ON s2.src = r.node
        |), dropped AS (
        |  SELECT node AS doc_id FROM reach
        |  GROUP BY node HAVING MIN(lbl) <> node
        |)
        |SELECT doc_id FROM corpus
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin,
    "multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    list_filter(range(0, CAST(ceil(length(text) / 16.0) AS INT)),
        |      i -> i % 4 = 0) AS idx
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(idx) AS INT) AS n_sampled,
        |  md5(substr(text, 1, 16)) AS frame0_md5
        |FROM f ORDER BY doc_id""".stripMargin,

    // Samples regenerated from the seeded-PCM formula (the bytes are
    // never consulted — the engine's byte parse must agree with the
    // generator's math); zero crossings via a lag window over sample
    // index, first sample's lag NULL -> no crossing counted, exactly
    // the engine's (1 until n) loop.
    "audio_features" ->
      """WITH g AS (
        |  SELECT doc_id, 200 + (doc_id % 7) * 16 AS n FROM documents
        |), s AS (
        |  SELECT doc_id, unnest(range(0, n)) AS i FROM g
        |), v AS (
        |  SELECT doc_id, i,
        |    ((doc_id * 2654435761 + i * 2246822519) % 65536 + 65536)
        |      % 65536 - 32768 AS smp
        |  FROM s
        |), c AS (
        |  SELECT doc_id, smp,
        |    CASE WHEN (smp < 0) <>
        |      (LAG(smp) OVER (PARTITION BY doc_id ORDER BY i) < 0)
        |      THEN 1 ELSE 0 END AS zc
        |  FROM v
        |)
        |SELECT doc_id,
        |  COUNT(*) AS n_samples,
        |  CAST(SUM(zc) AS BIGINT) AS zero_crossings,
        |  CAST(SUM(ABS(smp)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(ABS(smp)) AS BIGINT) AS peak
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
