package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Compiled hot paths for shingle-based dedup: tokenize → n-gram →
  * md5 → window minima as tight Scala loops.
  *
  * The Column-expression equivalents (`transform`/`filter`/`aggregate`
  * higher-order functions) evaluate INTERPRETED — one lambda dispatch
  * and boxed element per token — which measured ~10× slower over the
  * sf0.1 corpus. These helpers keep the exact same semantics (and the
  * same DuckDB-oracle parity: Java `split("\\s+")` ≡ DuckDB
  * `string_split_regex(..., '\s+')`, lowercase md5 hex both sides) but
  * run the loops in compiled code behind one UDF call per row.
  */
/** Element type of [[TextShingles.shingleWithHash60]] (field names are
  * the downstream schema). */
final case class ShingleHash(sh: String, h: java.lang.Long)

/** Element type of [[TextShingles.bigramPairs]] (field names are the
  * downstream schema). */
final case class WordPair(w1: String, w2: String)

object TextShingles {

  private val hexChars = "0123456789abcdef".toCharArray

  // One digest instance per executor thread: getInstance per token is a
  // provider lookup + allocation inside the per-row kernel.
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private def md5Hex(s: String): String = {
    val digest = md5.get()
    digest.reset()
    val d = digest.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xF)
      out(2 * i + 1) = hexChars(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** Word n-gram shingles of the lowercased text; a text shorter than
    * `n` words yields its single full-token shingle (mirrors
    * [[graft.operators.TextAnalysis.shingles]]). */
  def shingleArray(text: String, n: Int): Array[String] = {
    val toks = text.trim.toLowerCase.split("\\s+")
    if (toks.length >= n)
      Array.tabulate(toks.length - n + 1) { i =>
        val sb = new StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        sb.toString
      }
    else Array(toks.mkString(" "))
  }

  /** Distinct shingles (order preserved, as `array_distinct`). */
  def distinctShingles(n: Int): Column => Column = {
    val f = udf((text: String) =>
      if (text == null) null else shingleArray(text, n).distinct)
    c => f(c)
  }

  /** First 64 bits of the md5 digest as a (sign-carrying) long — the
    * bit pattern `parseUnsignedLong(md5Hex(s).substring(0, 16), 16)`
    * yields, computed straight from the digest bytes with no
    * hex-string round trip. */
  private def md5First64(s: String): Long = {
    val digest = md5.get()
    digest.reset()
    val d = digest.digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** First 60 bits of the md5 digest as an unsigned long — the exact
    * value of `conv(substring(md5(s), 1, 15), 16, 10)` (15 hex chars =
    * bytes 0–6 plus the high nibble of byte 7). */
  private[graft] def hash60(s: String): Long = md5First64(s) >>> 4

  // Per-thread memo of token → md5First64: simhash hashes every token
  // OCCURRENCE and corpus token frequencies are Zipf-concentrated, so
  // the same few thousand strings hash over and over — a bounded
  // deterministic cache turns ~99% of those digests into map hits.
  // 2^14 entries ≈ 1 MB per executor thread; cleared when full (the
  // Zipf head re-enters immediately). Shingles/bigrams are mostly
  // unique per occurrence, so only the TOKEN path uses this.
  private val tokenHashCache =
    new ThreadLocal[java.util.HashMap[String, java.lang.Long]] {
      override def initialValue() =
        new java.util.HashMap[String, java.lang.Long](1 << 12)
    }

  private def md5First64Cached(s: String): Long = {
    val c = tokenHashCache.get()
    val v = c.get(s)
    if (v != null) v.longValue()
    else {
      if (c.size >= (1 << 14)) c.clear()
      val h = md5First64(s)
      c.put(s, java.lang.Long.valueOf(h))
      h
    }
  }

  /** Lowercased adjacent-token bigrams (`"w1 w2"`), the compiled twin
    * of the `transform(sequence(1, size(toks) - 1), i ->
    * concat(element_at(toks, i), ' ', element_at(toks, i + 1)))` HOF
    * over `tokens(lower(text))` with its `size(toks) >= 2` guard:
    * sub-bigram or null texts yield the empty array the guard's
    * filtered-out rows correspond to under explode. */
  def bigrams: Column => Column = {
    val f = udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val toks = text.trim.toLowerCase.split("\\s+")
        if (toks.length < 2) Array.empty[String]
        else Array.tabulate(toks.length - 1)(i => toks(i) + " " + toks(i + 1))
      }
    }
    c => f(c)
  }

  /** [[bigrams]] keeping the two words separate (`w1`, `w2`) — for the
    * Kneser-Ney row, whose count tables key on each side. */
  def bigramPairs: Column => Column = {
    val f = udf { (text: String) =>
      if (text == null) Array.empty[WordPair]
      else {
        val toks = text.trim.toLowerCase.split("\\s+")
        if (toks.length < 2) Array.empty[WordPair]
        else Array.tabulate(toks.length - 1)(i => WordPair(toks(i), toks(i + 1)))
      }
    }
    c => f(c)
  }

  /** 60-bit md5-prefix hashes of the word `n`-gram shingles, in
    * shingle order WITH duplicates — element-for-element identical to
    * `conv(substring(md5(sh), 1, 15), 16, 10)` over
    * `explode(TextAnalysis.shingles(text, n))`, including the
    * null-text case (the HOF path emits one null shingle there, so
    * this returns one null hash). One compiled tokenize→shingle→md5
    * loop per row for the sketch family, replacing the interpreted
    * `transform` HOF plus the per-shingle hex/conv chain (see class
    * doc for the ~10× measurement). */
  def shingleHash60(n: Int): Column => Column = {
    val f = udf { (text: String) =>
      if (text == null) Array[java.lang.Long](null)
      else {
        val sh = shingleArray(text, n)
        val out = new Array[java.lang.Long](sh.length)
        var i = 0
        while (i < sh.length) {
          out(i) = java.lang.Long.valueOf(hash60(sh(i)))
          i += 1
        }
        out
      }
    }
    c => f(c)
  }

  /** `(sh, h)` pairs: each word `n`-gram shingle string together with
    * its 60-bit md5-prefix hash — for the audit rows that need BOTH
    * the shingle identity (exact intersection / countDistinct) and the
    * sketch hash from one compiled pass. Same null-text parity as
    * [[shingleHash60]]: one `(null, null)` element. */
  def shingleWithHash60(n: Int): Column => Column = {
    val f = udf { (text: String) =>
      if (text == null) Array[ShingleHash](ShingleHash(null, null))
      else {
        val sh = shingleArray(text, n)
        val out = new Array[ShingleHash](sh.length)
        var i = 0
        while (i < sh.length) {
          out(i) = ShingleHash(sh(i), java.lang.Long.valueOf(hash60(sh(i))))
          i += 1
        }
        out
      }
    }
    c => f(c)
  }

  /** md5 hex keys of the word `n`-gram spans of a pre-tokenized
    * document, in position order — the compiled twin of
    * `transform(sequence(1, size(toks) - n + 1), i ->
    * md5(array_join(slice(toks, i, n), ' ')))` the span-dedup rows
    * (dup_span_report / dedup_span_trim / cross_doc_span_trim) explode:
    * inside a higher-order-function lambda even the builtin md5
    * evaluates interpreted, with a slice allocation and join per gram.
    * Null or sub-`n` inputs mirror the call sites' `size(toks) >= n` guard
    * (empty array → explode drops the row). */
  def spanGramMd5(n: Int): Column => Column = {
    val f = udf { (toks: Seq[String]) =>
      if (toks == null || toks.length < n) Array.empty[String]
      else {
        val arr = toks.toArray
        Array.tabulate(arr.length - n + 1) { i =>
          val sb = new StringBuilder(arr(i))
          var j = 1
          while (j < n) { sb.append(' ').append(arr(i + j)); j += 1 }
          md5Hex(sb.toString)
        }
      }
    }
    c => f(c)
  }

  /** Winnowing parameters shared with the SQL oracle: polynomial
    * k-gram hash `h(i) = Σ_j code(c_{i+j})·B^j mod M`. */
  val WinnowBase = 257L
  val WinnowMod = 1000000007L

  def winnowPowers(k: Int): Array[Long] =
    Array.iterate(1L, k)(p => p * WinnowBase % WinnowMod)

  /** Document fingerprinting by winnowing (rolling k-gram hashes, min
    * per window of `w`, distinct + sorted) — the standard
    * near-duplicate fingerprint for training corpora (Schleimer et al.,
    * SIGMOD'03 "Winnowing: Local Algorithms for Document
    * Fingerprinting"). Guarantees any shared substring of length
    * ≥ `w + k - 1` yields at least one shared fingerprint.
    *
    * Caller must pre-filter `length(text) >= k` (mirrored by the SQL
    * oracle). */
  def winnowedFingerprints(k: Int, w: Int): Column => Column = {
    val pows = winnowPowers(k)
    val f = udf { (text: String) =>
      if (text == null) null
      else {
      val n = text.length
      if (n < k) Array.empty[Long]
      else {
        val hs = Array.tabulate(n - k + 1) { i =>
          var h = 0L
          var j = 0
          while (j < k) {
            h = (h + text.charAt(i + j).toLong * pows(j)) % WinnowMod
            j += 1
          }
          h
        }
        val mins =
          if (hs.length <= w) Array(hs.min)
          else Array.tabulate(hs.length - w + 1) { i =>
            var m = hs(i)
            var j = 1
            while (j < w) { if (hs(i + j) < m) m = hs(i + j); j += 1 }
            m
          }
        mins.distinct.sorted
      }
      }
    }
    c => f(c)
  }

  /** WORD-shingle winnowing: the same rolling-min sampling as
    * [[winnowedFingerprints]], but over word `shingleN`-gram hashes
    * instead of char k-gram hashes — the variant for the regime the
    * char version measurably saturates in (SCALE.md round 12:
    * suffix-templated text makes every char-8-gram corpus-common, the
    * doc-freq cap then prunes ALL fingerprints and recall drops to
    * zero; word shingles keep the template words as context, so
    * cross-doc sharing requires shared word SEQUENCES). Guarantee
    * shifts accordingly: any shared run of ≥ `shingleN + w − 1` words
    * yields at least one shared fingerprint. The hash is the first 16
    * hex chars of the shingle's md5 — min over a fixed-width hex
    * window ≡ numeric min (the minhash trick), and the same md5
    * primitive lets DuckDB re-derive fingerprints exactly.
    *
    * Texts shorter than `shingleN` words yield no fingerprints (a
    * sub-shingle text has no shingle identity to sample; mirrored by
    * the oracle's length filter). Output distinct + sorted like the
    * char version. */
  def winnowedWordFingerprints(shingleN: Int, w: Int): Column => Column = {
    val f = udf { (text: String) =>
      if (text == null) null
      else {
        val toks = text.trim.toLowerCase.split("\\s+")
        if (toks.length < shingleN) Array.empty[String]
        else {
          // r21: rolling minima run as UNSIGNED 64-bit integers read
          // straight from the digest bytes (fixed-width lowercase hex
          // compares exactly like the unsigned value, digits < a-f in
          // ASCII); only the few distinct window minima format back to
          // the 16-hex-char strings the join keys and oracle expect —
          // saves a 32-char hex string + substring per shingle.
          val hs = Array.tabulate(toks.length - shingleN + 1) { i =>
            val sb = new StringBuilder(toks(i))
            var j = 1
            while (j < shingleN) {
              sb.append(' ').append(toks(i + j)); j += 1
            }
            md5First64(sb.toString)
          }
          def uMin(a: Long, b: Long): Long =
            if (java.lang.Long.compareUnsigned(a, b) <= 0) a else b
          val mins =
            if (hs.length <= w) Array(hs.reduce(uMin))
            else Array.tabulate(hs.length - w + 1) { i =>
              var m = hs(i)
              var j = 1
              while (j < w) { m = uMin(m, hs(i + j)); j += 1 }
              m
            }
          mins.distinct.map { m =>
            val hex = java.lang.Long.toHexString(m)
            "0" * (16 - hex.length) + hex
          }.sorted
        }
      }
    }
    c => f(c)
  }

  /** 64-bit SimHash signature (Charikar, STOC'02 similarity
    * estimation): bit j is the majority vote of token-hash bit j over
    * ALL tokens (repetition weights), where a token's 64-bit hash is
    * the first 16 hex chars of its md5 — deterministic across engines
    * (no JVM hashCode, no seed) and re-derivable in SQL from the same
    * md5 primitive. Returns a signed long; bit 63 is the sign bit.
    *
    * One md5 + one 64-bit popcount loop per token in compiled code —
    * the higher-order-function formulation runs interpreted per
    * element (see class doc) and would pay 64 array scans per row. */
  def simhash64: Column => Column = {
    // boxed return so a null text propagates as null (the former
    // Column-expression behavior) instead of NPE-ing the task
    val f = udf { (text: String) =>
      if (text == null) null
      else java.lang.Long.valueOf(simhash64Value(text))
    }
    c => f(c)
  }

  private def simhash64Value(text: String): Long = {
    val toks = text.trim.toLowerCase.split("\\s+")
    val counts = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      // r21: the token hash reads the digest bytes directly — same
      // bits as parseUnsignedLong(md5Hex(tok).substring(0, 16), 16),
      // minus two string allocations and a hex parse per token — and
      // memoizes per thread (tokens are Zipf-repeated)
      val v = md5First64Cached(toks(i))
      var j = 0
      while (j < 64) {
        if (((v >>> j) & 1L) == 1L) counts(j) += 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (2 * counts(j) > toks.length) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** MinHash signature: `numHashes` minima over distinct shingles,
    * family i reading the hex window starting at `4i` (width 8,
    * stride 4 — windows overlap, and the last one is truncated at the
    * digest end exactly like SQL substr) of ONE md5 per shingle —
    * identical values to `min(substr(md5(s), 4*i+1, 8))` in SQL. */
  def minhashSig(numHashes: Int, shingleN: Int): Column => Column = {
    require(numHashes <= 8,
      "one 32-hex md5 yields at most 8 stride-4 hash windows")
    // window i spans hex chars [4i, min(4i+8, 32)) — families 0..6 are
    // 8 hex chars (32 bits), family 7 the truncated 4 (16 bits)
    val widths = Array.tabulate(numHashes)(i => math.min(4 * i + 8, 32) - 4 * i)
    val f = udf { (text: String) =>
      if (text == null) null
      else {
      // r21: window minima run NUMERIC over nibbles read straight from
      // the digest (string min ≡ numeric min on equal-width hex per
      // family — the operator scaladoc's minhash trick), and only the
      // numHashes final minima format back to the hex strings the
      // band keys / calibration zip and the oracle SQL expect. Saves
      // the 32-char hex string + numHashes substrings per shingle.
      val mins = Array.fill(numHashes)(Long.MaxValue)
      val seen = new java.util.HashSet[String]()
      val shingles = shingleArray(text, shingleN)
      val digest = md5.get()
      val nib = new Array[Int](32)
      var k = 0
      while (k < shingles.length) {
        val s = shingles(k)
        if (seen.add(s)) {
          digest.reset()
          val d = digest.digest(s.getBytes("UTF-8"))
          var j = 0
          while (j < 16) {
            nib(2 * j) = (d(j) >>> 4) & 0xF
            nib(2 * j + 1) = d(j) & 0xF
            j += 1
          }
          var i = 0
          while (i < numHashes) {
            var v = 0L
            var t = 0
            while (t < widths(i)) { v = (v << 4) | nib(4 * i + t); t += 1 }
            if (v < mins(i)) mins(i) = v
            i += 1
          }
        }
        k += 1
      }
      Array.tabulate(numHashes) { i =>
        // a text always has >= 1 shingle (shingleArray), so every
        // family min is a real window value (< 2^32 — sign-safe)
        val hex = java.lang.Long.toHexString(mins(i))
        "0" * (widths(i) - hex.length) + hex
      }
      }
    }
    c => f(c)
  }
}
