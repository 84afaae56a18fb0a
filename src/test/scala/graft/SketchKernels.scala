package graft

/** Compiled reference kernels for the sketch SQL derivations: each
  * re-derives a batch SQL expression of [[graft.operators.Sketches]]
  * in JVM code, so the parity specs check the SQL against an
  * independent implementation value-for-value. */
object SketchKernels {

  private val P = 8
  private val WBits = 60 - P
  private val Top = WBits + 1

  /** EXACTLY the register derivation of Sketches.hllRegisters at p = 8
    * (md5 → first 15 hex = 60 bits → top p register bits,
    * remaining-bit leading-zero rank). */
  def registerAndRho(value: String): (Int, Int) = {
    val h = graft.functions.TextShingles.hash60(value)
    val reg = (h >>> WBits).toInt
    val w = h & ((1L << WBits) - 1)
    val rho = if (w == 0L) Top
      else Top - (64 - java.lang.Long.numberOfLeadingZeros(w))
    (reg, rho)
  }

  /** EXACTLY the cell derivation of Sketches.cmsCell (md5 of
    * "r:cms:key" → first 15 hex = 60 bits → mod w). */
  def cell(r: Int, key: String, w: Int): Long =
    graft.functions.TextShingles.hash60(s"$r:cms:$key") % w

  /** EXACTLY Sketches.hdrBucketSql's bucket index (values < 32 are
    * their own buckets; above, (exponent − 5)·16 + top-5 bits), with
    * numberOfLeadingZeros standing in for the SQL length(bin(v))
    * exponent probe. */
  def bucket(vi: Long): Long =
    if (vi < 32L) vi
    else {
      val len = 64 - java.lang.Long.numberOfLeadingZeros(vi)
      (len - 5).toLong * 16L + (vi >>> (len - 5))
    }

  /** Inclusive lower bound of bucket `b`: small buckets are their own
    * value; a larger bucket b holds the top-5-bit pattern 16 + b%16
    * shifted up by its exponent b/16 - 1. */
  private def floorOf(b: Long): Long =
    if (b < 32L) b else (16L + b % 16L) << (b / 16L - 1L)

  /** EXACTLY Sketches.hdrBucketLoSql's inclusive bucket lower bound. */
  def bucketLo(vi: Long): Long = floorOf(bucket(vi))
}
