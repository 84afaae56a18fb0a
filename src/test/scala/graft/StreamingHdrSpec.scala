package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Pins the HDR bucket and lower-bound derivations of
  * [[Sketches.hdrBucketSql]] / [[Sketches.hdrBucketLoSql]] against the
  * compiled [[SketchKernels.bucket]] / [[SketchKernels.bucketLo]] (a
  * leading-zero count vs the SQL length(bin(v)) probe). The suite
  * keeps the name of the streaming histogram operator whose kernel
  * this pin first checked; the operator is gone, the batch derivation
  * it mirrored stays. */
class StreamingHdrSpec extends SparkSpec {

  // spans the exact small-bucket regime (< 32), the boundary, and
  // several exponent decades up to > 2^40
  private def corpusValues: Seq[Long] =
    (0L to 40L) ++ (1 to 1500).map(i =>
      (i.toLong * 7919L * (1L << (i % 28))) % (1L << 44))

  test("compiled bucket()/bucketLo() equal Sketches.hdrBucketSql / " +
      "hdrBucketLoSql for every corpus value") {
    import spark.implicits._
    val rows = corpusValues.distinct.toDF("vi")
      .withColumn("bucket", expr(Sketches.hdrBucketSql("vi")))
      .withColumn("lo", expr(Sketches.hdrBucketLoSql("vi")))
      .collect()
    rows.foreach { r =>
      val vi = r.getAs[Long]("vi")
      assert(SketchKernels.bucket(vi) === r.getAs[Long]("bucket"),
        s"bucket diverged for $vi")
      assert(SketchKernels.bucketLo(vi) === r.getAs[Long]("lo"),
        s"bucketLo diverged for $vi")
    }
  }
}
