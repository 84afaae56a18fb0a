package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Pins the HLL register derivation of [[Sketches.hllRegisters]]
  * against the compiled [[SketchKernels.registerAndRho]]. The suite
  * keeps the name of the streaming distinct-count operator whose
  * kernel this pin first checked; the operator is gone, the batch
  * derivation it mirrored stays. */
class StreamingDistinctSpec extends SparkSpec {

  private def corpusValues: Seq[String] =
    (1 to 3000).map(i => s"value-$i-${i * 7919}")

  test("compiled registerAndRho equals Sketches.hllRegisters' SQL " +
      "derivation for every corpus value (same md5, same 60-bit " +
      "slice, same rank)") {
    import spark.implicits._
    val df = corpusValues.toDF("v")
    // key = the value itself → one (register, m) row per value, no
    // max-merging: the per-value derivation laid bare
    val sql = Sketches.hllRegisters(df, col("v"), col("v"), 8)
      .collect().map(r => r.getAs[String]("key") ->
        (r.getAs[Long]("register").toInt, r.getAs[Int]("m"))).toMap
    corpusValues.foreach { v =>
      assert(SketchKernels.registerAndRho(v) === sql(v),
        s"register/rho diverged for '$v'")
    }
  }
}
