package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Pins the Count-Min cell derivation of [[Sketches.cmsCell]] against
  * the compiled [[SketchKernels.cell]]. The suite keeps the name of
  * the streaming CMS operator whose kernel this pin first checked; the
  * operator is gone, the batch derivation it mirrored stays. */
class StreamingCmsSpec extends SparkSpec {

  private def corpusKeys: Seq[String] =
    (1 to 2000).map(i => s"url-${i % 97}-${(i * 7919) % 31}")

  test("compiled cell() equals Sketches.cmsCell's SQL derivation " +
      "for every (row, key) pair (same md5 text, same 60-bit slice, " +
      "same modulus)") {
    import spark.implicits._
    val df = corpusKeys.distinct.toDF("key")
      .select(col("key"), explode(sequence(lit(0), lit(2))).as("r"))
    val sql = df
      .withColumn("c", Sketches.cmsCell(col("r"), col("key"), 256))
      .collect()
      .map(x => (x.getAs[String]("key"), x.getAs[Int]("r")) ->
        x.getAs[Long]("c")).toMap
    sql.keys.foreach { case (key, r) =>
      assert(SketchKernels.cell(r, key, 256) === sql((key, r)),
        s"cell diverged for r=$r key='$key'")
    }
  }
}
