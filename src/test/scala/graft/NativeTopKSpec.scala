package graft

import org.apache.spark.sql.functions._

import graft.operators.TopK

/** Pins the native top-k plan node ([[graft.plans.TopKPerGroupExec]]):
  * result-identical to the declarative window form on multi-partition
  * data, and the physical plan actually shows the partial/final pair
  * around a Catalyst-planned exchange (the whole point — bounded
  * selection BEFORE the shuffle). */
class NativeTopKSpec extends SparkSpec {

  test("native node matches the window form row-for-row") {
    import spark.implicits._
    val df = spark.range(10000).select(
        pmod(col("id"), lit(7)).as("g"), col("id").as("i"),
        pmod(col("id") * 2654435761L, lit(1000003L)).cast("double").as("s"))
      .repartition(8)

    val native = TopK.perGroup(df, "g", "i", "s", k = 5)
      .select("g", "i", "s", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("s").desc, col("i"))
    val windowed = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("g", "i", "s", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))

    assert(native.length === 35) // 7 groups × k=5
    assert(native.toSeq === windowed.toSeq)
  }

  test("property: random data with score ties matches the window form " +
      "across k and partition counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // (n, groups, k, parts); the last round's k exceeds every group, so
    // each group must come back whole
    val rounds = Seq.fill(4)((500 + rnd.nextInt(1500), 1 + rnd.nextInt(9),
      1 + rnd.nextInt(7), 1 + rnd.nextInt(12))) :+ ((60, 7, 61, 5))
    rounds.zipWithIndex.foreach { case ((n, groups, k, parts), round) =>
      // coarse values force ties; the id tiebreak must resolve them
      // identically in the heap and in the window. Value 0 draws 0.0 or
      // -0.0 and value 1 one of two NaN bit patterns: NaN sorts above
      // every number, -0.0 ties with 0.0, and each pair is one group
      // key, in the node as in the window.
      def draw(bound: Int): Double = rnd.nextInt(bound) match {
        case 0 => if (rnd.nextBoolean()) 0.0 else -0.0
        case 1 => if (rnd.nextBoolean()) Double.NaN
          else java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
        case x => x.toDouble
      }
      val rows = (0 until n).map(i => (draw(groups), i.toLong, draw(20)))
      val df = rows.toDF("g", "i", "s").repartition(parts)
      // doubles compare by their bits: NaN != NaN in tuple equality
      def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
      def rowsOf(out: org.apache.spark.sql.DataFrame) =
        out.select("g", "i", "s", "rank")
          .as[(Double, Long, Double, Int)].collect()
          .map { case (g, i, s, r) => (bits(g), i, bits(s), r) }.toSet

      val native = rowsOf(TopK.perGroup(df, "g", "i", "s", k))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("s").desc, col("i"))
      val windowed = rowsOf(df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k))
      val tag = s"round $round: n=$n groups=$groups k=$k parts=$parts"
      assert(native === windowed, tag)
      if (k > n) assert(native.size === n, tag)
    }
  }

  test("arbitrary input types: string group key and integer score " +
      "pass through uncast") {
    import spark.implicits._
    val rows = Seq(
      ("alpha", 1L, 30), ("alpha", 2L, 50), ("alpha", 3L, 50),
      ("alpha", 4L, 10), ("beta", 5L, 7), ("beta", 6L, 9))
    val df = rows.toDF("src", "id", "score").repartition(5)

    val got = TopK.perGroup(df, "src", "id", "score", k = 2)
    // output schema keeps the INPUT types — no silent long/double cast
    assert(got.schema("src").dataType.typeName === "string")
    assert(got.schema("score").dataType.typeName === "integer")
    val rs = got.select("src", "id", "score", "rank")
      .as[(String, Long, Int, Int)].collect().toSet
    assert(rs === Set(
      ("alpha", 2L, 50, 1), ("alpha", 3L, 50, 2),
      ("beta", 6L, 9, 1), ("beta", 5L, 7, 2)))
  }

  test("physical plan contains partial and final TopKPerGroup around " +
      "an exchange") {
    import spark.implicits._
    val df = spark.range(100).select(
      pmod(col("id"), lit(3)).as("g"), col("id").as("i"),
      col("id").cast("double").as("s")).repartition(4)
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out) {
      TopK.perGroup(df, "g", "i", "s", k = 2).explain()
    }
    val plan = out.toString
    assert(plan.contains("TopKPerGroup(partial=true, k=2)"))
    assert(plan.contains("TopKPerGroup(partial=false, k=2)"))
    assert(plan.toLowerCase.contains("exchange hashpartitioning"))
  }
}
