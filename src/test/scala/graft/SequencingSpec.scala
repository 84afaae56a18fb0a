package graft

import org.apache.spark.sql.functions._
import graft.operators.Sequencing

/** Pins the Q1 sort-type normalization against the reference's own cases
  * (`/root/reference/test/sequencing-per-shard.test.js:114-209`).
  */
class SequencingSpec extends SparkSpec {

  private def sortedBySortKey(values: Seq[String]): Seq[String] = {
    import spark.implicits._
    values.toDF("v")
      .orderBy(Sequencing.sortKey(col("v")))
      .as[String].collect().toSeq
  }

  test("INTEGER_LIKE parts of mixed magnitude sort numerically " +
    "(reference sequencing-per-shard.test.js:114-128)") {
    // '3000' and '20000000000000000000002' are the SAME sort type:
    // pattern-only classification, no 16-digit threshold.
    val vals = Seq("20000000000000000000002", "3000",
      "30000000000000000000003", "999", "10",
      "49545115243490985018280067714973144582180062593244200961")
    assert(sortedBySortKey(vals) === Seq("10", "999", "3000",
      "20000000000000000000002", "30000000000000000000003",
      "49545115243490985018280067714973144582180062593244200961"))
  }

  test("negative INTEGER_LIKE values keep numeric order (sign + " +
    "nines-complement encoding)") {
    val vals = Seq("5", "-30", "0", "-5", "3000", "-20000000000000000000002")
    assert(sortedBySortKey(vals) ===
      Seq("-20000000000000000000002", "-30", "-5", "0", "5", "3000"))
  }

  test("NUMBER (float) parts sort numerically") {
    val vals = Seq("2.5", "1.1", "3.3", "-1.5", "10.25")
    assert(sortedBySortKey(vals) === Seq("-1.5", "1.1", "2.5", "3.3", "10.25"))
  }

  test("DATE normalizes to midnight-UTC ISO and DATE_TIME sorts by instant " +
    "(reference sequencing-per-shard.test.js:192-209)") {
    val vals = Seq("2017-01-01", "2016-12-30", "2016-12-31")
    assert(sortedBySortKey(vals) ===
      Seq("2016-12-30", "2016-12-31", "2017-01-01"))
    val dts = Seq("2017-01-17T23:59:59.003Z", "2017-01-17T23:59:59.001Z",
      "2017-01-17T23:59:59.002Z")
    assert(sortedBySortKey(dts) === dts.sorted)
  }

  test("STRING parts compare case-sensitively ('zZz' > 'Abc')") {
    val vals = Seq("zZz", "Abc", "aaa")
    assert(sortedBySortKey(vals) === Seq("Abc", "aaa", "zZz"))
  }

  test("per-key chains: one head per key, links consistent") {
    import spark.implicits._
    val df = Seq(
      ("e1", "k1", "3000"), ("e2", "k1", "20000000000000000000002"),
      ("e3", "k2", "5"), ("e4", "k1", "999"), ("e5", "k2", "4")
    ).toDF("event_id", "key", "seq")
    val out = Sequencing.perKey(df, lit("S|0"), Seq(col("key")),
      Seq(Sequencing.sortKey(col("seq"))), col("event_id"))
    val heads = out.filter(col("is_first_to_process")).select("event_id")
      .as[String].collect().toSet
    assert(heads === Set("e4", "e5")) // 999 heads k1; 4 heads k2
    val k1 = out.filter(col("key") === "k1").orderBy("seq_rn")
      .select("event_id").as[String].collect().toSeq
    assert(k1 === Seq("e4", "e1", "e2"))
  }

  test("per-key chains over COMPUTED key and seqNo columns plan exactly " +
      "one shuffle exchange: seq_rn, prev_id and next_id share one " +
      "Window") {
    import spark.implicits._
    val df = Seq(("e1", """{"k":"a","n":2}"""), ("e2", """{"k":"a","n":1}"""),
      ("e3", """{"k":"b","n":1}""")).toDF("event_id", "json")
    val out = Sequencing.perKey(df, lit("S|0"),
      Seq(get_json_object(col("json"), "$.k")),
      Seq(Sequencing.sortKey(get_json_object(col("json"), "$.n"))),
      col("event_id"))
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1,
      s"expected one hash exchange shared by the three window columns:" +
        s"\n$plan")
    val rows = out.orderBy("event_id")
      .select("event_id", "seq_rn", "prev_id", "next_id",
        "is_first_to_process")
      .as[(String, Int, String, String, Boolean)].collect().toSeq
    assert(rows === Seq(("e1", 2, "e2", null, false),
      ("e2", 1, null, "e1", true), ("e3", 1, null, null, true)))
  }
}
