package graft

import org.apache.spark.sql.functions._

class EntrySpec extends SparkSpec {

  test("entry returns >0 rows with sane chain structure") {
    val df = SparkEntry.entry(spark).cache()
    assert(df.count() > 0)
    // every (shard,user) group is one chain: exactly one head, and the
    // chain length equals the message count
    val bad = df.filter(col("heads") =!= 1 || col("chain_len") =!= col("messages"))
    assert(bad.count() === 0)
  }

  test("every declared query has an oracle or is explicitly exempt") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  test("all queries run on sf0.001 and return rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("two registry queries run alternately reuse their compiled " +
      "classes in the second round (generated code is cached for the " +
      "life of the JVM)") {
    def round(): Unit = Seq("cluster_labels", "heaps_law").foreach { q =>
      SparkEntry.queries(q)(spark, sf0001).write.format("noop")
        .mode("overwrite").save()
    }
    round()
    // usually 0; an AQE plan variant (see ConsumerPipelineSpec) may
    // add a few. At Spark's default cache size of 100 this round
    // compiles 71-92.
    val n = compiledDuring(round())
    assert(n <= 8L, s"the second round compiled $n classes")
  }

  test("every bench name resolves to a registered query (a typo would " +
      "silently shrink the bench)") {
    val missing = SparkEntry.benchNames.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"bench names not in the registry: $missing")
    assert(SparkEntry.benchNames.distinct.size ===
      SparkEntry.benchNames.size, "duplicate bench names")
  }

  test("Bench CLI rejects unknown query names before starting a " +
      "session (the silent-shrink failure mode, CLI path)") {
    val e = intercept[IllegalArgumentException] {
      Bench.main(Array("no_such_query_xyz"))
    }
    assert(e.getMessage.contains("no_such_query_xyz"))
    assert(e.getMessage.contains("valid names"))
  }

  test("README count claims match the registry and the test tree " +
      "(drift fails fast instead of shipping stale docs)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val readme = new String(Files.readAllBytes(Paths.get("README.md")),
      "UTF-8")
    def claim(re: String): Int = re.r.findFirstMatchIn(readme) match {
      case Some(m) => m.group(1).toInt
      case None => fail(s"README claim not found: $re")
    }
    assert(claim("""`queries` \((\d+)""") === SparkEntry.queries.size,
      "README query count drifted")
    assert(claim("""`benchQueries` \((\d+) headline""") ===
      SparkEntry.benchQueries.size, "README benchQueries count drifted")
    // suites = *Spec.scala files (minus the SparkSpec base class);
    // tests = `test("` cases across them — the same numbers `sbt test`
    // reports, derived from the sources so a new spec updates them
    val specs = Files.list(Paths.get("src/test/scala/graft")).iterator()
      .asScala.filter(_.getFileName.toString.endsWith("Spec.scala"))
      .filterNot(_.getFileName.toString == "SparkSpec.scala").toSeq
    val tests = specs.map { p =>
      """(?m)^\s+test\(""".r
        .findAllIn(new String(Files.readAllBytes(p), "UTF-8")).length
    }.sum
    assert(claim("""(\d+) ScalaTest suites""") === specs.size,
      "README suite count drifted")
    assert(claim("""suites / (\d+) tests""") === tests,
      "README test count drifted")
  }
}
