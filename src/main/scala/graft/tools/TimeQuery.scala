package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

import graft.{GraftSession, SparkEntry}

/** Times one registered query for N passes on SPARK_GRAFT_SF_DIR with
  * the engine session — the isolation harness for "Bench says X,
  * elsewhere says Y" discrepancies (no warmups, no other queries, no
  * cache clearing: just the query under the engine config).
  *
  * `-full` materializes the plan's OWN output rows
  * (`queryExecution.toRdd.count()`) instead of `df.count()`: a count
  * aggregate lets the optimizer elide final sorts AND — via
  * duplicate-agnostic outer-join elimination — entire subtrees behind
  * a left join to a unique-keyed aggregate (r15 finding: Bench's
  * dedup_span_trim / decontaminate / dup_span_report numbers measure
  * only their surviving scan side; see Bench's scaladoc). `-full` is
  * the truth instrument for those shapes.
  *
  * Each pass also prints the classes it compiled (the JVM-wide
  * `CodegenMetrics` compile count): a warm pass compiles 0, so a
  * non-zero count on every pass names a query whose generated source
  * changes between runs. */
object TimeQuery {
  def main(rawArgs: Array[String]): Unit = {
    val full = rawArgs.contains("-full")
    val args = rawArgs.filterNot(_ == "-full")
    if (args.isEmpty) {
      System.err.println("usage: TimeQuery [-full] <query-name> [passes]\n" +
        "registered queries:\n  " +
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val name = args(0)
    val passes = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val fn = SparkEntry.queries.getOrElse(name, {
      val near = SparkEntry.queries.keys.toSeq
        .filter(k => k.contains(name) || name.contains(k.take(5)))
      System.err.println(s"unknown query '$name'" +
        (if (near.nonEmpty) s" — did you mean: ${near.sorted.mkString(", ")}?"
         else "") + "\nrun with no args to list all registered names")
      sys.exit(2)
      throw new IllegalStateException("unreachable")
    })
    val spark = GraftSession.local("graft-time")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    (1 to passes).foreach { i =>
      val c0 = compiles.getCount
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = if (full) df.queryExecution.toRdd.count() else df.count()
      val mode = if (full) " (full)" else ""
      println(f"[timequery] $name$mode pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows, ${compiles.getCount - c0} classes compiled)")
    }
    spark.stop()
  }
}
