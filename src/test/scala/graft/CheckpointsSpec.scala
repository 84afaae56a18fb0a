package graft

import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Dedup}

/** Reliable-checkpoint mode (r22 verdict #5): with
  * `graft.checkpoint.reliable = true` + a checkpoint dir, every
  * iterative truncation point runs `df.checkpoint()` instead of
  * `localCheckpoint()` — identical results, same lineage truncation,
  * but the materialized rounds survive executor loss (the 100 TB
  * mode for components / BFS). */
class CheckpointsSpec extends SparkSpec {

  private def withReliable[A](body: => A): A = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    spark.conf.set("graft.checkpoint.reliable", "true")
    spark.conf.set("graft.checkpoint.dir", dir)
    try body
    finally {
      spark.conf.unset("graft.checkpoint.reliable")
      spark.conf.unset("graft.checkpoint.dir")
    }
  }

  // FIRST in the suite: sc.setCheckpointDir is sticky on the shared
  // context, so this is only testable before any reliable-mode use
  test("reliable mode without a checkpoint dir fails fast with the " +
      "config message, not deep inside a loop") {
    import spark.implicits._
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      val e = intercept[IllegalStateException] {
        Checkpoints.truncate(Seq((1L, 2L)).toDF("a", "b"))
      }
      assert(e.getMessage.contains("graft.checkpoint.dir"))
    } finally spark.conf.unset("graft.checkpoint.reliable")
  }

  test("truncate(reliable) == truncate(local): same rows, and the " +
      "returned frame's plan is a truncated RDD scan in BOTH modes") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i % 7)).toDF("a", "b")
    val local = Checkpoints.truncate(df)
    val localPlan = local.queryExecution.executedPlan.toString
    assert(localPlan.contains("ExistingRDD"),
      s"local truncate did not cut lineage:\n$localPlan")
    withReliable {
      val rel = Checkpoints.truncate(df)
      val relPlan = rel.queryExecution.executedPlan.toString
      assert(relPlan.contains("ExistingRDD"),
        s"reliable truncate did not cut lineage:\n$relPlan")
      assert(rel.orderBy("a").collect().toSeq ===
        local.orderBy("a").collect().toSeq)
    }
  }

  test("connectedComponents under the reliable strategy returns the " +
      "identical clustering (chain + triangle + isolated-pair graph)") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),      // chain
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (20L, 21L)                          // pair
    ).toDF("a", "b")
    val expected = Dedup
      .connectedComponents(pairs, col("a"), col("b"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = withReliable {
      Dedup.connectedComponents(pairs, col("a"), col("b"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(got.toSeq === expected.toSeq)
  }

  test("reliable mode releases superseded propagation rounds: a chain " +
      "leaves only the edge frame's and the returned labels' rdd-* dirs") {
    import spark.implicits._
    def rddDirs(): Set[String] =
      spark.sparkContext.getCheckpointDir.toSeq.flatMap { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) Nil
        else fs.listStatus(p).map(_.getPath.getName)
          .filter(_.startsWith("rdd-")).toSeq
      }.toSet
    // chain 1-…-7: the min label walks one hop per round, so labels
    // take 6 propagation rounds (inside the budget before the star
    // contraction fallback)
    val chain = (1L to 6L).map(i => (i, i + 1)).toDF("a", "b")
    withReliable {
      val before = rddDirs()
      val out = Dedup.connectedComponents(chain, col("a"), col("b"))
      assert(out.as[(Long, Long)].collect().toMap ===
        (1L to 7L).map(_ -> 1L).toMap)
      assert((rddDirs() -- before).size === 2)
    }
  }

  test("release frees a local checkpoint's blocks: the persistent-RDD " +
      "count returns to its value before truncate") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val t = Checkpoints.truncate(spark.range(10).toDF())
    val id = t.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.get
    assert(sc.getPersistentRDDs.contains(id))
    Checkpoints.release(t)
    assert(!sc.getPersistentRDDs.contains(id))
    assert(sc.getPersistentRDDs.size === before)
  }

  test("crawl_depth_bfs and redirect_resolve are hash-identical " +
      "under the reliable strategy at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    Seq("crawl_depth_bfs", "redirect_resolve").foreach { name =>
      val base = SparkEntry.queries(name)(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      val rel = withReliable {
        SparkEntry.queries(name)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
      }
      assert(rel === base, s"$name diverged under reliable checkpoints")
    }
  }
}
