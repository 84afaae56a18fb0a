package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.Batching
import graft.sources.StateStore

class BatchingSpec extends SparkSpec {

  test("partition key truncates to 256 chars and falls back through the chain") {
    import spark.implicits._
    val long = "x" * 300
    val df = Seq(
      ("haveKey", long),
      ("blankKey", "  "),
      ("nullKey", null)
    ).toDF("id", "recordKey")
    val out = df.select(col("id"),
      Batching.partitionKey(col("recordKey"),
        when(col("id") === "nullKey", lit(null).cast("string"))
          .otherwise(lit("K|s|c"))).as("pk"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("haveKey") === "x" * 256)
    assert(out("blankKey") === "K|s|c")
    assert(out("nullKey") === "LAST_RESORT_KEY")
  }

  test("batch key: E|<eventID> mode when batchKeyedOnEventID") {
    import spark.implicits._
    val df = Seq(("shard-1", "ev-9")).toDF("shardId", "eventID")
    val cfgE = graft.model.ConsumerConfig(batchKeyedOnEventID = true)
    val cfgS = graft.model.ConsumerConfig()
    val out = df.select(
      Batching.shardOrEventID(cfgS, col("shardId"), col("eventID")).as("s"),
      Batching.shardOrEventID(cfgE, col("shardId"), col("eventID")).as("e"))
      .collect().head
    assert(out.getString(0) === "S|shard-1")
    assert(out.getString(1) === "E|ev-9")
  }

  test("state store save/load/upsert round-trip (S2/S3)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-state").toString + "/batch_state"
    val v1 = Seq(("K|s|c", "S|0", "a"), ("K|s|c", "S|1", "b"))
      .toDF("streamConsumerId", "shardOrEventID", "payload")
    StateStore.save(v1, dir)
    val loaded = StateStore.load(spark, dir, v1.schema)
    assert(loaded.count() === 2)
    val updates = Seq(("K|s|c", "S|1", "b2"), ("K|s|c", "S|2", "c"))
      .toDF("streamConsumerId", "shardOrEventID", "payload")
    val merged = StateStore.upsert(loaded, updates, Seq("shardOrEventID"))
    StateStore.save(merged, dir) // overwrite the table we just read
    val round = StateStore.load(spark, dir, v1.schema)
      .orderBy("shardOrEventID")
      .select("shardOrEventID", "payload")
      .as[(String, String)].collect().toSeq
    assert(round === Seq(("S|0", "a"), ("S|1", "b2"), ("S|2", "c")))
  }

  test("a save stopped between its renames loads the last committed rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-state-crash").toString
    def table(dir: String, vals: String*): Unit =
      vals.toDF("v").write.parquet(dir)
    def rows(dir: String) = StateStore.load(spark, dir,
      StructType(Seq(StructField("v", StringType)))).as[String]
      .collect().sorted.toSeq
    // stopped after moving the live table aside: the aside copy is the
    // last commit, next to a written tmp dir
    val moved = s"$root/moved/state"
    table(s"$moved.old", "a", "b")
    table(s"$moved.tmp", "a", "b", "c")
    assert(rows(moved) === Seq("a", "b"))
    // stopped after renaming tmp in: the live table is the last commit,
    // next to a stale aside copy
    val renamed = s"$root/renamed/state"
    table(renamed, "a", "b", "c")
    table(s"$renamed.old", "a", "b")
    assert(rows(renamed) === Seq("a", "b", "c"))
    // the next save commits over either layout and leaves no aside copy
    for (dir <- Seq(moved, renamed)) {
      StateStore.save(rows(dir).toDF("v").union(Seq("d").toDF("v")), dir)
      assert(!Files.exists(java.nio.file.Paths.get(s"$dir.old")))
    }
    assert(rows(moved) === Seq("a", "b", "d"))
    assert(rows(renamed) === Seq("a", "b", "c", "d"))
  }

  test("absent state table loads as empty (first run short-circuit)") {
    val df = StateStore.load(spark, "/tmp/does-not-exist-graft-state",
      graft.model.Schemas.batchStateItemSchema)
    assert(df.count() === 0)
  }
}
