package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch-mode batch-state persistence (SURVEY §2.1 S2/S3): the
  * reference's DynamoDB item per `(streamConsumerId, shardOrEventID)`
  * becomes a keyed parquet table with MERGE-style upsert.
  *
  * Reference behavior: load `/root/reference/test/persisting.test.js:1138-1298`,
  * save with conditional-put fallback `test/persisting.test.js:605-707`.
  * The put→update fallback (optimistic concurrency) is subsumed by the
  * upsert: last write for a key wins atomically within the job.
  *
  * Scale notes: the consumer's table holds one row per task node of
  * every message ever seen, plus one marker per unusable record or
  * rejected message and one row per processAll group. Nothing deletes a
  * row, so a delivery loads and rewrites all of history (ROADMAP item 1
  * reads and writes only the delivered chains). The consumer does not
  * call [[upsert]]: its chain fold already groups each chain's prior
  * rows with the chain's updates and merges them there
  * (`ConsumerPipeline.foldChain`), so its save runs no join. In
  * streaming mode this whole module is replaced by checkpointed
  * `GroupState` (see graft.streaming).
  */
object StateStore {

  /** S3 — MERGE: rows of `updates` replace same-key rows of `existing`;
    * unmatched existing rows survive. The update keys are not
    * de-duplicated first: a left-anti join's output does not depend on
    * how often a key repeats on the right, so a `distinct()` there is
    * only an extra shuffle. */
  def upsert(existing: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame =
    existing.join(updates.select(keys.map(updates(_)): _*), keys, "left_anti")
      .unionByName(updates)

  /** The last committed table while [[save]] swaps a new one in. */
  private def aside(path: String) = new Path(path + ".old")

  /** S2 — load prior state; an absent table is an empty state, not an
    * error (first run / short-circuit empty batch,
    * `test/persisting.test.js:545-603`). A save that stopped after moving
    * the live table aside left it at the aside path, which is read
    * instead. */
  def load(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(p, aside(path)).find(fs.exists) match {
      case Some(q) => spark.read.schema(schema).parquet(q.toString)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** Save for a table that is also the read source of the same job:
    * write to a sibling tmp dir, move the live table aside, rename the
    * tmp dir in, then delete the aside copy. A stop between any two steps
    * leaves the last committed table readable by [[load]], live or
    * aside. (Parquet has no transactional MERGE; a real deployment would
    * use a lakehouse table format — the operator semantics are
    * identical.) */
  def save(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val tmp = new Path(path + ".tmp")
    val dst = new Path(path)
    val old = aside(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(tmp.toString)
    // With a live table, an aside copy is stale: clear it so the rename
    // does not move the live table into it.
    if (fs.exists(dst)) {
      fs.delete(old, true)
      fs.rename(dst, old)
    }
    fs.rename(tmp, dst)
    fs.delete(old, true)
  }
}
