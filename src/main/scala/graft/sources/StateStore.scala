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
  * reads and writes only the delivered chains). The upsert's anti-join
  * is planned as a sort-merge join, a shuffle on the key columns for
  * each side: the consumer's kept frames carry the pre-execution size
  * estimates of the plans they truncated, which are over the broadcast
  * threshold, so AQE turns it into a broadcast join only after both
  * shuffles have written. In streaming mode this whole module is
  * replaced by checkpointed `GroupState` (see graft.streaming).
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

  /** S2 — load prior state; an absent table is an empty state, not an
    * error (first run / short-circuit empty batch,
    * `test/persisting.test.js:545-603`). */
  def load(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Atomic-enough save for a table that is also the read source of the
    * same job: write to a sibling tmp dir, then swap. (Parquet has no
    * transactional MERGE; a real deployment would use a lakehouse table
    * format — the operator semantics are identical.) */
  def save(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val tmp = new Path(path + ".tmp")
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(dst)) fs.delete(dst, true)
    fs.rename(tmp, dst)
  }
}
