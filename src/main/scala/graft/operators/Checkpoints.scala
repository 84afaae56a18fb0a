package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.bridge

/** Lineage truncation for iterative loops (components, star
  * contraction, BFS, pointer doubling) with a configurable
  * DURABILITY strategy (r22, verdict #5 / carried from the r20
  * verdict):
  *
  *  - default: `localCheckpoint` — executor-memory blocks, fast, the
  *    right local-mode and interactive default, but NOT fault
  *    tolerant: losing an executor loses blocks and the whole
  *    iterative job with them (guide §5).
  *  - `graft.checkpoint.reliable = true` (session conf): reliable
  *    `df.checkpoint()` against the SparkContext checkpoint dir —
  *    survives executor loss, the 100 TB mode for multi-hour
  *    iterative jobs. The dir comes from `sc.setCheckpointDir` or,
  *    if unset, the `graft.checkpoint.dir` session conf; missing
  *    both fails fast with a config message rather than deep inside
  *    the loop.
  *
  * Both strategies truncate lineage identically (the returned frame
  * scans a materialized RDD), so plan growth — the reason every
  * iterative operator here checkpoints per round — is controlled the
  * same way in either mode; `CheckpointsSpec` pins result equality
  * and lineage truncation under the reliable strategy.
  *
  * What is kept and what is released: a truncated frame's blocks (and,
  * in reliable mode, its `rdd-*` checkpoint directory) stay until
  * [[release]]d — Spark's cleaner does not delete checkpoint files by
  * default. A loop that has materialized round N's successor releases
  * round N, so `Dedup.connectedComponents` leaves only its edge frame
  * and the returned labels on disk, and star contraction only its
  * final edge set. The BFS/redirect loops in `WebQueries` chain lazy
  * checkpoints with no action between rounds: nothing materializes a
  * round's successor before the query's own action, so no round can be
  * released early there and their directories stay until the
  * checkpoint dir is cleaned. */
object Checkpoints {

  def truncate(df: DataFrame, eager: Boolean = true): DataFrame = {
    val s = df.sparkSession
    if (s.conf.get("graft.checkpoint.reliable", "false").toBoolean) {
      val sc = s.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val dir = s.conf.getOption("graft.checkpoint.dir").getOrElse(
          throw new IllegalStateException(
            "graft.checkpoint.reliable=true needs a checkpoint dir: " +
              "call sparkContext.setCheckpointDir or set " +
              "graft.checkpoint.dir"))
        sc.setCheckpointDir(dir)
      }
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)
  }

  /** Releases a [[truncate]]d frame its successor no longer reads:
    * unpersists the RDD it scans (a local checkpoint's blocks) and, in
    * reliable mode, deletes its checkpoint directory (nothing to delete
    * if it was never materialized). */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach { rdd =>
      bridge.unpersistQuietly(rdd)
      rdd.getCheckpointFile.foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
}
