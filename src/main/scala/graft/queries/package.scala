package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.sources.Tables

package object queries {
  /** A named query over one scale-factor directory. */
  type Q = (SparkSession, String) => DataFrame

  /** Oracle-parity helpers: double aggregations are made bitwise-stable
    * across engines and execution orders by summing exact decimals and
    * casting the exact result back to double. A plain `sum(double)` is
    * order-dependent and would hash-mismatch the DuckDB oracle.
    */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  def decSum(c: Column): Column = sum(dec(c)).cast("double")

  /** Exact average: decimal sum / count, evaluated in double at the end. */
  def decAvg(c: Column): Column =
    (sum(dec(c)).cast("double") / count(c)).cast("double")

  /** Id offset of the planted copies in the dedup family's fixtures.
    * Base ids stay below it and ScaleUp shifts are multiples of it, so
    * `id % CopyShift` recovers a copy's original (asserted where a
    * query relies on it). The oracle SQL embeds the same literal. */
  val CopyShift = 1000000L

  /** `df` with its `id` column shifted by [[CopyShift]], every other
    * column in place. */
  def shifted(df: DataFrame, id: String): DataFrame =
    df.select(df.columns.map(c =>
      if (c == id) (col(c) + CopyShift).as(c) else col(c)): _*)

  /** `id` and `cols` of `df` plus an id-shifted copy of the same rows
    * (planted exact duplicates, or an append batch). */
  def withCopy(df: DataFrame, id: String, cols: String*): DataFrame = {
    val base = df.select((id +: cols).map(col): _*)
    base.unionByName(shifted(base, id))
  }

  /** documents `(doc_id, text)` ∪ its id-shifted copy: planted
    * duplicates give the dedup operators ground truth to find (the raw
    * corpus has no duplicate texts). */
  def withCopies(s: SparkSession, dir: String): DataFrame =
    withCopy(Tables.documents(s, dir), "doc_id", "text")

  /** `d` plus an id-shifted re-crawl of its modulo-selected 40% tail
    * (`doc_id % 5 >= 3`: SF-invariant, no size probe). */
  def withRecrawl(d: DataFrame): DataFrame =
    d.unionByName(shifted(d.filter(pmod(col("doc_id"), lit(5)) >= lit(3)),
      "doc_id"))

  /** Every 3rd doc of `d` as its first-half-words excerpt under a
    * shifted id: `(doc_id, text)` followed by `extra`. */
  def excerpts(d: DataFrame, extra: Column*): DataFrame =
    d.filter(pmod(col("doc_id"), lit(3)) === 0)
      .withColumn("toks", TextAnalysis.tokens(lower(col("text"))))
      .select(Seq((col("doc_id") + CopyShift).as("doc_id"),
        array_join(expr("slice(toks, 1, " +
          "greatest(cast(size(toks) div 2 as int), 1))"), " ")
          .as("text")) ++ extra: _*)

  /** PROCESS-SCOPED artifact root for query-side at-rest layouts
    * (IVF/PQ exports, LSH index, corpus write-read). r13 flagged the
    * old bare `/tmp/graft_*_<sf>` names: deterministic rewrites make
    * them safe single-process, but two concurrent processes at the
    * same SF would race each other's overwrites. Scoping by pid
    * removes the foot-gun; `GRAFT_TMP_ROOT` overrides for a shared
    * cache when the operator wants one. The generated ORACLE SQL
    * embeds these paths at dump time from the same process that wrote
    * the artifacts, so reader and writer always agree.
    *
    * Cleanup (r14 ADVICE): pid-scoping would otherwise accumulate one
    * dead tree per bench/verify run. A shutdown hook can NOT delete
    * our own root — the driver replays the dumped oracle SQL in DuckDB
    * AFTER this JVM exits, reading these very paths — so instead, on
    * first use each process sweeps `/tmp/graft_<pid>` trees whose
    * owning pid is no longer alive (best-effort; at most one dead tree
    * survives until the next run initializes). */
  lazy val artifactRoot: String =
    sys.env.getOrElse("GRAFT_TMP_ROOT", {
      sweepDeadArtifactRoots()
      s"/tmp/graft_${java.lang.ProcessHandle.current().pid()}"
    })

  /** `<artifactRoot>/<name>_<sf>.parquet`, `<sf>` being the last path
    * element of the table directory `dir`: one at-rest artifact per
    * scale factor, so runs at two SFs never overwrite each other's. */
  def artifactPath(name: String, dir: String): String =
    s"$artifactRoot/${name}_${new java.io.File(dir).getName}.parquet"

  /** Age-guarded (r15 ADVICE): the oracle replay reads a dead pid's
    * tree in the window between Verify's exit and check_oracle.py's
    * run, and pid reuse can keep a dead tree "alive" — so only trees
    * untouched for > 6 h are swept. A pending replay runs within
    * minutes of the writing JVM's exit; 6 h-stale trees are orphans. */
  private def sweepDeadArtifactRoots(): Unit = {
    val self = java.lang.ProcessHandle.current().pid()
    val minAgeMs = 6L * 3600 * 1000
    val now = System.currentTimeMillis()
    val re = "graft_(\\d+)".r
    val kids = new java.io.File("/tmp").listFiles()
    if (kids != null) kids.foreach { f =>
      f.getName match {
        case re(p) if p.toLong != self &&
            !java.lang.ProcessHandle.of(p.toLong).isPresent &&
            now - f.lastModified() > minAgeMs =>
          deleteRecursively(f)
        case _ => ()
      }
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRecursively)
    f.delete(); ()
  }
}
