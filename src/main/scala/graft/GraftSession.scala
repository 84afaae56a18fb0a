package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Defaults are tuned for correctness-at-scale rather than local toy runs:
  * AQE on (runtime re-planning, skew-join splitting, shuffle coalescing),
  * UTC session time zone (oracle parity), shuffle partitions sized to the
  * local core count (overridden to cluster size in a real deployment).
  *
  * Compiled code is kept for the life of the JVM. Spark's generated-code
  * cache is JVM-wide, least-recently-used, sized once (when the JVM
  * first generates code) and holds 100 classes by default. One consumer
  * delivery cycle and one pass over a dozen registry queries each use
  * more than 100, so at 100 every class was evicted before its next use
  * and almost every call recompiled with Janino: 74–95 classes per warm
  * delivery, ~440 per analytics pass. On a 4-vCPU VM that put the
  * perfbench analytics_mix per-call geomean at 1.09 s instead of 0.74 s
  * and consumer_small's at 3.7 s instead of 3.0 s (medians of 5 and 3
  * runs). Measured with a cache that never evicts, one full perfbench run
  * compiles 131 distinct classes for consumer_small and 412 for
  * analytics_mix (120 and 352 with the stage id kept out of the class
  * name, below); 2000 is a round value above twice their sum, for a JVM
  * that both consumes and queries. Metaspace used at the end of an
  * analytics_mix run is the same at 100 and at 2000 (~180 MB): evicted
  * classes stay loaded until their loader is collected anyway.
  *
  * Whole-stage classes are named without their codegen stage id. AQE
  * numbers stages in the order it plans them, and the order in which
  * independent branches finish varies, so the same pipeline got a
  * different id, hence different source and a fresh compile: up to ~20
  * classes on a warm session_stats or kmv_pair_overlap run. The id
  * still shows in the plan and in a comment in the generated source.
  *
  * Both are plain Spark settings; a deployment can override them with
  * standard Spark conf like every other default here.
  */
object GraftSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.ts is parquet TIMESTAMP(NANOS): read as epoch-nano long
      // (exact — no truncation) instead of failing the scan.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // static: must be set before the first session in the JVM
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // keep the whole-stage stage id out of the generated source
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Local session for tests / ad-hoc runs, with the engine's SQL
    * functions registered. */
  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).master(s"local[$cpus]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s) // getOrCreate may return a pre-built session
    s
  }
}
