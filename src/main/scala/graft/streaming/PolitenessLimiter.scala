package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-host POLITENESS schedule for a crawl plan: a crawler must SPACE
  * its fetches against any one host (robots crawl-delay etiquette),
  * whatever mix of URLs the frontier releases.
  *
  * The schedule is a token bucket in GCRA form (the virtual-scheduling
  * variant of the leaky bucket, Turner's algorithm from ATM traffic
  * shaping) with burst = 1: per host, request i at event time t_i goes
  * out at s_i = max(t_i, s_(i-1) + gap), so fetches to one host land at
  * least `gap` apart and a request that arrives after the host's last
  * slot plus `gap` goes out at once.
  */
object PolitenessLimiter {

  /** The crawl PLAN auditor ("given this request log, when would each
    * fetch go out, and how long would it wait?"). The GCRA recurrence
    * s_i = max(t_i, s_(i-1) + gap) has the CLOSED FORM
    * s_i = gap·i + max_(j ≤ i)(t_j − gap·j), so the whole schedule is
    * one per-host cumulative-max window — exact integer arithmetic,
    * SQL-expressible, hence ORACLE-CHECKABLE; PolitenessLimiterSpec
    * pins it equal to a sequential fold of the recurrence
    * decision-for-decision. burst > 1 has no such prefix-max form (the
    * tolerance couples into the max), so the schedule fixes burst = 1,
    * the common crawl-etiquette setting.
    *
    * `reqs` must carry `host`, `tsUs`, and the `orderCols` that make
    * the per-host order total (ties would make the schedule
    * nondeterministic). Adds `slot_us` (the fetch instant), `wait_us`
    * and `deferred`. Scale shape: one hash exchange on host + a
    * per-host ordered window — no corpus-global window, and hosts
    * are the natural parallelism unit. */
  def batchSchedule(reqs: org.apache.spark.sql.DataFrame, gapUs: Long,
      orderCols: Seq[Column]): org.apache.spark.sql.DataFrame = {
    require(gapUs >= 1000, s"gapUs must be >= 1000 (1 ms), got $gapUs")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("host").orderBy(orderCols: _*)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    reqs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("slot_us",
        lit(gapUs) * col("rn") +
          max(col("tsUs") - lit(gapUs) * col("rn")).over(cum))
      .withColumn("wait_us", col("slot_us") - col("tsUs"))
      .withColumn("deferred", col("wait_us") > 0L)
      .drop("rn")
  }
}
