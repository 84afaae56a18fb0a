package graft

import org.apache.spark.sql.functions._

import graft.streaming.PolitenessLimiter

/** Pins [[PolitenessLimiter.batchSchedule]], the closed-form prefix-max
  * GCRA schedule, against a sequential driver-side fold of the
  * recurrence it solves. */
class PolitenessLimiterSpec extends SparkSpec {

  private val g = 10000000L // 10 s spacing

  test("batchSchedule equals the per-host fold s_i = max(t_i, s_(i-1) + gap)") {
    import spark.implicits._
    val t0 = 4000000000L
    // two hosts, arrivals straddling the 10 s gap: back-to-back
    // bursts (cascading deferrals), a conforming arrival after a
    // quiet stretch, and an arrival landing exactly on the tat
    val script = Seq(
      ("a.com", "https://a.com/1", t0),
      ("a.com", "https://a.com/2", t0 + 1000),        // defer -> t0+g
      ("a.com", "https://a.com/3", t0 + 2000),        // defer -> t0+2g
      ("a.com", "https://a.com/4", t0 + 3 * g),       // conforming (t >= tat)
      ("a.com", "https://a.com/5", t0 + 4 * g - 1000),// defer by 1 ms
      ("b.net", "https://b.net/1", t0 + 500),
      ("b.net", "https://b.net/2", t0 + 2 * g))       // conforming
    val folded = script.groupBy(_._1).values.flatMap { reqs =>
      reqs.sortBy { case (_, url, t) => (t, url) }
        .foldLeft((Long.MinValue, List.empty[(String, Long)])) {
          case ((prev, out), (_, url, t)) =>
            val slot = if (prev == Long.MinValue) t
              else math.max(t, prev + g)
            (slot, (url -> slot) :: out)
        }._2
    }.toMap
    val batch = PolitenessLimiter.batchSchedule(
        script.toDF("host", "url", "tsUs"),
        gapUs = g, Seq(col("tsUs"), col("url")))
      .select("url", "slot_us").as[(String, Long)]
      .collect().toMap
    assert(folded.size === script.size,
      s"not every request decided: $folded")
    assert(batch === folded,
      s"batch schedule diverged from the GCRA fold:\n" +
        s"fold  $folded\nbatch $batch")
  }
}
