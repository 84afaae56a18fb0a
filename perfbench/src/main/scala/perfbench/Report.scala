package perfbench

import scala.collection.mutable

/** Summaries of one run's samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}

/** Named metrics with units, printed as the run's result object. */
final class Report {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    values(name) = (value, Catalogue.unit(name))
  }

  def get(name: String): Double = values(name)._1

  /** The end-to-end call metrics over one set of calls: their wall
    * seconds and the units of work they finished (records or queries). */
  def putCalls(seconds: Seq[Double], done: Double): Unit = {
    require(seconds.nonEmpty, "no call completed in the window")
    put("call_geomean_s", Stats.geomean(seconds))
    put("throughput_per_s", done / seconds.sum)
  }

  /** Tracing overhead: traced calls' metrics minus untraced calls'. */
  def putOverhead(traced: Report, untraced: Report): Unit = {
    put("trace.overhead_call_geomean_s",
      traced.get("call_geomean_s") - untraced.get("call_geomean_s"))
    put("trace.overhead_throughput_per_s",
      traced.get("throughput_per_s") - untraced.get("throughput_per_s"))
  }

  def json(correct: Boolean, attempted: Long, failed: Long): String = {
    val ms = values.map { case (n, (v, u)) =>
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$ms}}"""
  }
}

/** Outcome of one workload run: timed calls, failures, metrics. */
final case class Outcome(attempted: Long, failed: Long, report: Report)

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) =>
      val js = v match {
        case s: String => str(s)
        case b: Boolean => b.toString
        case n: Int => n.toString
        case n: Long => n.toString
        case d: Double => d.toString
        case other => str(other.toString)
      }
      s"${str(k)}: $js"
    }.mkString("{", ", ", "}")
}
