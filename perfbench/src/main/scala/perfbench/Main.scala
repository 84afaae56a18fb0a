package perfbench

import java.lang.management.ManagementFactory

import graft.GraftSession

/** Runs one workload and prints, as the last stdout line, the result
  * object: the end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`). The line before it records the run's settings.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <scratch dir>
  * }}}
  */
object Main {
  /** Fixed single-thread mixing loop, the same as `graft.Bench`'s
    * `calib`: identical work every call, so its wall time gauges machine
    * load during the run. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 150000000) { x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; i += 1 }
    if (x == 42L) print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** The same loop on every core at once (`graft.Bench`'s `calib_mt`). */
  private def calibrateMt(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val threads = (0 until n).map { t =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0
        while (i < 40000000) { x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; i += 1 }
        if (x == 42L) print("")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU seconds the hypervisor gave to other guests since boot (the
    * steal column of /proc/stat, in USER_HZ = 100 ticks); 0 where there is
    * no such file. A run that sees steal time runs slower. */
  private def stealS(): Double = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toDouble / 100
    finally f.close()
  }.getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val trace = opt("--trace") == "1"
    val work = opt("--work")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val steal0 = stealS()
    var windowStartMs = 0L
    val windowStart = () => windowStartMs = System.currentTimeMillis()

    val spark = GraftSession.local("perfbench")
    val (out, settings) = try {
      val out = workload match {
        case "consumer_small" =>
          Consumer.run(spark, seed, seconds, trace, work, windowStart)
        case "analytics_mix" =>
          Analytics.run(spark, seed, seconds, trace, work, windowStart)
        case other =>
          throw new IllegalArgumentException(s"unknown workload $other")
      }
      val conf = spark.conf
      (out, Seq(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace,
        "spark.master" -> spark.sparkContext.master,
        "cores" -> spark.sparkContext.defaultParallelism,
        "heap_bytes" -> Runtime.getRuntime.maxMemory,
        "aqe" -> conf.get("spark.sql.adaptive.enabled"),
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "commit" -> sys.props.getOrElse("perfbench.commit", "none"),
        "sources" -> sys.props.getOrElse("perfbench.sources", "none")))
    } finally spark.stop()
    val gauges = Seq("steal_s" -> (stealS() - steal0),
      "calib_s" -> calibrate(), "calib_mt_s" -> calibrateMt())

    val rep = new Report
    val own = (if (workload == "analytics_mix") Catalogue.analyticsLayers
      else Catalogue.consumerLayers) ++ Catalogue.traceLayers
    (if (trace) Catalogue.perLayer else Catalogue.endToEnd).foreach {
      case ("setup_s", _) => rep.put("setup_s", (windowStartMs - jvmStartMs) / 1e3)
      case (name, _) if !trace || own.exists(_._1 == name) =>
        rep.put(name, out.report.get(name))
      // a layer this workload never calls
      case (name, _) => rep.put(name, 0.0)
    }
    System.err.println(f"perfbench: done ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s " +
      f"after JVM start, window from ${(windowStartMs - jvmStartMs) / 1e3}%.1f s")
    println(s"""{"settings": ${Json.obj(settings ++ gauges)}}""")
    println(rep.json(correct = out.failed == 0, out.attempted, out.failed))
  }
}
