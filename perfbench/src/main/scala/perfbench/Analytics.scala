package perfbench

import java.math.MathContext
import java.security.MessageDigest
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The tables analytics_mix reads, in the schema of the engine's test
  * data and with the row counts and key cardinalities of its sf0.01
  * fixture: 500 documents of 10–99 words from a 30-word vocabulary in 5
  * languages and 20 sources; 10,000 events over 150 users, 5 event types
  * and 30 days; 60,000 lineitem rows over 15,000 orders, 2,000 parts and
  * 100 suppliers. The data is fixed (its own seed), so the expected
  * query outputs kept in `analytics_mix.expected` hold for every run;
  * the run's seed orders the queries within each pass. */
object DataGen {
  val DataSeed = 42L
  private val words = ("fast spark line small customer group key agg scan " +
    "slow table part a merge window order column join vector row the " +
    "query stream value hash batch sort data big filter dup").split(" ")

  private def ts(s: String) = Timestamp.valueOf(s).getTime

  def write(spark: SparkSession, dir: String): Unit = {
    val rnd = new Random(DataSeed)
    def table(name: String, fields: Seq[(String, DataType)],
        rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava,
          StructType(fields.map { case (n, t) => StructField(n, t) }))
        .coalesce(1).write.parquet(s"$dir/$name.parquet")
    def money(max: Double) = math.round(rnd.nextDouble() * max * 100) / 100.0
    def day(from: String, days: Int) =
      new Timestamp(ts(from) + rnd.nextInt(days) * 86400000L)

    val langs = Seq("en", "en", "en", "zh", "de", "es", "fr")
    table("documents", Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until 500).map { i =>
        val text = Seq.fill(10 + rnd.nextInt(90))(words(rnd.nextInt(words.length)))
          .mkString(" ")
        Row(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}",
          text.length.toLong)
      })

    val t0 = ts("2024-01-01 00:00:00")
    val types = Seq("view", "click", "purchase", "signup", "error")
    val nEvents = 10000
    val times = Seq.fill(nEvents)(
      (rnd.nextDouble() * 30 * 86400e6).toLong).sorted
    table("events", Seq("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      times.zipWithIndex.map { case (us, i) =>
        val t = new Timestamp(t0 + us / 1000)
        t.setNanos((us % 1000000L).toInt * 1000)
        Row(i.toLong, t, rnd.nextInt(150).toLong,
          types(rnd.nextInt(types.size)), money(490),
          s"""{"k": ${rnd.nextInt(100)}}""")
      })

    table("lineitem", Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType),
      (0 until 60000).map(_ => Row(rnd.nextInt(15000).toLong,
        rnd.nextInt(2000).toLong, rnd.nextInt(100).toLong, 1 + rnd.nextInt(7),
        (1 + rnd.nextInt(50)).toDouble, money(100000),
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)),
        day("1995-01-01 00:00:00", 2500))))
  }
}

/** One query execution. */
final case class Exec(query: String, seconds: Double,
    threw: Boolean, work: Option[Work])

object Analytics {
  private val fns = Catalogue.queries.map(n => n -> SparkEntry.queries(n)).toMap

  /** Materializes every output row without `count()`'s column pruning. */
  private def execute(spark: SparkSession, dir: String, name: String): Unit =
    fns(name)(spark, dir).write.format("noop").mode("overwrite").save()

  private def pass(spark: SparkSession, dir: String, order: Seq[String],
      trace: Boolean): Seq[Exec] = {
    spark.catalog.clearCache()
    // a traced pass runs each query with and without the listener, in
    // alternating order, so warming cancels out of the overhead
    order.zipWithIndex.flatMap { case (q, j) =>
      val modes = if (!trace) Seq(false) else Seq(j % 2 == 1, j % 2 == 0)
      modes.map { t =>
        val r = Try(Meter.measure(spark.sparkContext, t)(execute(spark, dir, q)))
        r.failed.foreach(e => System.err.println(s"perfbench: $q threw: $e"))
        Exec(q, r.map(_._2).getOrElse(0.0), r.isFailure, r.toOption.flatMap(_._3))
      }
    }
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
      work: String, windowStart: () => Unit): Outcome = {
    val dir = s"$work/data"
    DataGen.write(spark, dir)

    // Warm-up: one pass that collects and checks every query. Later
    // passes still get faster, but the budget pays for one.
    val w0 = System.nanoTime()
    spark.catalog.clearCache()
    val bad = check(spark, dir)
    System.err.println(f"perfbench: warm-up ${(System.nanoTime() - w0) / 1e9}%.1f s")

    val rnd = new Random(seed)
    val execs = mutable.ArrayBuffer.empty[Exec]
    windowStart()
    val t0 = System.nanoTime()
    // whole passes, so every run measures the same mix
    while ((System.nanoTime() - t0) / 1e9 < seconds || execs.isEmpty)
      execs ++= pass(spark, dir, rnd.shuffle(Catalogue.queries), trace)

    val failed = execs.count(e => e.threw || bad(e.query))
    val rep = summary(new Report, execs.filter(_.work.isEmpty).toSeq)
    if (trace) {
      val traced = execs.filter(_.work.isDefined).toSeq
      rep.putOverhead(summary(new Report, traced), rep)
      val byQuery = traced.filterNot(_.threw).groupBy(_.query)
      def per(q: String)(f: Exec => Double): Double =
        Stats.mean(byQuery.getOrElse(q, Nil).map(f))
      def time(q: String) = Stats.median(byQuery(q).map(_.seconds))
      Catalogue.families.foreach { case (f, qs) =>
        rep.put(s"$f.time_s", qs.map(time).sum)
        rep.put(s"$f.jobs", qs.map(per(_)(_.work.get.jobs.toDouble)).sum)
        rep.put(s"$f.shuffle_write_bytes",
          qs.map(per(_)(_.work.get.shuffleWriteBytes.toDouble)).sum)
        rep.put(s"$f.spill_bytes",
          qs.map(per(_)(_.work.get.spillBytes.toDouble)).sum)
        rep.put(s"$f.executor_run_s",
          qs.map(per(_)(_.work.get.executorRunS)).sum)
        qs.foreach { q =>
          rep.put(s"q.$q.time_s", time(q))
          rep.put(s"q.$q.jobs", per(q)(_.work.get.jobs.toDouble))
        }
      }
    }
    Outcome(execs.size, failed, rep)
  }

  private def summary(rep: Report, execs: Seq[Exec]): Report = {
    val ok = execs.filterNot(_.threw)
    rep.putCalls(ok.map(_.seconds), ok.size.toDouble)
    rep
  }

  /** Row count and order-insensitive hash of each query's output,
    * against the expectations kept next to the harness; returns the
    * queries that do not match. Doubles are rounded to 6 significant
    * digits so summation order cannot flip the hash. */
  def check(spark: SparkSession, dir: String): Set[String] = {
    val expected = Option(getClass.getResourceAsStream("/analytics_mix.expected"))
      .map(s => scala.io.Source.fromInputStream(s, "UTF-8").getLines()
        .filterNot(l => l.isEmpty || l.startsWith("#"))
        .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap)
      .getOrElse(Map.empty)
    Catalogue.queries.filter { q =>
      val r = Try {
        val rows = fns(q)(spark, dir).collect()
        (rows.length.toLong, digest(rows))
      }
      val ok = r.toOption == expected.get(q)
      if (!ok) System.err.println(s"perfbench: $q output mismatch: got " +
        r.map { case (n, h) => s"$q\t$n\t$h" }.getOrElse(r.toString) +
        s", want ${expected.get(q)}")
      !ok
    }.toSet
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else BigDecimal(d).round(new MathContext(6)).bigDecimal
        .stripTrailingZeros.toPlainString
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def digest(rows: Array[Row]): String = {
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val h = MessageDigest.getInstance("MD5").digest(render(r).getBytes("UTF-8"))
      acc + java.nio.ByteBuffer.wrap(h).getLong
    }
    f"$sum%016x"
  }
}
