package graft

import scala.util.Random

import org.apache.spark.sql.functions._

/** Property-style cross-check of the compiled
  * [[graft.functions.RobotsMatch]] kernel: for RANDOM robots patterns
  * — deliberately including the LIKE metachars `%`, `_`, `\` next to
  * the RFC 9309 `*`/`$` grammar — the kernel's verdict must equal an
  * independent JVM matcher that implements RFC 9309 §2.2.3 via regex
  * (quote every literal char, `*` → `.*`, `$` → end anchor,
  * prefix match otherwise), with most-specific-match resolution
  * (spec = 2·length + allow-bit, max wins). Seeded generator, 40
  * domains × 1-4 rules per round, one Spark job per round. */
class RobotsPropsSpec extends SparkSpec {

  private val rnd = new Random(20260815)

  /** Path fragments weighted toward the hazardous chars. */
  private def frag(): String = {
    val chars = "abc7_%x" + (if (rnd.nextBoolean()) "\\" else "d")
    (1 to 1 + rnd.nextInt(4)).map(_ =>
      chars(rnd.nextInt(chars.length))).mkString
  }

  private def randomPattern(): String = {
    val segs = (1 to 1 + rnd.nextInt(3)).map(_ => frag())
    val base = "/" + segs.mkString("/")
    val withStar =
      if (rnd.nextBoolean()) {
        val i = 1 + rnd.nextInt(base.length)
        base.substring(0, i) + "*" + base.substring(i)
      } else base
    if (rnd.nextInt(4) == 0) withStar + "$" else withStar
  }

  /** Independent RFC 9309 matcher: regex with quoted literals. */
  private def rfcMatches(pattern: String, path: String): Boolean = {
    val (body, anchored) =
      if (pattern.endsWith("$")) (pattern.dropRight(1), true)
      else (pattern, false)
    val rx = body.split("\\*", -1)
      .map(java.util.regex.Pattern.quote)
      .mkString(".*")
    val full = if (anchored) rx + "\\z" else rx + ".*"
    java.util.regex.Pattern.compile("\\A" + full)
      .matcher(path).find()
  }

  /** Most-specific-match verdict (spec = 2·len + allow; no matching
    * rule → None), the robots_wildcard contract. */
  private def rfcVerdict(rules: Seq[(String, Boolean)],
      path: String): Option[Boolean] = {
    val applicable = rules.filter { case (p, _) => rfcMatches(p, path) }
    if (applicable.isEmpty) None
    else Some(applicable.maxBy { case (p, allow) =>
      p.length.toLong * 2 + (if (allow) 1 else 0)
    }._2)
  }

  /** One seeded round over `domains`: 1-3 random rules each and one
    * path per domain (half a rule's own path, forcing
    * literal-vs-wildcard distinctions, half fresh fragments). decide()
    * runs through a real Spark plan over the rules with
    * robots_wildcard's spec column, and must give [[rfcVerdict]]. */
  private def decideRound(domains: Seq[String]): Unit = {
    import spark.implicits._
    val ruleSet: Map[String, Seq[(String, Boolean)]] =
      domains.map { d =>
        d -> (1 to 1 + rnd.nextInt(3)).map(_ =>
          (randomPattern(), rnd.nextBoolean()))
      }.toMap
    val paths = domains.map { d =>
      val p = ruleSet(d).head._1.stripSuffix("$").replace("*", frag())
      (d, if (rnd.nextBoolean()) p else "/" + frag() + "/" + frag())
    }
    val rulesDf = ruleSet.toSeq
      .flatMap { case (d, rs) => rs.map { case (p, a) => (d, p, a) } }
      .toDF("domain", "pattern", "allow")
      .withColumn("spec", expr(
        "CAST(length(pattern) * 2 + IF(allow, 1, 0) AS BIGINT)"))
    val got = paths.toDF("domain", "path")
      .withColumn("v", graft.functions.RobotsMatch.decide(
        rulesDf, col("domain"), col("path")))
      .select(col("domain"), col("path"), col("v.allow").as("allow"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Boolean]))
      .toMap
    paths.foreach { case (d, path) =>
      assert(got((d, path)) === rfcVerdict(ruleSet(d), path),
        s"decide diverged for ($d, $path) rules ${ruleSet(d)}")
    }
  }

  test("RobotsMatch.decide equals the regex RFC 9309 matcher on rules " +
      "with %, _ and \\") {
    (1 to 5).foreach(round =>
      decideRound((1 to 40).map(i => s"d$round-$i.com")))
  }

  test("RobotsMatch compiled kernel (r22 verdict #4): matches() " +
      "equals the independent regex RFC 9309 matcher per (pattern, " +
      "path), and the decide() fold through Spark equals the " +
      "most-specific-match verdict (no-match -> NULL) on random " +
      "rule sets") {
    // per-(pattern, path) parity of the greedy glob matcher
    val pats = (1 to 80).map(_ => randomPattern()) ++
      Seq("/", "/docs/", "/docs/index.html", "/docs/*7.html$",
        "/docs/*77.html$", "/a*b*c", "/a*b*c$", "*x", "$")
    val paths = (1 to 80).map(_ => "/" + frag() + "/" + frag()) ++
      pats.take(30).map(p => p.stripSuffix("$").replace("*", frag())) ++
      Seq("/", "", "/docs/", "/docs/a7.html", "/docs/a77.html",
        "/abzbzc", "/abc")
    for (p <- pats; u <- paths)
      assert(graft.functions.RobotsMatch.matches(u, p) ===
        rfcMatches(p, u), s"matches('$u', '$p') diverged")
    // decide() fold parity through a real Spark plan
    (1 to 3).foreach(round =>
      decideRound((1 to 30).map(i => s"k$round-$i.com")))
  }
}
