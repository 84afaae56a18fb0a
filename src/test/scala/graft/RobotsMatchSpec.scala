package graft

import org.apache.spark.sql.functions._

import graft.functions.RobotsMatch

/** Pins [[RobotsMatch.decide]] on hand-picked rules, with each rule's
  * `spec = 2·length + allow` built the way robots_wildcard builds it:
  * most-specific match, literal `_`/`%`, and the equal-spec tie. */
class RobotsMatchSpec extends SparkSpec {

  /** (domain, path) -> (allow, winning pattern); None when no rule
    * matches. */
  private def decide(rules: Seq[(String, String, Boolean)],
      paths: Seq[(String, String)]): Map[(String, String),
        Option[(Boolean, String)]] = {
    import spark.implicits._
    paths.toDF("domain", "path")
      .withColumn("v", RobotsMatch.decide(
        rules.toDF("domain", "pattern", "allow").withColumn("spec",
          expr("CAST(length(pattern) * 2 + IF(allow, 1, 0) AS BIGINT)")),
        col("domain"), col("path")))
      .select(col("domain"), col("path"), col("v.allow"), col("v.pat"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.getString(3)).map(p => (r.getBoolean(2), p)))
      .toMap
  }

  test("RobotsMatch.decide: most specific match wins (literal block, " +
      "wildcard pierce)") {
    val got = decide(Seq(
        ("a.com", "/", true),
        ("a.com", "/private/", false),
        ("a.com", "/private/pub*", true)), // wildcard pierce (longer)
      Seq("a.com" -> "/ok.html", "a.com" -> "/private/secret",
        "a.com" -> "/private/pub7"))
    assert(got === Map(
      ("a.com", "/ok.html") -> Some((true, "/")),
      ("a.com", "/private/secret") -> Some((false, "/private/")),
      ("a.com", "/private/pub7") -> Some((true, "/private/pub*"))))
  }

  // RFC 9309: an empty path matches as '/'; decide takes the path as
  // given, so a caller passes '/' for a path-less URL
  test("RobotsMatch.decide matches _ and % literally, and the root " +
      "path '/'") {
    val got = decide(Seq(
        ("e.io", "/", true),
        ("e.io", "/wp_admin/", false),     // '_' must stay literal
        ("e.io", "/cache%20dir/", false),  // '%' must stay literal
        ("f.co", "/", false)),             // domain-wide disallow
      Seq(
        "e.io" -> "/wp_admin/x",    // literal match -> disallowed
        "e.io" -> "/wpXadmin/x",    // '_' as wildcard would block this
        "e.io" -> "/cache%20dir/y", // literal match -> disallowed
        "e.io" -> "/cacheXXXdir/y", // '%' as wildcard would block this
        "f.co" -> "/",
        "f.co" -> "/x"))
    assert(got.toSeq.collect { case (k, Some((true, _))) => k }.toSet === Set(
      ("e.io", "/wpXadmin/x"), ("e.io", "/cacheXXXdir/y")),
      s"verdicts wrong: $got")
    assert(got.values.forall(_.nonEmpty), s"a path matched no rule: $got")
  }

  // the dead-letter reason string cannot drift across runs or replays
  test("RobotsMatch.decide resolves equal-spec ties to the smallest " +
      "matching pattern") {
    // each domain has two disallow rules of EQUAL spec (2·3 + 0 = 6)
    // that both match its path; '/' allow is the lower-spec default.
    // The lexicographically smallest pattern wins: '*' < 'b' and
    // '%' < '*'.
    val rules = Seq(
      ("g.com", "/ab", false),
      ("g.com", "/a*", false),
      ("g.com", "/", true),
      ("h.com", "/a*", false),
      ("h.com", "/a%", false),
      ("h.com", "/", true))
    (1 to 5).foreach { _ =>
      val got = decide(rules, Seq("g.com" -> "/ab/x", "h.com" -> "/a%25x"))
      assert(got === Map(
        ("g.com", "/ab/x") -> Some((false, "/a*")),
        ("h.com", "/a%25x") -> Some((false, "/a%"))),
        s"tie verdict or winner drifted: $got")
    }
  }
}
