package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** The winning rule for one URL: its allow bit and the pattern that
  * decided it (the RFC 9309 most-specific-match output both robots
  * report rows aggregate over). */
final case class RobotsVerdict(allow: Boolean, pat: String)

/** One pre-compiled rule: the pattern split at its `*`s with the `$`
  * anchor consumed, so per-URL matching never re-parses the grammar. */
private[functions] final case class CompiledRule(
    pattern: String, segs: Array[String], anchored: Boolean,
    allow: Boolean, spec: Long)

/** Compiled RFC 9309 rule matching — ONE kernel call per URL over the
  * domain's pre-collapsed rule array, replacing the per-(url × rule)
  * join fan-out + per-row `LIKE`-against-a-column probe the robots
  * rows previously paid (r22, verdict #4).
  *
  * Why a kernel: the rule-join shape expands the URL scan ~4-5× before
  * a corpus-scale `(doc_id, domain)` max_by exchange, and Spark
  * compiles a non-foldable LIKE pattern per ROW evaluation. Collapsing
  * the rules to one broadcast row per domain makes the decision a
  * row-local fold: the scan stage emits the finished verdict and the
  * only exchange left is the domains-sized report rollup. Matching
  * implements the RFC grammar DIRECTLY (`*` = any octet sequence,
  * trailing `$` = end anchor, otherwise literal prefix), so no LIKE
  * translation or metachar escaping exists on this path at all.
  *
  * Greedy leftmost segment matching is exact for `*`-only globs: the
  * first segment must be a literal prefix, each middle segment binds
  * to its leftmost occurrence after the previous one, and the last
  * segment anchors with `endsWith` (anchored) or any later occurrence
  * (unanchored prefix-match semantics). `RobotsPropsSpec` pins the
  * kernel row-identical to an independent regex RFC 9309 matcher on
  * random patterns and adversarial paths. Both robots rows
  * (`robots_policy`, `robots_wildcard`) call it.
  */
object RobotsMatch {

  private[functions] def compile(pattern: String, allow: Boolean,
      spec: Long): CompiledRule = {
    val anchored = pattern.nonEmpty &&
      pattern.charAt(pattern.length - 1) == '$'
    val body =
      if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    CompiledRule(pattern, body.split("\\*", -1), anchored, allow, spec)
  }

  private def matchesCompiled(path: String, r: CompiledRule): Boolean = {
    val segs = r.segs
    if (!path.startsWith(segs(0))) return false
    var pos = segs(0).length
    var i = 1
    while (i < segs.length - 1) {
      val at = path.indexOf(segs(i), pos)
      if (at < 0) return false
      pos = at + segs(i).length
      i += 1
    }
    if (segs.length == 1) !r.anchored || path.length == pos
    else {
      val last = segs(segs.length - 1)
      if (r.anchored)
        path.length - last.length >= pos && path.endsWith(last)
      else path.indexOf(last, pos) >= 0
    }
  }

  /** RFC 9309 §2.2.2-2.2.3 single-pattern match (the uncompiled
    * entry point — spec parity and one-off callers). */
  private[graft] def matches(path: String, pattern: String): Boolean =
    matchesCompiled(path, compile(pattern, allow = true, spec = 0L))

  /** Most-specific-match verdict column over a BROADCAST pre-compiled
    * rule map — the §3.2 build-collect-broadcast shape: `rules`
    * (columns `domain, pattern, allow, spec`) is collected ONCE at
    * construction (a domains-bounded frame — the same bound the
    * replaced broadcast join already assumed), each pattern compiled
    * to its segment matcher, and the per-URL decision is a hash
    * lookup + ≤ rules-per-domain segment matches on plain JVM
    * strings. No join, no per-row array-of-struct conversion (the
    * first kernel cut passed the rule array through the UDF per row,
    * and the Catalyst-to-Scala struct conversion cost more than the
    * join it replaced — measured 1.15× SLOWER on robots_wildcard),
    * and no corpus-scale exchange: the scan stage emits finished
    * verdicts.
    *
    * Winner = highest spec among matching rules; ties resolve to the
    * lexicographically smallest pattern (the registered rows' specs
    * are distinct per domain, so the tie branch never decides there).
    * NULL when no rule matches or the domain has no rules — callers
    * filter, exactly as the replaced inner-join + filter dropped
    * unmatched URLs. */
  def decide(rules: org.apache.spark.sql.DataFrame, domain: Column,
      path: Column): Column = {
    val compiled: Map[String, Array[CompiledRule]] = rules
      .select("domain", "pattern", "allow", "spec").collect()
      .groupBy(_.getString(0))
      .map { case (d, rows) =>
        d -> rows.map(r => compile(r.getString(1), r.getBoolean(2),
            r.getLong(3)))
          // spec DESC, pattern ASC: the first match is the winner —
          // equal to max_by on distinct specs, deterministic on ties
          .sortBy(r => (-r.spec, r.pattern))
      }
    val bc = rules.sparkSession.sparkContext.broadcast(compiled)
    val f = udf { (d: String, p: String) =>
      if (d == null || p == null) null
      else bc.value.get(d) match {
        case None => null
        case Some(rs) =>
          var i = 0
          var out: RobotsVerdict = null
          while (out == null && i < rs.length) {
            if (matchesCompiled(p, rs(i)))
              out = RobotsVerdict(rs(i).allow, rs(i).pattern)
            i += 1
          }
          out
      }
    }
    f(domain, path)
  }
}
