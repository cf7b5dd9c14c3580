package graft.enrich

import graft.dedup.Rules

/** Pluggable external-verification interface (W1/W2/W4 in SURVEY.md
  * §2.1 — engine.py:72-183). The reference calls DuckDuckGo and a
  * Gemini model from thread pools; network I/O is nondeterministic
  * and unavailable offline, so it lives permanently behind this trait
  * and NEVER inside `SparkEntry.queries`. Implementations must be
  * Serializable — they ship to executors inside a mapPartitions
  * stage ([[Enrichment]]), which subsumes the reference's
  * ThreadPoolExecutor fan-out (X2). */
trait Verifier extends Serializable {
  /** W1 — canonical-name verification; None = no better name found. */
  def verifyName(name: String): Option[String]
  /** W2 — official-domain lookup; empty = unknown. */
  def findDomain(name: String): String
  /** W3 — industry classification. */
  def classifyIndustry(name: String): String
  /** W4 — agentic research: (official name, reason). */
  def research(name: String): Option[(String, String)]
}

/** Deterministic offline defaults: identity verification, no domain,
  * the reference's pure keyword industry rules (engine.py:115-126;
  * the dead 'SaaS' keyword omitted per SURVEY.md Appendix A.4). */
object OfflineVerifier extends Verifier {
  override def verifyName(name: String): Option[String] = None
  override def findDomain(name: String): String = ""
  override def classifyIndustry(name: String): String = {
    if (name == null || name.isEmpty) "Unknown"
    else {
      val up = name.toUpperCase
      Rules.IndustryKeywords
        .collectFirst { case (industry, keys) if keys.exists(up.contains) => industry }
        .getOrElse("Diversified/Other")
    }
  }
  /** W4 offline fallback: layered rule-based "research" —
    * deterministic, and gives the trait a live code path without
    * network (the HTTP path is [[HttpVerifier]]). Mirrors what the
    * reference's agentic step is FOR (resolve a raw label to an
    * official name plus a reason, engine.py:145-183) with the rules
    * the engine already trusts:
    *   1. acronym dictionary hit on the raw name;
    *   2. bounded legal-suffix + trailing-country strip — the same
    *      token lists as the Catalyst normalization path, but as ONE
    *      combined fixpoint (suffix and country tokens interleave
    *      freely), so research resolves forms like "X PVT LTD INDIA"
    *      all the way to "X" where the two-phase baseName stops at
    *      "X PVT LTD"; string-level because this runs per-name inside
    *      mapPartitions, not on Columns;
    *   3. acronym dictionary re-check on the stripped form
    *      ("TCS LTD" → "TCS" → "TATA CONSULTANCY SERVICES"). */
  override def research(name: String): Option[(String, String)] = {
    def stripBounded(s: String, tokens: Seq[String], bound: Int): String = {
      var cur = s
      var i = 0
      var changed = true
      while (i < bound && changed) {
        changed = false
        // longest-first, in Rules' order
        tokens.find(t => cur == t || cur.endsWith(" " + t)).foreach { t =>
          cur = cur.stripSuffix(t).trim
          changed = true
        }
        i += 1
      }
      cur
    }
    Option(name).map(_.trim).filter(_.nonEmpty).flatMap { raw =>
      val up = raw.toUpperCase
      Rules.DefaultAcronyms.get(up)
        .map(official => (official, s"acronym expansion of $raw"))
        .orElse {
          // longest-first across BOTH lists so e.g. "S A" can't
          // shadow "SA DE CV"
          val tokens = (Rules.Suffixes ++ Rules.Countries)
            .sortBy(s => (-s.length, s))
          val stripped = stripBounded(up, tokens,
            Rules.SuffixFixpointBound + Rules.CountryFixpointBound)
          Rules.DefaultAcronyms.get(stripped) match {
            case Some(official) =>
              Some((official, s"acronym expansion of canonical base $stripped"))
            case None if stripped.nonEmpty && stripped != up =>
              Some((stripped, "legal-suffix/country canonicalization"))
            case _ => None
          }
        }
    }
  }
}
