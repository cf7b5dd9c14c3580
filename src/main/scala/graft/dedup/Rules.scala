package graft.dedup

/** Static reference data + settings for the company-dedup pipeline.
  *
  * Semantics derived from the reference engine
  * (/root/reference/engine.py:10-41); only the *effective* entries are
  * kept: dotted suffix variants ("PVT. LTD.", "CO.", "B.V.",
  * "S.A. DE C.V.", "S.R.L.", "S.P.A.") can never match because
  * normalization has already replaced '.' with space
  * (engine.py:48, SURVEY.md Appendix A.4), so they are dropped here.
  */
final case class DedupSettings(
    hardThreshold: Double = 0.90,
    softThreshold: Double = 0.85,
    noSubsidiaryFold: Boolean = false,
    addMap: Map[String, String] = Map.empty,
    /** Cost governor (beyond the reference, SURVEY.md §4): blocks
      * with more distinct names than this switch from full O(|b|²)
      * pairing to the [[hotBlockWindow]] policy — bounds the quadratic
      * worst case on adversarial key distributions (a 1.5M-name block
      * at 100× customer scale is ~1.1T pairs). The default cap keeps
      * full reference semantics through ~2.5G pairs/block; governed
      * block counts are logged. None = reference behavior (no cap,
      * unbounded quadratic). */
    maxBlockNames: Option[Long] = Some(50000L),
    /** Policy for over-cap blocks: window > 1 compares each name to
      * its `window - 1` sorted successors (sorted-neighborhood,
      * O(|b|·w)); window <= 1 drops the block entirely (rows keep
      * singleton clusters). */
    hotBlockWindow: Int = 10,
    /** Driver fast path gate (execution knob, not semantics): a name
      * index of at most this many distinct names — with at most 2M
      * implied pairs (Matching.DriverImpliedPairs) and no block over
      * [[maxBlockNames]] — runs pairing, components and the whole name
      * table in one driver pass (Matching.driverNameTable). Any other
      * index takes the distributed path (Matching.distributedNameTable):
      * one JW pass over the salted pair join, folded per partition into
      * CC edges and candidate maxima, then CC and the name aggregates;
      * results are bit-identical. The pair bound caps the driver's
      * single-threaded JW work; this gate caps the index the driver
      * collects. 0 forces the distributed path.
      *
      * Measured: `Sources.runFile` job seconds on perfbench's seeded
      * company file scaled to 1, 10, 30, 60 and 120× its entities
      * (blocks of ≤ 11 names), each regime forced through this knob,
      * `local[4]` on a 4-vCPU VM, one run per cell, seeds 1 / 2:
      *
      * {{{
      *   names   implied pairs   distributed (0)   driver
      *    4.4k        2.0k          7.8 /  8.6     4.2 /  5.0
      *     44k         20k         15.1 / 17.9    10.8 / 11.2
      *    132k         58k         24.9 / 25.2    13.7 / 17.6
      *    264k        118k         40.8 / 33.7    26.0 / 26.2
      *    528k        235k         56.8 / 56.5    42.9 / 40.6
      * }}}
      *
      * The driver path was faster at every size: on inputs like these
      * there is no speed crossover up to 528k names, and the gate bounds
      * driver memory rather than time. The default is 2^18, the largest
      * power of two with two measured sizes above it (2^19 has only the
      * 528k row, 0.8% above it, and the driver heap the collected index
      * needs was not measured). */
    driverFastPathNames: Long = 262144L,
    /** Durable checkpoint directory for multi-executor deployments
      * (execution knob, not semantics): when set, every eager
      * materialization in the pipeline (name index, the name-table
      * fold, CC rounds, distributed ranking) uses reliable `checkpoint()`
      * against this directory instead of executor-local checkpoint
      * blocks, so a mid-query executor loss is survivable. None
      * (default) = `localCheckpoint`, the single-JVM trade-off
      * documented on [[Pipeline.run]]. Results are bit-identical
      * either way (ReliableCheckpointSpec).
      *
      * Lifecycle: superseded iteration frames are deleted eagerly by
      * `Frames.release` (checkpoint FILES included), so iterative
      * loops don't accrete one directory per round. Frames whose
      * lifetime outlives the query (Memo'd indexes) are only removed
      * by Spark's ContextCleaner when
      * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (off by
      * default) — long-lived sessions should set it, or reap the
      * directory on their own cadence. */
    checkpointDir: Option[String] = None) {

  /** True when materializations should be reliable checkpoints. */
  def reliableCheckpoints: Boolean = checkpointDir.isDefined

  /** Engage the reliable-checkpoint contract on `spark`: sets the
    * context's checkpoint directory when [[checkpointDir]] is set.
    * Every public entry point that materializes frames under these
    * settings calls this (Pipeline.run, the Matching pair entry
    * points), so setting `checkpointDir` alone is the whole API —
    * without this, a direct `Matching.qualifyingPairs` call with a
    * checkpointDir-bearing settings died at runtime with "Checkpoint
    * directory has not been set" (ADVICE r19). Idempotent. */
  def engageCheckpoints(spark: org.apache.spark.sql.SparkSession): Unit =
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
  // The governor sizing aggregate collects the over-cap key list into
  // one driver row, bounded by |distinct blocks| / cap — a degenerate
  // cap (e.g. 1) would degrade that bound to every block key in a
  // single row. Floor it so the list stays a small fraction of blocks
  // (≤ |names|/8 keys — a few MB even at 100× customer scale).
  maxBlockNames.foreach(cap => require(cap >= DedupSettings.MinBlockNamesCap,
    s"maxBlockNames=$cap below sanity floor ${DedupSettings.MinBlockNamesCap}: " +
      "the governor's hot-key list is bounded by |blocks|/cap rows on the driver"))

  /** Acronym rewrite map = defaults overridden by user entries
    * (engine.py:34-41). */
  def acronymMap: Map[String, String] = Rules.DefaultAcronyms ++ addMap
}

object DedupSettings {
  /** Smallest accepted [[DedupSettings.maxBlockNames]] cap. */
  val MinBlockNamesCap: Long = 8L

  /** Parse the reference UI's custom-mapping text syntax
    * (`"GE->GENERAL ELECTRIC; P&G->PROCTER & GAMBLE"`) into
    * [[DedupSettings.addMap]], with the reference's exact
    * malformed-entry semantics (app.py:44-52): entries split on `;`;
    * an entry participates only if it contains `->` AND splitting on
    * `->` yields exactly two parts (so `"A->B->C"` is silently
    * skipped); both sides are trimmed and upper-cased; empty keys or
    * values are KEPT (`"A->"` maps `"A" -> ""`); a later duplicate
    * key overwrites an earlier one (dict semantics). */
  def parseAddMap(s: String): Map[String, String] = {
    if (s == null || s.isEmpty) Map.empty
    else s.split(";", -1).iterator
      .filter(_.contains("->"))
      .flatMap { pair =>
        // Python str.split("->") has no limit: 2 parts means exactly
        // one arrow. split with a large limit keeps trailing empties
        // so "A->" really yields ("A", "").
        val parts = pair.split("->", -1)
        if (parts.length == 2)
          Some(parts(0).trim.toUpperCase(java.util.Locale.ROOT) ->
            parts(1).trim.toUpperCase(java.util.Locale.ROOT))
        else None
      }.toMap
  }
}

object Rules {
  /** Bounded-fixpoint depths for suffix stripping / country folding,
    * shared by the Spark kernel (Normalize.stripSuffixes and
    * foldSubsidiaries) and the DuckDB oracle (Sql.stripFix) so the two
    * can never drift.
    * Worst-case argument: each pass removes at least one whole
    * trailing token, so the bound equals the deepest strippable stack
    * handled exactly; real names stack 2-3 ("X CO PVT LTD PRIVATE
    * LIMITED" needs 3), 8/6 leaves 2-3x headroom, and
    * Normalize.residualStrippable gives a data-visible check that the
    * bound sufficed on a given corpus. */
  val SuffixFixpointBound = 8
  val CountryFixpointBound = 6

  /** Legal suffixes that can match a normalized (dot-free) name,
    * longest-first like the reference's loop (engine.py:19-24); a strip
    * takes the leftmost, so longest, match whatever the order. */
  val Suffixes: Seq[String] = Seq(
    "PRIVATE LIMITED", "GMBH & CO KG", "INCORPORATED", "SP Z O O",
    "SA DE CV", "PTE LTD", "PVT LTD", "LIMITED", "COMPANY", "SP ZOO",
    "S R L", "GMBH", "LTD", "LLC", "LLP", "PLC", "INC", "A/S", "S A",
    "CO"
  ).sortBy(s => (-s.length, s))

  /** Trailing country tokens folded off subsidiaries, longest-first
    * (engine.py:27-31). */
  val Countries: Seq[String] = Seq(
    "UNITED KINGDOM", "UNITED STATES", "SAUDI ARABIA", "COTE DIVOIRE",
    "SOUTH AFRICA", "NEW ZEALAND", "HONG KONG", "SINGAPORE", "MALAYSIA",
    "GERMANY", "CANADA", "BRAZIL", "FRANCE", "INDIA", "CHINA", "JAPAN",
    "KOREA", "ITALY", "USA", "UAE"
  ).sortBy(s => (-s.length, s))

  /** Default acronym rewrites (engine.py:34-38). "IBM INDIA" is
    * reachable only when subsidiary folding is disabled
    * (SURVEY.md Appendix A.4) but is kept for flag parity. */
  val DefaultAcronyms: Map[String, String] = Map(
    "IBM INDIA" -> "IBM",
    "TCS" -> "TATA CONSULTANCY SERVICES",
    "HDFC" -> "HDFC BANK")

  /** Industry keyword rules (engine.py:115-121). The reference's
    * 'SaaS' keyword is dead code — it is compared case-sensitively
    * against an upper-cased name (engine.py:123-125) — so it is
    * omitted (SURVEY.md Appendix A.4). Order matters: first industry
    * whose keyword hits wins (Python dict order). */
  val IndustryKeywords: Seq[(String, Seq[String])] = Seq(
    "TECHNOLOGY" -> Seq("SOFTWARE", "TECH", "COMPUTING", "DIGITAL"),
    "FINANCE" -> Seq("BANK", "INVESTMENT", "FINANCIAL", "CAPITAL", "INSURANCE"),
    "HEALTHCARE" -> Seq("PHARMA", "HOSPITAL", "MEDICAL", "HEALTH", "BIOTECH"),
    "RETAIL" -> Seq("STORE", "SHOP", "MARKET", "COMMERCE"),
    "MANUFACTURING" -> Seq("ENGINEERING", "INDUSTRIAL", "SYSTEMS", "ELECTRONICS"))

  /** Confidence ladder (engine.py:371-375). */
  val ConfTokenAndRatio = 0.98
  val ConfHardRatio = 0.95
  val ConfSoftRatio = 0.88
  val ConfDefault = 0.70
  val ConfEmptyBase = 0.50

  val ReasonTokenAndRatio = "token-sorted match AND ratio >= 0.90"
  val ReasonHardRatio = "ratio >= 0.90"
  val ReasonSoftRatio = "ratio >= 0.85"
  val ReasonDefault = "Isolated or weak match"
  val ReasonEmptyBase = "No base name after cleaning; kept as singleton"
}
