package graft.dedup

import graft.functions.functions.{normalize_name, strip_tokens}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Name cleaning + blocking-key column functions (F1-F5, K1 in
  * SURVEY.md §2.1). The punctuation pass and the suffix/country strips
  * are one codegen'd kernel each ([[graft.functions.NameKernel]],
  * exact with respect to the `(?U)` regex chain they replace); the
  * rest (`upper`, the null/cast guard, the acronym map, the block key)
  * are built-in `functions` compositions. No UDFs: everything stays
  * inside whole-stage codegen and Catalyst can push/prune/fold around
  * it.
  *
  * Semantics match /root/reference/engine.py:43-70,185-200 with the
  * deliberate re-specifications of SURVEY.md Appendix A.
  */
object Normalize {

  /** F1 — normalize (engine.py:43-51): null→""; upper-case; replace
    * every char outside `[\w\s&/-]` with a space; collapse runs of
    * whitespace; trim. `\w` and `\s` are Java's `(?U)` classes, which
    * are Unicode-aware like Python's `re`. */
  def normalizeName(c: Column): Column =
    normalize_name(upper(coalesce(c.cast("string"), lit(""))))

  /** F2 — strip_suffixes (engine.py:53-60): repeatedly strip trailing
    * legal suffixes until fixpoint (bound shared with the oracle via
    * Rules.SuffixFixpointBound; see its worst-case note). Each pass is
    * one end-anchored strip of the leftmost, so longest, matching token
    * (`(?U)\b(?:t1|t2|…)$`, then trim), which reproduces the
    * reference's longest-first fixpoint loop; it removes at most one
    * trailing token, so the bound is the strippable stack depth ("X CO
    * PVT LTD PRIVATE LIMITED" needs 3). */
  def stripSuffixes(c: Column): Column =
    strip_tokens(c, Rules.Suffixes, Rules.SuffixFixpointBound)

  /** F3 — fold_subsidiaries (engine.py:62-70): repeatedly strip
    * trailing country tokens until fixpoint; identity when disabled. */
  def foldSubsidiaries(c: Column, settings: DedupSettings = DedupSettings()): Column =
    if (settings.noSubsidiaryFold) c
    else strip_tokens(c, Rules.Countries, Rules.CountryFixpointBound)

  /** Residual check for the bounded fixpoints: true when a base name
    * STILL ends in a strippable suffix/country token after the bounded
    * passes — i.e. the bound was too shallow for this row and the
    * result diverges from the reference's true fixpoint. One pass of
    * the same strip kernel over every token. Count this over a corpus
    * (expect 0) to make the bound data-visibly sufficient rather than
    * assumed. */
  def residualStrippable(base: Column,
      settings: DedupSettings = DedupSettings()): Column = {
    val tokens =
      if (settings.noSubsidiaryFold) Rules.Suffixes
      else Rules.Suffixes ++ Rules.Countries
    base =!= strip_tokens(base, tokens, 1)
  }

  /** F4 — acronym-map rewrite (engine.py:34-41,190-191): exact-match
    * dictionary rewrite. The map is tiny and constant → a literal map
    * expression, no join needed. */
  def applyAcronyms(c: Column, settings: DedupSettings = DedupSettings()): Column = {
    val m = settings.acronymMap
    val kv = m.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq(lit(k), lit(v)) }
    coalesce(element_at(map(kv: _*), c), c)
  }

  /** F5 — base name = normalize → strip suffixes → fold countries →
    * acronym map (engine.py:185-192). Input must already be the
    * normalized name. */
  def baseName(normalized: Column, settings: DedupSettings = DedupSettings()): Column =
    applyAcronyms(foldSubsidiaries(stripSuffixes(normalized), settings), settings)

  /** K1 — blocking key (engine.py:194-200):
    * `firstChar + "_" + floor(len/5) + "_" + firstToken`, or "NONE"
    * for an empty base name. */
  def blockKey(base: Column): Column =
    when(base.isNull || base === "", lit("NONE")).otherwise(
      concat_ws("_",
        substring(base, 1, 1),
        floor(length(base) / lit(5)).cast("long").cast("string"),
        split(base, " ").getItem(0)))

  /** Convenience: attach the full derived-column contract
    * (SURVEY.md §1) to a DataFrame. `rowOrder` must be a stable,
    * orderable key — at scale an explicit source key, never an
    * implicit read order — and should be unique. The pipeline keeps
    * every row of a repeated key (one output row per input row,
    * identical rows included), but such rows share a row_order: neither
    * is a "later" row for the other's confidence, and their order in a
    * report sorted by row_order is undefined. */
  def withDerived(
      df: org.apache.spark.sql.DataFrame,
      nameCol: String,
      rowOrderCol: String,
      settings: DedupSettings = DedupSettings()): org.apache.spark.sql.DataFrame = {
    df.withColumn("row_order", col(rowOrderCol).cast("long"))
      .withColumn("original_name", col(nameCol).cast("string"))
      .withColumn("normalized_name", normalizeName(col(nameCol)))
      .withColumn("base_name", baseName(col("normalized_name"), settings))
      .withColumn("block_key", blockKey(col("base_name")))
  }
}
