package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The normalize chain as `regexp_replace` + `trim` column expressions:
  * 2 passes for F1 and the 8 + 6 bounded fixpoint passes of F2/F3. This
  * is the specification the codegen'd kernel behind [[Normalize]]
  * (graft.functions.NameKernel) must reproduce exactly; NameKernelSpec
  * fuzzes the two against each other. */
object RegexNormalizeModel {

  def normalizeName(c: Column): Column = {
    val s = coalesce(c.cast("string"), lit(""))
    val depunct = regexp_replace(upper(s), "(?U)[^\\w\\s&/-]", " ")
    trim(regexp_replace(depunct, "(?U)\\s+", " "))
  }

  /** One end-anchored strip of the leftmost (so longest) matching token. */
  def stripOnce(c: Column, tokens: Seq[String]): Column =
    trim(regexp_replace(c, s"(?U)\\b(?:${tokens.mkString("|")})$$", ""))

  private def stripFix(c: Column, tokens: Seq[String], k: Int): Column =
    (1 to k).foldLeft(c)((acc, _) => stripOnce(acc, tokens))

  def stripSuffixes(c: Column): Column =
    stripFix(c, Rules.Suffixes, Rules.SuffixFixpointBound)

  def foldSubsidiaries(c: Column, settings: DedupSettings = DedupSettings()): Column =
    if (settings.noSubsidiaryFold) c
    else stripFix(c, Rules.Countries, Rules.CountryFixpointBound)

  def residualStrippable(base: Column, settings: DedupSettings = DedupSettings()): Column = {
    val tokens =
      if (settings.noSubsidiaryFold) Rules.Suffixes
      else Rules.Suffixes ++ Rules.Countries
    base =!= stripOnce(base, tokens)
  }

  def baseName(normalized: Column, settings: DedupSettings = DedupSettings()): Column =
    Normalize.applyAcronyms(foldSubsidiaries(stripSuffixes(normalized), settings), settings)

  /** [[Normalize.withDerived]]'s three derived name columns, prefixed `m_`. */
  def withDerived(df: DataFrame, nameCol: String,
      settings: DedupSettings = DedupSettings()): DataFrame =
    df.withColumn("m_normalized_name", normalizeName(col(nameCol)))
      .withColumn("m_base_name", baseName(col("m_normalized_name"), settings))
      .withColumn("m_block_key", Normalize.blockKey(col("m_base_name")))
}
