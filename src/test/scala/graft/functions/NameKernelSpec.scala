package graft.functions

import graft.dedup.{DedupSettings, Normalize, RegexNormalizeModel, Rules, SparkTest}
import java.util.regex.Pattern
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The name-cleaning kernel against the `(?U)` regex chain it replaces
  * (RegexNormalizeModel): its character predicates over every code
  * point, and the whole derivation over seeded fuzzed names. */
class NameKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  private def codePointString(cp: Int) = new String(Character.toChars(cp))

  test("word and white-space predicates equal Java's (?U)\\w and (?U)\\s on every code point") {
    val word = Pattern.compile("(?U)\\w").matcher("")
    val space = Pattern.compile("(?U)\\s").matcher("")
    var cp = 0
    while (cp <= Character.MAX_CODE_POINT) {
      val s = codePointString(cp)
      assert(NameKernel.isWord(cp) === word.reset(s).matches(), f"\\w at U+$cp%04X")
      assert(NameKernel.isSpace(cp) === space.reset(s).matches(), f"\\s at U+$cp%04X")
      cp += 1
    }
  }

  test("the word boundary before a token equals Java's (?U)\\b on every code point") {
    val regex = Pattern.compile("(?U)\\b(?:LTD)$").matcher("")
    val kernel = new TokenStripper(Seq("LTD"), 1)
    var cp = 0
    while (cp <= Character.MAX_CODE_POINT) {
      val s = codePointString(cp) + "LTD"
      val expected = UTF8String.fromString(regex.reset(s).replaceAll("")).trim()
      assert(kernel.strip(UTF8String.fromString(s)) === expected, f"U+$cp%04X before LTD")
      cp += 1
    }
  }

  /** Seeded names: suffix and country stacks deeper than the 8/6
    * bounds, the multi-word and punctuated tokens, lower case, Unicode
    * letters, combining marks, supplementary-plane letters, non-ASCII
    * digits, every white space and line terminator the chain treats
    * specially, joiners, `_` and plain punctuation — abutting or
    * separated. */
  private def fuzzNames(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val words = Seq("ACME", "Globex", "initech", "Störe", "café", "MÜNCHEN", "straße", "\u01c4ungla",
      "σοφία", "ıstanbul", "İZMIR", "株式会社", "トヨタ", "Café", "Ë", "\ud801\udc00BC",
      "\ud835\udc00X", "\u0663\u0664", "\u0966", "\uff11\uff12", "\u2163", "\u00aa", "x_y", "a/b",
      "R&D", "x-y", "IBM", "TCS", "HDFC", "9", "IBM INDIA", "Cafe\u0301", "E\u0308\u20dd")
    val tokens = Rules.Suffixes ++ Rules.Countries ++
      Seq("a/s", "Gmbh & Co Kg", "sp z o o", "Pvt. Ltd.", "S.A.", "B.V.", "co.", "ltd")
    val seps = Seq(" ", " ", " ", "  ", "\t", "\u00a0", "\u0085", "\u2028", "\u2029", "\r\n",
      "\n", "\r", "\u3000", "\u200b", "\u200d", "\u200c", ".", ",", "!", "_", "-", "&", "/", "'",
      "(", ")", "\u00b2", "\ud83d\ude00", "\ufffd", "\u0001", "")
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def stack(from: Seq[String], depth: Int): String =
      (0 until depth).map(_ => pick(from)).mkString(" ")
    (0 until n).map { i =>
      val name = rnd.nextInt(10) match {
        case 0 => // deeper than the suffix bound
          pick(words) + " " + stack(Rules.Suffixes, 6 + rnd.nextInt(6))
        case 1 => // deeper than the country bound, after a suffix stack
          pick(words) + " " + stack(Rules.Suffixes, rnd.nextInt(3)) + " " +
            stack(Rules.Countries, 4 + rnd.nextInt(5))
        case 2 => // a token right after a line terminator or a joiner, or abutting
          pick(words) + pick(Seq("\n", "\r\n", "\u0085", "\u2028", "\u200d", "")) + pick(tokens) +
            pick(Seq("", "", "\n", "\r\n", "\r", "\u0085", "\u2028", "\u2029", " ", "\u00a0",
              "\n\n", "\n\r"))
        case _ =>
          (0 until rnd.nextInt(8)).map(_ =>
            (if (rnd.nextInt(3) == 0) pick(tokens) else pick(words)) + pick(seps)).mkString
      }
      (i.toLong, if (i % 997 == 0) null else name)
    }
  }

  private def mismatches(settings: DedupSettings, seed: Long, n: Int): (Long, Seq[String]) = {
    import spark.implicits._
    val df = fuzzNames(seed, n).toDF("id", "name").repartition(4)
    val both = RegexNormalizeModel.withDerived(
      Normalize.withDerived(df, "name", "id", settings), "name", settings)
    val differs = Seq("normalized_name", "base_name", "block_key")
      .map(c => !(col(c) <=> col(s"m_$c"))).reduce(_ || _)
    val bad = both.filter(differs).select("name", "normalized_name", "m_normalized_name",
      "base_name", "m_base_name", "block_key", "m_block_key")
    (bad.count(), bad.limit(5).collect().map(_.mkString(" | ")).toSeq)
  }

  test("withDerived equals the regex chain on 120k seeded fuzzed names") {
    val (n, examples) = mismatches(DedupSettings(), 20261019L, 120000)
    assert(n === 0L, examples.mkString("\n"))
  }

  test("withDerived equals the regex chain without subsidiary folding and with an add-map") {
    val settings = DedupSettings(noSubsidiaryFold = true,
      addMap = Map("ACME" -> "ACME CORP", "CAFÉ" -> ""))
    val (n, examples) = mismatches(settings, 7L, 20000)
    assert(n === 0L, examples.mkString("\n"))
  }

  test("the strips equal the regex chain on raw, untrimmed names with line terminators") {
    import spark.implicits._
    val df = fuzzNames(11L, 40000).map { case (i, s) =>
      (i, if (s == null) null else if (i % 2 == 0) s.toUpperCase(java.util.Locale.ROOT) else s)
    }.toDF("id", "name").repartition(4)
    val pairs = Seq(
      "suffixes" -> (Normalize.stripSuffixes(col("name")),
        RegexNormalizeModel.stripSuffixes(col("name"))),
      "countries" -> (Normalize.foldSubsidiaries(col("name")),
        RegexNormalizeModel.foldSubsidiaries(col("name"))),
      "residual" -> (Normalize.residualStrippable(col("name")),
        RegexNormalizeModel.residualStrippable(col("name"))),
      "residual, no fold" -> (
        Normalize.residualStrippable(col("name"), DedupSettings(noSubsidiaryFold = true)),
        RegexNormalizeModel.residualStrippable(col("name"), DedupSettings(noSubsidiaryFold = true))))
    for ((what, (kernel, model)) <- pairs) {
      val bad = df.select(col("name"), kernel.as("k"), model.as("m")).filter(!(col("k") <=> col("m")))
      val examples = bad.limit(5).collect().map(_.mkString(" | "))
      assert(bad.count() === 0L, s"$what:\n${examples.mkString("\n")}")
    }
    // the terminator cases were generated: a suffix stripped before a
    // final line terminator keeps the terminator
    assert(spark.range(1).select(Normalize.stripSuffixes(lit("ACME LTD\r\n"))).head()
      .getString(0) === "ACME \r\n")
  }
}
