package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Seeded input generators. The same seed always gives the same files.
  * Each generator also writes a `truth.csv` side file (record id →
  * ground-truth entity id) that only the benchmark's checks read. */
object Gen {

  private val Consonants = "BDFGKLMNPRSTVZ"
  private val Vowels = "AEIOU"

  /** Tokens the normalizer strips or rewrites; generated words avoid
    * them so a canonical name is its own base name. */
  private val Reserved: Set[String] =
    (graft.dedup.Rules.Suffixes ++ graft.dedup.Rules.Countries).flatMap(_.split(" ")).toSet

  /** A pronounceable upper-case pseudo-word of `syllables` syllables,
    * each a consonant and a vowel with an optional closing consonant.
    * The optional consonant keeps unrelated names apart under
    * Jaro-Winkler; plain consonant-vowel words of one length look alike
    * often enough to chain whole blocks into one cluster. */
  def word(r: java.util.Random, syllables: Int): String = {
    var w = ""
    do {
      val sb = new StringBuilder
      for (_ <- 0 until syllables) {
        sb += Consonants.charAt(r.nextInt(Consonants.length))
        sb += Vowels.charAt(r.nextInt(Vowels.length))
        if (r.nextBoolean()) sb += Consonants.charAt(r.nextInt(Consonants.length))
      }
      w = sb.toString
    } while (Reserved.contains(w))
    w
  }

  private val Descriptors = Seq("TECHNOLOGIES", "FOODS", "LOGISTICS", "TRADING",
    "HOLDINGS", "ENTERPRISES", "SYSTEMS", "MOTORS", "TEXTILES", "PHARMA", "STEEL",
    "ENERGY", "CONSULTING", "EXPORTS", "BUILDERS", "AGRO", "CHEMICALS", "INFRA",
    "FINANCE", "TRAVELS", "SOLUTIONS", "RETAIL", "MEDIA", "PLASTICS", "CERAMICS")

  // written forms that normalize + strip back to the bare name
  private val LegalTails = Seq(" Ltd.", ", Ltd", " Pvt. Ltd.", " Private Limited", " Inc",
    " Inc.", ", LLC", " GmbH", " Limited", " Co.", " PLC", " Pte. Ltd.")
  private val CountryTails = Seq(" India", " (USA)", " Germany", " Singapore",
    " United Kingdom", " UAE", " Brazil", ", Japan")

  /** Name with its case changed the way uploads vary it. */
  private def recase(r: java.util.Random, s: String): String = r.nextInt(3) match {
    case 0 => s
    case 1 => s.toLowerCase
    case _ => s.split(" ").map(w => w.take(1) + w.drop(1).toLowerCase).mkString(" ")
  }

  /** One typo (substitution or adjacent transposition) inside a token
    * other than the first, keeping the length, so the variant stays in
    * its entity's block. Single-token names take it past their first
    * three letters. */
  private def typo(r: java.util.Random, s: String): String = {
    val firstSpace = s.indexOf(' ')
    val lo = if (firstSpace > 0) firstSpace + 1 else 3
    val candidates = (lo until s.length - 1).filter(i => s(i) != ' ' && s(i + 1) != ' ')
    if (candidates.isEmpty) return s
    val i = candidates(r.nextInt(candidates.length))
    val c = s.toCharArray
    if (r.nextBoolean()) {
      val t = c(i); c(i) = c(i + 1); c(i + 1) = t
    } else {
      var n = c(i)
      while (n == c(i)) n = (Consonants + Vowels).charAt(r.nextInt(19))
      c(i) = n
    }
    new String(c)
  }

  /** A row's written form of an entity's canonical name: the canonical
    * name or one of its typo spellings, then case, punctuation, legal
    * suffix and country-tail noise that the normalizer removes. */
  private def variant(r: java.util.Random, spelling: String): String = {
    var s = recase(r, spelling)
    if (r.nextDouble() < 0.15) s += CountryTails(r.nextInt(CountryTails.length))
    if (r.nextDouble() < 0.45) s += LegalTails(r.nextInt(LegalTails.length))
    if (r.nextDouble() < 0.10) s = s.replaceFirst(" ", ", ")
    if (r.nextDouble() < 0.05) s = "  " + s + ". "
    s
  }

  /** The spellings of an entity: its canonical name plus `typos` typo
    * spellings. */
  private def spellings(r: java.util.Random, canonical: String, typos: Int): IndexedSeq[String] =
    canonical +: (0 until typos).map(_ => typo(r, canonical)).filter(_ != canonical)

  final case class Row(id: Long, entity: Int, name: String)

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  private def writeTruth(dir: File, rows: Seq[Row]): Unit = {
    val w = new PrintWriter(new File(dir, "truth.csv"), StandardCharsets.UTF_8.name)
    try {
      w.println("record_id,entity_id")
      rows.sortBy(_.id).foreach(x => w.println(s"${x.id},${x.entity}"))
    } finally w.close()
  }

  /** Shuffled, unique record ids: upload order is not id order. */
  private def shuffledIds(r: java.util.Random, n: Int): Array[Long] = {
    val ids = Array.tabulate(n)(i => 100000L + i * 7L)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    ids
  }

  /** company_reports input: a company master file as a user would
    * upload it. Entities share first tokens in small groups, so the
    * names spread over thousands of small blocks that hold several
    * look-alike entities each. Writes `companies.csv` and `truth.csv`;
    * returns the rows. */
  def companies(dir: File, seed: Long, entities: Int): Seq[Row] = {
    val r = new java.util.Random(seed * 1000003L + 17L)
    val heads = mutable.LinkedHashSet.empty[String]
    while (heads.size < entities / 3) heads += word(r, 2 + r.nextInt(2))
    val headSeq = heads.toIndexedSeq
    val names = mutable.LinkedHashSet.empty[String]
    while (names.size < entities) {
      val head = headSeq(r.nextInt(headSeq.length))
      val tail = r.nextInt(3) match {
        case 0 => ""
        case 1 => " " + Descriptors(r.nextInt(Descriptors.length))
        case _ => " " + word(r, 2 + r.nextInt(2)) + " " + Descriptors(r.nextInt(Descriptors.length))
      }
      names += head + tail
    }
    val rows = mutable.ArrayBuffer.empty[(Int, String)]
    names.toIndexedSeq.zipWithIndex.foreach { case (canonical, e) =>
      val n = 1 + (if (r.nextDouble() < 0.55) 1 + r.nextInt(3) else 0)
      val sp = spellings(r, canonical, if (n > 1 && r.nextDouble() < 0.5) 1 else 0)
      for (k <- 0 until n)
        rows += ((e, variant(r, if (k == 0) canonical else sp(r.nextInt(sp.length)))))
    }
    val ids = shuffledIds(r, rows.length)
    // file order follows the shuffled ids, so an entity's rows are not adjacent
    val out = rows.indices.map(i => Row(ids(i), rows(i)._1, rows(i)._2)).sortBy(x => x.id * 31 % 1000003)
    val w = new PrintWriter(new File(dir, "companies.csv"), StandardCharsets.UTF_8.name)
    try {
      w.println("record_id,company_name,city,country,employees")
      out.foreach { x =>
        val city = word(r, 3).take(1) + word(r, 3).drop(1).toLowerCase
        w.println(s"${x.id},${csvField(x.name)},$city,${Seq("IN", "US", "DE", "SG", "GB")(r.nextInt(5))}," +
          s"${10 + r.nextInt(5000)}")
      }
    } finally w.close()
    writeTruth(dir, out)
    out
  }

  final case class Event(id: Long, content: Int, text: String, tsMillis: Long, file: Int)

  /** stream_dedup input: `files` arrival files of `rowsPerFile` events.
    * About a third of the events repeat the text of an event seen
    * earlier (same file or an earlier one), all inside the watermark
    * delay. Returns the events in arrival order; the caller writes one
    * parquet file per arrival. */
  def events(dir: File, seed: Long, files: Int, rowsPerFile: Int): Seq[Event] = {
    val r = new java.util.Random(seed * 1000003L + 43L)
    val texts = mutable.ArrayBuffer.empty[String]
    val seenText = mutable.HashSet.empty[String]
    val out = mutable.ArrayBuffer.empty[Event]
    val t0 = 1767225600000L // 2026-01-01T00:00:00Z
    var id = 0L
    for (f <- 0 until files; _ <- 0 until rowsPerFile) {
      val content =
        if (texts.nonEmpty && r.nextDouble() < 0.35) r.nextInt(texts.length)
        else {
          var t = ""
          do t = s"order ${word(r, 3).toLowerCase} shipped to ${word(r, 2).toLowerCase} " +
            s"qty ${r.nextInt(500)}" while (seenText.contains(t))
          seenText += t; texts += t; texts.length - 1
        }
      out += Event(id, content, texts(content), t0 + f * 1000L + r.nextInt(1000), f)
      id += 1
    }
    writeTruth(dir, out.map(e => Row(e.id, e.content, e.text)).toSeq)
    out.toSeq
  }
}
