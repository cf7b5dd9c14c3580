package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The name-cleaning kernel behind [[graft.dedup.Normalize]] (F1-F3 in
  * SURVEY.md §2.1): one pass per stage over the string's code points
  * instead of a chain of `regexp_replace` + `trim` passes. It reproduces
  * the Java regex chain exactly (NameKernelSpec pins the predicates over
  * every code point and fuzzes the whole derivation against the chain):
  *
  *  - word characters are Java's `(?U)\w` ([[isWord]]), white space is
  *    `(?U)\s` ([[isSpace]]);
  *  - [[normalize]] is `trim(regexp_replace(regexp_replace(s,
  *    "(?U)[^\w\s&/-]", " "), "(?U)\s+", " "))`;
  *  - one [[TokenStripper]] pass is `trim(regexp_replace(s,
  *    "(?U)\b(?:t1|t2|…)$", ""))`: the leftmost (so longest) token that
  *    starts at a word boundary and ends where `$` matches — at the end,
  *    or before one final line terminator;
  *  - `trim` is Spark's: ASCII spaces only.
  *
  * Input is read through [[codePoints]]: all-ASCII input (the common
  * case) straight from the UTF8String bytes, anything else through
  * `toString`, as the regex chain does, so even malformed UTF-8 comes
  * out the same. */
object NameKernel {
  private val WordTypes =
    (1 << Character.NON_SPACING_MARK) | (1 << Character.ENCLOSING_MARK) |
      (1 << Character.COMBINING_SPACING_MARK) | (1 << Character.DECIMAL_DIGIT_NUMBER) |
      (1 << Character.CONNECTOR_PUNCTUATION)
  private val SpaceTypes =
    (1 << Character.SPACE_SEPARATOR) | (1 << Character.LINE_SEPARATOR) |
      (1 << Character.PARAGRAPH_SEPARATOR)

  /** Java's `(?U)\w`: alphabetic, a mark, a decimal digit, connector
    * punctuation or a join control (ZWNJ, ZWJ). */
  def isWord(cp: Int): Boolean =
    Character.isAlphabetic(cp) || ((WordTypes >> Character.getType(cp)) & 1) != 0 ||
      cp == 0x200c || cp == 0x200d

  /** Java's `(?U)\s`: a space, line or paragraph separator, U+0009-U+000D
    * or U+0085. */
  def isSpace(cp: Int): Boolean =
    ((SpaceTypes >> Character.getType(cp)) & 1) != 0 || (cp >= 0x9 && cp <= 0xd) || cp == 0x85

  /** A character [[normalize]] keeps: `[\w\s&/-]` minus `\s`. Everything
    * else separates tokens. */
  private def keeps(cp: Int): Boolean =
    (isWord(cp) || cp == '&' || cp == '/' || cp == '-') && !isSpace(cp)
  private val asciiKeeps = Array.tabulate(128)(keeps)

  /** The code points of `s`: its bytes when it is all ASCII, else those
    * of `s.toString`, which reads malformed UTF-8 as U+FFFD just as the
    * regex chain does. The one string view of every kernel here and of
    * [[JaroWinklerAlgo]]. */
  private[graft] def codePoints(s: UTF8String): Array[Int] = {
    val n = s.numBytes
    val cps = new Array[Int](n)
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) return s.toString.codePoints().toArray
      cps(i) = b
      i += 1
    }
    cps
  }

  /** `cps[from, until)` as UTF-8: byte by byte while it is ASCII, else
    * through a String. */
  private[functions] def toUtf8(cps: Array[Int], from: Int, until: Int): UTF8String = {
    val b = new Array[Byte](until - from)
    var i = from
    while (i < until) {
      if (cps(i) >= 128) return UTF8String.fromString(new String(cps, from, until - from))
      b(i - from) = cps(i).toByte
      i += 1
    }
    UTF8String.fromBytes(b)
  }

  /** F1's punctuation and white-space pass over an upper-cased name:
    * every run of characters outside `[\w&/-]` (and every white space)
    * becomes one space, and the ends are trimmed. */
  def normalize(s: UTF8String): UTF8String = {
    val cps = codePoints(s)
    var j = 0
    var gap = false
    var i = 0
    while (i < cps.length) {
      val c = cps(i)
      if (if (c < 128) asciiKeeps(c) else keeps(c)) {
        if (gap && j > 0) { cps(j) = ' '; j += 1 }
        gap = false
        cps(j) = c
        j += 1
      } else gap = true
      i += 1
    }
    toUtf8(cps, 0, j)
  }
}

/** The bounded fixpoint of one end-anchored token strip (F2/F3): at most
  * `bound` passes of `trim(regexp_replace(s, "(?U)\b(?:t1|…)$", ""))`,
  * stopping early once a pass changes nothing (every later pass would be
  * the same no-op). `bound = 1` is one pass. */
final class TokenStripper(tokens: Seq[String], bound: Int) extends Serializable {
  require(tokens.nonEmpty && tokens.forall(_.nonEmpty), "tokens must be non-empty strings")
  private val toks: Array[Array[Int]] = tokens.map(_.codePoints().toArray).toArray
  // `\b` at a token's start: the token's first character is a word
  // character iff the one before it must not be
  private val startsWord: Array[Boolean] = toks.map(t => NameKernel.isWord(t(0)))

  def strip(s: UTF8String): UTF8String = {
    val cps = NameKernel.codePoints(s)
    var lo = 0
    var hi = cps.length
    var pass = 0
    var changed = true
    while (changed && pass < bound) {
      changed = false
      // the leftmost match over every token and every end where `$` holds
      var bestP = Int.MaxValue
      var bestLen = 0
      var e = hi
      while (e >= lo && e >= hi - 2) {
        if (dollarAt(cps, lo, hi, e)) {
          var t = 0
          while (t < toks.length) {
            val tok = toks(t)
            val p = e - tok.length
            if (p >= lo && p < bestP && matchesAt(cps, p, tok) && boundaryAt(cps, lo, p, t)) {
              bestP = p
              bestLen = tok.length
            }
            t += 1
          }
        }
        e -= 1
      }
      if (bestP != Int.MaxValue) {
        val tail = hi - (bestP + bestLen)
        if (tail > 0) System.arraycopy(cps, bestP + bestLen, cps, bestP, tail)
        hi -= bestLen
        changed = true
      }
      while (lo < hi && cps(lo) == ' ') { lo += 1; changed = true }
      while (hi > lo && cps(hi - 1) == ' ') { hi -= 1; changed = true }
      pass += 1
    }
    if (lo == 0 && hi == cps.length && s.isFullAscii) s
    else NameKernel.toUtf8(cps, lo, hi)
  }

  /** Java's non-MULTILINE `$` at `e` in `cps[lo, hi)`: the end, before a
    * final `\r\n`, or before a final `\n` (not after `\r`), `\r`, U+0085,
    * U+2028 or U+2029. */
  private def dollarAt(cps: Array[Int], lo: Int, hi: Int, e: Int): Boolean =
    if (e == hi) true
    else if (e == hi - 1) {
      val c = cps(e)
      if (c == '\n') !(e > lo && cps(e - 1) == '\r')
      else c == '\r' || c == 0x85 || c == 0x2028 || c == 0x2029
    } else e == hi - 2 && cps(e) == '\r' && cps(e + 1) == '\n'

  private def matchesAt(cps: Array[Int], p: Int, tok: Array[Int]): Boolean = {
    var i = 0
    while (i < tok.length) {
      if (cps(p + i) != tok(i)) return false
      i += 1
    }
    true
  }

  private def boundaryAt(cps: Array[Int], lo: Int, p: Int, t: Int): Boolean =
    (p > lo && NameKernel.isWord(cps(p - 1))) != startsWord(t)
}

/** Native Catalyst expression for [[NameKernel.normalize]]: stays inside
  * whole-stage codegen, like [[JaroWinklerSimilarity]]. */
case class NormalizeNameKernel(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "normalize_name"

  override protected def nullSafeEval(input: Any): Any =
    NameKernel.normalize(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NameKernel.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeNameKernel =
    copy(child = newChild)
}

/** Native Catalyst expression for a [[TokenStripper]]. The stripper is
  * a reference object of the generated class, so two plans that differ
  * only in their token lists share one compiled class. */
case class StripTokens(child: Expression, tokens: Seq[String], bound: Int)
    extends UnaryExpression {
  @transient private lazy val stripper = new TokenStripper(tokens, bound)

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "strip_tokens"

  override protected def nullSafeEval(input: Any): Any =
    stripper.strip(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stripper", stripper, classOf[TokenStripper].getName)
    defineCodeGen(ctx, ev, c => s"$ref.strip($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): StripTokens =
    copy(child = newChild)
}
