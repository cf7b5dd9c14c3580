package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler algorithm (M1 in SURVEY.md §2.1), matching the
  * jellyfish semantics the reference relies on (its engine.py:202-203):
  *
  *  - match window = max(|s1|,|s2|)/2 - 1 (floor, min 0)
  *  - transpositions = (# mismatched matched positions) / 2,
  *    INTEGER division (DuckDB('ABCXXXX','BCAXXXX') = 20/21)
  *  - either side empty → 0.0 (DuckDB('','') = 0.0)
  *  - Winkler boost 0.1 · prefix(≤4) · (1−jaro), only when jaro > 0.7
  *
  * One kernel over code points, as jellyfish reads a Python `str`:
  * a string reaches it through [[NameKernel.codePoints]] (ASCII bytes
  * as they are, anything else decoded), so an astral character is one
  * position, not a surrogate pair. DuckDB's `jaro_winkler_similarity`
  * (the oracle) runs on UTF-8 bytes instead, so the two agree on ASCII
  * names only — the oracle testdata and the fuzzer's name alphabet;
  * JaroWinklerSpec pins non-ASCII values by hand. */
object JaroWinklerAlgo {
  /** The similarity of two strings' code points: the entry the
    * codegen'd [[JaroWinklerSimilarity]] calls. */
  def similarity(s1: UTF8String, s2: UTF8String): Double =
    similarity(NameKernel.codePoints(s1), NameKernel.codePoints(s2))

  /** The kernel, for callers that convert each string once. */
  def similarity(a: Array[Int], b: Array[Int]): Double = {
    val len1 = a.length
    val len2 = b.length
    if (len1 == 0 || len2 == 0) return 0.0
    val range = math.max((if (len1 > len2) len1 else len2) / 2 - 1, 0)

    val matched1 = new Array[Boolean](len1)
    val matched2 = new Array[Boolean](len2)
    var m = 0
    var i = 0
    while (i < len1) {
      val lo = if (i - range > 0) i - range else 0
      val hi = if (i + range < len2 - 1) i + range else len2 - 1
      var j = lo
      var found = false
      while (!found && j <= hi) {
        if (!matched2(j) && a(i) == b(j)) {
          matched1(i) = true
          matched2(j) = true
          m += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0

    var mismatches = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (matched1(i)) {
        while (!matched2(k)) k += 1
        if (a(i) != b(k)) mismatches += 1
        k += 1
      }
      i += 1
    }
    val t = mismatches / 2
    val md = m.toDouble
    val jaro = (md / len1 + md / len2 + (md - t) / md) / 3.0
    if (jaro <= 0.7) return jaro

    val maxPrefix = math.min(4, math.min(len1, len2))
    var l = 0
    while (l < maxPrefix && a(l) == b(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}

/** Native Catalyst expression so the similarity stays inside
  * whole-stage codegen in the pair-join hot path — no UDF
  * serialization, no Row boxing. */
case class JaroWinklerSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(l: Any, r: Any): Any =
    JaroWinklerAlgo.similarity(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinklerAlgo.similarity($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerSimilarity =
    copy(left = newLeft, right = newRight)
}

object functions {
  /** Column-API entry point: `jaro_winkler($"a", $"b")`. */
  def jaro_winkler(l: Column, r: Column): Column =
    GraftBridge.column(JaroWinklerSimilarity(
      GraftBridge.expression(l), GraftBridge.expression(r)))

  /** F1's punctuation and white-space pass as one codegen'd kernel
    * ([[NameKernel.normalize]]). */
  def normalize_name(c: Column): Column =
    GraftBridge.column(NormalizeNameKernel(GraftBridge.expression(c)))

  /** Up to `bound` passes of the end-anchored strip of `tokens`
    * ([[TokenStripper]]). */
  def strip_tokens(c: Column, tokens: Seq[String], bound: Int): Column =
    GraftBridge.column(StripTokens(GraftBridge.expression(c), tokens, bound))
}
