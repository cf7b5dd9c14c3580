package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class JaroWinklerSpec extends AnyFunSuite {
  private def jw(a: String, b: String) =
    JaroWinklerAlgo.similarity(UTF8String.fromString(a), UTF8String.fromString(b))

  test("matches DuckDB jaro_winkler_similarity on pinned cases") {
    // every expected value captured from DuckDB (the oracle engine)
    assert(jw("", "") == 0.0)
    assert(jw("a", "") == 0.0)
    assert(jw("a", "a") == 1.0)
    assert(jw("DIXON", "DICKSONX") == 0.8133333333333332)
    assert(jw("MARTHA", "MARHTA") == 0.9611111111111111)
    assert(jw("DWAYNE", "DUANE") == 0.8400000000000001)
    assert(jw("JELLYFISH", "SMELLYFISH") == 0.8962962962962964)
    assert(jw("ABCVWXYZ", "CABVWXYZ") == 0.9583333333333334)
    assert(jw("AB", "BA") == 0.0)
    assert(jw("ABC", "CBA") == 0.5555555555555555)
    assert(jw("ABCD", "BADC") == 0.8333333333333334)
    assert(jw("X", "XX") == 0.8500000000000001)
    assert(jw("CUSTOMER 000000001", "CUSTOMER 000000002") == 0.9777777777777777)
    assert(jw("TATA CONSULTANCY SERVICES", "TATA CONSULTANCY SERVICES LIMITED")
      == 0.9515151515151515)
    assert(jw("IBM", "IBM INDIA") == 0.8444444444444443)
    assert(jw("AAAB", "AAB") == 0.9333333333333333)
    // integer transposition halving (3 mismatched positions -> t=1)
    assert(jw("ABCXXXX", "BCAXXXX") == 0.9523809523809524 ||
      // jw applies no boost here? prefix 0 chars -> boost irrelevant
      jw("ABCXXXX", "BCAXXXX") == 0.9523809523809524)
  }

  test("non-ASCII runs on code points (reference-faithful) — DuckDB's byte dialect documented") {
    // The reference (jellyfish via engine.py) compares Python str CODE
    // POINTS, and so does the kernel here. DuckDB's
    // jaro_winkler_similarity runs on UTF-8 BYTES instead — measured
    // 0.84833… for ('café','cafe') where the code-point answer is
    // 0.88333… — so JW parity with the oracle holds only on ASCII
    // names (the oracle testdata; the fuzzer's name alphabet is
    // ASCII for the same reason, tools/fuzz.py). Non-ASCII behavior
    // is pinned HERE against hand-computed code-point values.
    //
    // 'café' vs 'cafe': len 4/4, m=3, t=0 → jaro (¾+¾+1)/3 = 0.8333…,
    // prefix 3 → 0.8333… + 0.3·(1−0.8333…)
    assert(jw("caf\u00e9", "cafe") == 0.8833333333333334)
    // 'トヨタ' vs 'トヨダ': 3 code points each, window 0, m=2 →
    // jaro (⅔+⅔+1)/3 = 0.7777…, prefix 2 → + 0.2·(1−0.7777…)
    assert(jw("トヨタ", "トヨダ") == 0.8222222222222222)
    // composed é (U+00E9) vs decomposed e+◌́ (65 301): DIFFERENT code
    // points, no canonical folding in the kernel — m=3 of len 4/5 →
    // jaro (3/5+3/4+1)/3 = 0.7833…, prefix 3 → 0.8483…. Fold
    // spellings upstream with unicode_norm('nfc') when corpora mix
    // them (UnicodeNormSpec).
    assert(jw("caf\u00e9", "cafe\u0301") == 0.8483333333333334)
    assert(jw("CAFÉ", "CAFÉ") == 1.0)
    // 'MÜNCHEN' vs 'MUNCHEN': m=6 of 7/7 → jaro (6/7+6/7+1)/3, prefix 1
    assert(jw("MÜNCHEN", "MUNCHEN") == 0.9142857142857143)
    // astral characters are ONE code point each, not a surrogate pair:
    // the two emoji share a high surrogate but no code point
    assert(jw("\uD83D\uDE00", "\uD83D\uDE01") == 0.0)
    assert(jw("\uD83D\uDE00AB", "\uD83D\uDE00AC") == 0.8222222222222222)
    assert(jw("A\uD835\uDD38BC", "A\uD835\uDD38BD") == 0.8833333333333334)
  }

  test("properties: range, symmetry, identity") {
    val rnd = new scala.util.Random(42)
    def randStr() = {
      val n = rnd.nextInt(15)
      (0 until n).map(_ => ('A' + rnd.nextInt(4)).toChar).mkString
    }
    for (_ <- 1 to 2000) {
      val a = randStr(); val b = randStr()
      val v = jw(a, b)
      assert(v >= 0.0 && v <= 1.0, s"range: '$a' '$b' -> $v")
      assert(v == jw(b, a), s"symmetry: '$a' '$b'")
      if (a.nonEmpty) assert(jw(a, a) == 1.0, s"identity: '$a'")
    }
  }
}
