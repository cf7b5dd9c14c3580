package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis + fingerprinting column functions for LLM-data
  * pipelines (north-star extensions, SURVEY.md §7): tokenization
  * stats, language ID, quality scoring, shingling, MinHash, SimHash,
  * winnowing fingerprints. All pure `functions._` compositions —
  * codegen'd, no UDFs — so they distribute with zero serialization
  * overhead and stay inside whole-stage codegen at 100 TB.
  *
  * Hash family: md5 (hex-string compare = unsigned byte compare),
  * chosen because every engine agrees on it bit-for-bit — signatures
  * are reproducible across Spark, DuckDB, and any future backend. */
object TextOps {

  /** Whitespace tokens (Python str.split-style). */
  def words(text: Column): Column = split(text, "\\s+")

  /** GPT2-pretokenizer-flavored token count: letter runs, single
    * digits, single non-alphanumeric marks. */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  /** All word k-grams in order (NOT deduped — repetition scoring
    * needs the multiplicity). Empty array when the doc has fewer than
    * k words (guards sequence() against negative bounds).
    *
    * The single-element outer transform is a let-binding: higher-order
    * lambdas are interpreted (not codegen'd) and interpreted mode has
    * no common-subexpression elimination, so a caller passing a
    * computed `wordsCol` (e.g. `words(col)` = a regex split) would
    * otherwise re-evaluate it on EVERY element access inside the
    * lambda — measured 15× slower on the shingle path. Binding it as
    * a lambda variable evaluates it exactly once per row no matter
    * what expression the caller passes. */
  def ngrams(wordsCol: Column, k: Int): Column =
    transform(array(wordsCol), w =>
      when(size(w) >= k,
        transform(sequence(lit(0), size(w) - k),
          i => array_join(slice(w, i + 1, lit(k)), " ")))
        .otherwise(array().cast("array<string>")))
      .getItem(0)

  /** Distinct word k-shingles ("a b c" strings). */
  def shingles(wordsCol: Column, k: Int): Column =
    array_distinct(ngrams(wordsCol, k))

  /** Batched MinHash: each md5 digest is 128 bits = four independent
    * 32-bit components (8 hex chars each), so n signatures need only
    * ceil(n/4) md5 evaluations per shingle — and the md5 count
    * dominates LSH index build cost. [[minhashDigests]] materializes
    * the concatenated digests once per shingle (as a real column, so
    * the per-signature extraction can't re-trigger the hashing);
    * signature i is then min over shingles of hex chars
    * [8i, 8i+8) — lexicographic min ≡ unsigned 32-bit min. */
  def minhashDigests(shinglesCol: Column, n: Int): Column = {
    val groups = (n + 3) / 4
    transform(shinglesCol, s =>
      concat((0 until groups).map(g => md5(concat(lit(s"$g|"), s))): _*))
  }

  /** Signature i from a [[minhashDigests]] column. */
  def minhashSigFromDigests(digestsCol: Column, i: Int): Column =
    array_min(transform(digestsCol, d => substring(d, i * 8 + 1, 8)))

  /** LSH band key over consecutive signature columns. */
  def bandKey(band: Int, sigs: Seq[Column]): Column =
    md5(concat(lit(s"$band|") +: sigs: _*))

  /** 32-bit word hash from the md5 prefix — the bit source for
    * SimHash and winnowing fingerprints. */
  def wordHash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Exact Jaccard over two distinct-element arrays. NULL when both
    * are empty (|a∪b| = 0): mirrors SQL division-by-zero semantics
    * (DuckDB x/0 = NULL; plain `/` under Spark's default ANSI mode
    * instead THROWS, which the differential fuzzer caught on a pair
    * of whitespace-only docs — tools/fuzz.py seed 1), so downstream
    * `jaccard >= θ` filters drop the degenerate pair in both engines
    * rather than crashing one of them. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    try_divide(inter, size(a) + size(b) - inter)
  }
}
