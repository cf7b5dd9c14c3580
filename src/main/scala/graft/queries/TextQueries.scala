package graft.queries

import graft.core.Tables
import graft.dedup.Matching
import graft.ext.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline text operators over the documents table:
  * exact/MinHash/SimHash dedup, n-gram Jaccard, language ID, quality
  * scoring, token counting, winnowing fingerprints. */
object TextQueries {

  private[queries] val NumSigs = 12 // MinHash signatures
  private[queries] val Bands = 6 // LSH bands (r = 2 rows/band)
  private[queries] val ShingleK = 2 // word shingle width
  private val JaccardThreshold = 0.08
  // Hot-bucket governor for the LSH band join (the LSH counterpart of
  // dedup's maxBlockNames cap): a band bucket with n members implies
  // n(n-1)/2 candidate pairs, and a degenerate bucket (shared
  // boilerplate, an exact-copy flood, a band whose two sigs collapse)
  // grows quadratically while contributing near-zero NEW true pairs —
  // its members are caught again by their other 5 bands or by the
  // exact-dedup pre-pass. Shared between the Spark query and its
  // DuckDB twin via interpolation. 5 exercises the governor at test
  // scale (sf0.01's max bucket is 7); at 100 TB the operator reads
  // text_lsh_bucket_stats and sets it to bound per-bucket work, e.g.
  // a few hundred.
  private val LshBucketCap = 5
  // Sequence-packing constants, shared between the Spark query and
  // its DuckDB oracle twin (interpolated into the SQL string below)
  // so the two can't silently drift apart.
  private val PackShards = 16 // at 100 TB raise to O(cluster cores)
  private val PackBudget = 512L // tokens per pack
  // Temperature-resampling corpus budget (fraction of total docs) and
  // export shard count — shared between the Spark queries and their
  // DuckDB oracle twins via interpolation so they can't drift.
  private val TempSampleFrac = 0.5
  private val ExportShards = 8 // at 100 TB = desired output file count

  // Gopher-rule stopword list (Rae et al. 2021 appendix A: a doc must
  // contain ≥2 of these) — shared between the Spark query and its
  // DuckDB twin via interpolation.
  private val GopherStops = Seq(
    "the", "be", "to", "of", "and", "that", "have", "with")
  // DSIR hashed-feature bucket count and target slice. The paper uses
  // 10k buckets over wiki-targeted corpora; 64 keeps every bucket
  // populated at test SF while exercising the identical shape.
  private val DsirBuckets = 64
  private val DsirTargetLang = "en"

  /** Stopword lists for the n-gram language heuristic. */
  private val LangStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "los", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "un"))

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  /** At test SF the documents table is a single small parquet split,
    * so narrow transforms inherit ONE partition — fine for per-row
    * projections, a serialization point for cpu-heavy array/hash
    * work (shingling, md5 signature builds). Spread the scan first:
    * the shuffle moves only the raw text (tiny), the expensive
    * compute then runs cluster-wide. At production scale the scan
    * already has ≥ one split per core, so the repartition is gated on
    * the scan's split count — a 100 TB read never pays a gratuitous
    * full-corpus shuffle just to reach a parallelism it already has. */
  private def docsSpread(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val target = s.sparkContext.defaultParallelism
    // explicit partition count: a bare repartition(col) is an AQE
    // coalescing target, and the post-shuffle byte size of the raw
    // text is tiny — AQE would fold it back to ONE partition and
    // serialize exactly the cpu-heavy compute the spread is for
    if (d.rdd.getNumPartitions >= target) d
    else d.repartition(target, col("doc_id"))
  }

  /** doc_id + distinct word-shingle set. Materialized once per
    * session: the self-joins downstream would otherwise recompute the
    * shingling 4× (this is the "LSH index build" step at scale). */
  private def withShingles(s: SparkSession, dir: String): DataFrame =
    graft.core.Memo.cached(s, s"text_shingles:$dir", truncate = true) {
      docsSpread(s, dir)
        .withColumn("w", TextOps.words(col("text")))
        .select(col("doc_id"), TextOps.shingles(col("w"), ShingleK).as("sh"))
        // a doc with < ShingleK words has NO shingles and hence no
        // MinHash: it does not belong in the signature index (its
        // null-sig rows would all share one band bucket and falsely
        // pair every tiny doc with every other). The DuckDB twins
        // drop such docs implicitly (their pos-join produces no sh
        // rows); the fuzzer caught the Spark side emitting them
        // (tools/fuzz.py: text_minhash_sigs row counts,
        // text_lsh_bucket_stats bucket counts).
        .filter(size(col("sh")) > 0)
    }

  /** doc_id + the 12 MinHash signature columns (cached index; 3 md5
    * evaluations per shingle via digest batching, not 12). */
  private def withSigs(s: SparkSession, dir: String): DataFrame =
    graft.core.Memo.cached(s, s"text_sigs:$dir", truncate = true) {
      val withDigests = withShingles(s, dir)
        .withColumn("digests", TextOps.minhashDigests(col("sh"), NumSigs))
      (0 until NumSigs).foldLeft(withDigests) { (df, i) =>
        df.withColumn(s"sig_$i", TextOps.minhashSigFromDigests(col("digests"), i))
      }.drop("sh", "digests")
    }

  /** (doc_id, band, key) rows — one per LSH band per doc — for a
    * signature frame. */
  private def bandRowsOf(sigs: DataFrame): DataFrame = {
    val banded = sigs.select(col("doc_id") +: (0 until Bands).map(b =>
      TextOps.bandKey(b, Seq(col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}")))
        .as(s"band_$b")): _*)
    banded.select(col("doc_id"), explode(array(
      (0 until Bands).map(b => struct(lit(b).as("band"), col(s"band_$b").as("key"))): _*))
      .as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  /** Largest FULL-corpus band-bucket membership (Memo'd 1-row
    * aggregate over the cached signature index). The governor's size
    * gate: restricting the corpus (rep/sample semi-joins) can only
    * SHRINK buckets, so full-corpus max ≤ cap proves the cap filter
    * keeps every row for any restriction — the window pass can be
    * skipped with a bit-identical result. */
  private def maxBandBucket(s: SparkSession, dir: String): Long =
    Matching.BucketHistogram.of(graft.core.Memo.cached(s, s"text_lsh_maxbucket:$dir") {
      Matching.bucketHistogram(bandRowsOf(withSigs(s, dir)), Seq("band", "key"))
    }.head()).maxBucket

  /** Verified MinHash-LSH near-dup pairs (a_id, b_id, jaccard):
    * band-bucket candidate equi-join over the cached signature index
    * ([[Matching.bandCandidates]]),
    * then exact-Jaccard verification against the cached shingle sets.
    * Shared by `text_lsh_pairs` (pair surface) and
    * `text_neardup_clusters` (doc→cluster mapping).
    *
    * GOVERNED BY DEFAULT: band buckets over `LshBucketCap` members are
    * dropped before the self-join (the same posture the dedup pair
    * join has had since r8). An ungoverned LSH join is quadratic in
    * the hottest bucket — measured 33× pair growth at 10× data on the
    * shared-vocab corpus — so the uncapped path (`bucketCap = None`)
    * is the AUDIT variant (`text_lsh_pairs_allpairs`), not the
    * default. Dropped buckets' members keep their other Bands-1
    * chances at candidacy, which is the standard recall trade every
    * production LSH dedup makes. */
  private def lshPairs(s: SparkSession, dir: String,
      onlyDocs: Option[DataFrame] = None,
      bucketCap: Option[Int] = Some(LshBucketCap)): DataFrame = {
    val sigs0 = withSigs(s, dir)
    val sigs = onlyDocs.fold(sigs0)(ids =>
      sigs0.join(ids.select("doc_id"), Seq("doc_id"), "left_semi"))
    // hot-bucket governor: the count-window drop, size-gated on the
    // Memo'd full-corpus bucket max (VERDICT r11 item 6: the window
    // pass costs 1.3 s vs 0.4 s at sf0.1, so it is skipped when no
    // bucket exceeds the cap). Semantics are unchanged either way.
    val cand = Matching.bandCandidates(bandRowsOf(sigs), "doc_id", Seq("band", "key"),
      bucketCap.map(_.toLong), maxBandBucket(s, dir))
    val sh = withShingles(s, dir)
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .withColumn("jaccard", TextOps.jaccard(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Near-dup DEDUP applied to documents: verified LSH pairs become
    * edges, connected components merge transitive near-dup families,
    * min doc_id elects the canonical doc — the doc→cluster mapping a
    * training pipeline consumes directly.
    *
    * Exact-dedup pre-pass (the standard order at corpus scale: exact
    * THEN near-dup): identical texts have identical shingle sets,
    * signatures and band keys, so LSH over one representative per
    * distinct content yields byte-identical clusters (when uncapped)
    * while collapsing the degenerate O(|copies|²) buckets exact
    * duplicates would otherwise form. Shingle-less docs (fewer than
    * ShingleK words) can never LSH-pair — even with identical
    * content — so they keep per-doc "content" keys and stay
    * singletons, exactly as the all-pairs semantics leaves them.
    * Candidates stay bucket-local and CC runs on the tiny
    * verified-pair set, so the shape survives a 100 TB corpus. */
  private def neardupClusters(s: SparkSession, dir: String,
      bucketCap: Option[Int], sample: Boolean = false): DataFrame = {
    val hw = Window.partitionBy("h")
    // sample=true: the deterministic 25% slice (doc_id % 4 = 0) — the
    // corpus restriction happens FIRST, so every downstream step
    // (exact-dedup pre-pass, rep bands, cap, CC) operates on the
    // sample exactly as the twin's restricted-documents SQL does.
    // This is the sf1-feasible oracle for governed cluster FORMATION
    // (the full-corpus twin's 15M md5s are oracle-infeasible there),
    // mirroring text_lsh_pairs_sample for the join.
    val corpus = if (sample) docs(s, dir).filter(col("doc_id") % 4 === 0)
                 else docs(s, dir)
    val byContent = corpus
      .select(col("doc_id"),
        when(size(TextOps.words(col("text"))) >= ShingleK, md5(col("text")))
          .otherwise(concat(lit("uniq|"), col("doc_id"))).as("h"))
      .withColumn("rep_id", min(col("doc_id")).over(hw))
      .select("doc_id", "rep_id")
    val repIds = byContent.filter(col("doc_id") === col("rep_id"))
      .select("doc_id")
    graft.dedup.Cluster.clusterTable(byContent, "doc_id",
      lshPairs(s, dir, Some(repIds), bucketCap = bucketCap), rep = Some("rep_id"))
  }

  /** Materialize the session-shared Memo indexes (shingle sets, MinHash
    * signatures, SimHash signatures) so per-query bench numbers measure
    * the query, not cache-fill order. */
  def warmIndexes(s: SparkSession, dir: String): Unit =
    // simhash reads the raw docs (word counts), not the shingle/sig
    // memos — the two builds are fully independent, so overlap them
    // (guide §2.6; measured sequential: shingles+sigs 2.5 s,
    // simhash 3.5 s cold)
    graft.core.Par.run(Seq(
      () => withSigs(s, dir).count(): Unit, // builds text_shingles + text_sigs
      () => graft.core.Memo.cached(s, s"text_simhash:$dir", truncate = true) {
        queries("text_simhash")(s, dir)
      }.count(): Unit))

  /** Shared derivation for the two decontamination variants: docs
    * labeled train/val/test by the deterministic md5 split bucket,
    * then (doc_id, distinct word 4-gram) rows for one split. The
    * per-doc array_distinct shrinks the gram table before the
    * explode (the oracle's list_distinct — semantics unchanged:
    * train output is distinct doc_ids, test side is distinct
    * grams); the train side streams its explode straight into the
    * downstream filter/join, never materializing O(total 4-grams)
    * rows. */
  private def contamGrams(s: SparkSession, dir: String, split: String): DataFrame =
    docsSpread(s, dir)
      .filter(splitLabel(splitBucket) === split)
      .select(col("doc_id"),
        explode(array_distinct(TextOps.shingles(TextOps.words(col("text")), 4))).as("g"))

  /** A doc's deterministic split bucket: the first 16 bits of
    * md5("split|" || doc_id), 0..65535. */
  private def splitBucket: Column =
    conv(substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 4), 16, 10)
      .cast("long")

  /** The 90/5/5 train/val/test label of a [[splitBucket]]. */
  private def splitLabel(bucket: Column): Column =
    when(bucket < (65536 * 0.90).toLong, "train")
      .when(bucket < (65536 * 0.95).toLong, "val")
      .otherwise("test")

  // Line-level dedup chunking: non-overlapping 32-word windows (the
  // intra-corpus granularity of MassiveText-style line/paragraph
  // dedup — between per-doc exact dedup and shingle near-dup).
  private val LineWords = 32

  /** Intra-corpus chunk-level exact dedup: split every doc into
    * non-overlapping [[LineWords]]-word chunks, keep only the FIRST
    * occurrence (min (doc_id, chunk_idx)) of each distinct chunk
    * corpus-wide, and re-assemble per doc. One row per doc with its
    * chunk survival counts and the md5 of the kept text.
    *
    * Scale shape: the first-occurrence election windows on the chunk
    * HASH (high-cardinality — shuffles by content like exact dedup,
    * no hot keys), the re-assembly groups by doc_id (bounded per-doc
    * state: collect_list holds one doc's chunks, never a partition's).
    * Both are plain hash shuffles, so the op scales like any equi-join
    * — no pairwise comparison anywhere. */
  private[graft] def lineDedup(docs: DataFrame): DataFrame = {
    val w = col("w")
    val starts = when(size(w) > 0,
      sequence(lit(0), ceil(size(w) / lit(LineWords.toDouble)).cast("int") - 1))
      .otherwise(array().cast("array<int>"))
    val chunks = docs
      .withColumn("w", TextOps.words(col("text")))
      .select(col("doc_id"), col("w"), explode(starts).as("ci"))
      .select(col("doc_id"), col("ci"),
        concat_ws(" ", slice(col("w"), col("ci") * LineWords + 1, lit(LineWords)))
          .as("chunk_text"))
    val kw = Window.partitionBy("h").orderBy("doc_id", "ci")
    chunks.withColumn("h", md5(col("chunk_text")))
      .withColumn("kept", row_number().over(kw) === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws(" ", transform(array_sort(
          collect_list(when(col("kept"), struct(col("ci"), col("chunk_text"))))),
          x => x.getField("chunk_text")))).as("kept_text_hash"))
  }

  // Duplicated-span window length in tokens. Lee et al. 2022
  // ("Deduplicating Training Data Makes Language Models Better",
  // arXiv:2107.06499) remove duplicated substrings of >= 50 BPE
  // tokens found via a suffix array; 8 whitespace tokens exercises
  // the identical shape on the short synthetic docs (10-99 words).
  // Shared with the DuckDB twins via interpolation.
  private[graft] val SpanL = 8

  // BPE merge rounds learned by text_bpe_train (enough to cross from
  // char pairs into multi-char subwords on the synthetic vocabulary).
  private[graft] val BpeRounds = 8

  // Merges learned per pair-count round (Bpe.train's batch knob —
  // the conservative acceptance rule keeps results bit-identical to
  // sequential training at ANY batch, so the sequential DuckDB twin
  // still grades the batched default).
  private[graft] val BpeBatch = 4

  /** Memo'd BPE merge table — ONE training run shared by
    * text_bpe_train and text_bpe_tokens (the same
    * one-producer/many-consumers shape as the k-means assignment). */
  private def bpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.core.Memo.cached(s, s"text_bpe_merges:$dir") {
      graft.ext.Bpe.train(docs(s, dir), "text", BpeRounds, batch = BpeBatch)
    }

  /** DuckDB twin of Bpe.train, mechanically unrolled: each round
    * re-derives pair counts from the previous round's symbol strings
    * and applies the argmax merge via string replace. Symbols are
    * kept DOUBLE-space separated (' a  b  c ') so that consecutive
    * pair occurrences never share separator characters — plain
    * left-to-right replace then matches the Spark side's greedy fold
    * exactly (verified on runs like "a a a a"). Symbols never contain
    * whitespace (words come from a \\s+ split), so the encoding is
    * collision-free. ASCII corpus assumption: the char base comes
    * from Spark's zero-width regex split vs DuckDB's string_split
    * (word, ''), which agree on ASCII; a combining-mark corpus could
    * split differently and is out of oracle scope. */
  private def bpeCtes(rounds: Int): String = {
    val head =
      """WITH w0 AS (
        |  SELECT word,
        |         ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s,
        |         count(*) AS freq
        |  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word
        |        FROM documents)
        |  WHERE len(word) > 0
        |  GROUP BY word
        |)""".stripMargin
    head + (1 to rounds).map { i =>
      s""", e$i AS (
         |  SELECT freq, sym, unnest(generate_series(1, len(sym) - 1)) AS j
         |  FROM (SELECT string_split(trim(s), '  ') AS sym, freq FROM w${i - 1})
         |), b$i AS (
         |  SELECT sym[j] AS l, sym[j + 1] AS r, sum(freq) AS f
         |  FROM e$i GROUP BY 1, 2
         |  ORDER BY f DESC, l, r LIMIT 1
         |), w$i AS (
         |  -- LEFT JOIN ON true + coalesce: when merges exhaust before
         |  -- the round budget, b$i is EMPTY — a cross join would
         |  -- empty every later w CTE and zero the tokens twin, while
         |  -- the Spark side keeps counting real words (ADVICE r11).
         |  -- With the fallback, w$i degrades to w${i - 1} unchanged,
         |  -- matching Spark's no-op merge round exactly.
         |  SELECT w.word, coalesce(replace(w.s, ' ' || b.l || '  ' || b.r || ' ',
         |                 ' ' || b.l || b.r || ' '), w.s) AS s, w.freq
         |  FROM w${i - 1} w LEFT JOIN b$i b ON true
         |)""".stripMargin
    }.mkString
  }

  private def bpeOracleSql(rounds: Int): String =
    bpeCtes(rounds) + (1 to rounds).map { i =>
      s"SELECT CAST($i AS INTEGER) AS rank, l AS lhs, r AS rhs, CAST(f AS BIGINT) AS freq FROM b$i"
    }.mkString("\n", "\nUNION ALL\n", "\nORDER BY rank")

  /** Tokens twin: per-word symbol counts come off the final round's
    * vocabulary table and join back to the doc words — mirroring the
    * Spark side's tokenize-the-vocabulary-once shape. */
  private def bpeTokensOracleSql(rounds: Int): String =
    bpeCtes(rounds) +
      s""", v AS (
         |  SELECT word, len(string_split(trim(s), '  ')) AS n_sub FROM w$rounds
         |), dw AS (
         |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
         |  FROM documents
         |), t AS (
         |  SELECT dw.doc_id, count(*) AS cnt, sum(v.n_sub) AS toks
         |  FROM dw JOIN v ON dw.word = v.word
         |  WHERE len(dw.word) > 0
         |  GROUP BY dw.doc_id
         |)
         |SELECT d.doc_id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS n_words,
         |       CAST(coalesce(t.toks, 0) AS BIGINT) AS n_bpe_tokens
         |FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id
         |ORDER BY d.doc_id""".stripMargin

  /** Every occurrence of a DUPLICATED [[SpanL]]-token window:
    * (doc_id, st, is_canonical), where is_canonical marks the
    * corpus-first occurrence (min (doc_id, st)) of that window's
    * token content. The distributed analogue of the suffix-array
    * duplicate scan: overlapping windows group by CONTENT, so a
    * repeated region of any length >= SpanL surfaces as a run of
    * duplicated window starts.
    *
    * Scale shape: deliberately an aggregate + equi-join rather than
    * count/row_number windows over the span key. The aggregate gets
    * map-side partial combine — a boilerplate window occurring 10^8
    * times (license headers, navigation chrome) collapses to one row
    * per map task before the exchange — and the join back is
    * AQE-skew-splittable, while a sort-window would pin each hot
    * span's entire occurrence list on a single task. The inner join
    * also PRUNES: only duplicated windows (cnt > 1, a small fraction
    * of a real corpus) flow into the island merge.
    *
    * The shuffle key is a 128-bit hash of the token window (two
    * independent-seed xxhash64 passes over the token-slice ARRAY),
    * never the window string: 16 fixed bytes per row instead of a
    * rebuilt ~50-char string, and no concat in the emission loop —
    * window emission is a pure scan + slice + hash, all codegen'd.
    * One 64-bit key starts colliding near 10^10 windows (birthday);
    * the two-seed pair pushes that past any corpus. */
  private[graft] def dupSpanOccurrences(d: DataFrame): DataFrame = {
    def winKey(w: org.apache.spark.sql.Column, st: org.apache.spark.sql.Column,
        seed: Long): org.apache.spark.sql.Column =
      org.apache.spark.sql.GraftBridge.column(
        org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(org.apache.spark.sql.GraftBridge.expression(
            slice(w, st + 1, lit(SpanL)))), seed))
    val occ = d
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .where(size(col("w")) >= SpanL)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("w")) - SpanL)).as("st"), col("w"))
      .select(col("doc_id"), col("st"),
        winKey(col("w"), col("st"), 42L).as("k1"),
        winKey(col("w"), col("st"), 7919L).as("k2"))
    val dup = occ.groupBy("k1", "k2")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("st"))).as("first"))
      .where(col("cnt") > 1)
    occ.join(dup, Seq("k1", "k2"))
      .select(col("doc_id"), col("st"),
        (col("first.doc_id") === col("doc_id") &&
          col("first.st") === col("st")).as("is_canonical"))
  }

  /** Merge duplicated window starts into MAXIMAL spans per doc
    * (gaps-and-islands: windows starting <= SpanL apart overlap or
    * touch, so their covered token ranges are contiguous). Returns
    * one row per (doc_id, island) with min/max start. Shuffles by
    * doc_id; per-doc state is bounded by the doc's own window count,
    * never a partition's. */
  private[graft] def spanIslands(starts: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("st")
    starts
      .withColumn("brk",
        when(coalesce(col("st") - lag("st", 1).over(byDoc),
          lit(SpanL + 1)) > SpanL, 1).otherwise(0))
      .withColumn("gid", sum("brk").over(byDoc))
      .groupBy("doc_id", "gid")
      .agg(min("st").as("mn"), max("st").as("mx"))
  }

  /** Apply span dedup: rebuild each doc's text with every removable
    * (non-canonical duplicated) span cut out — what Lee et al. 2022
    * actually ship to training. No per-token explode: the few cut
    * ranges per doc are collected into an array, equi-joined back to
    * the doc row, and the token drop is a codegen'd higher-order
    * `filter((tok, i) -> !exists(cuts, ...))` evaluated row-local —
    * per-doc work is O(tokens × cuts) with no position-level shuffle.
    * Output carries md5(kept text), not the text, so the artifact
    * stays small while the oracle still grades byte equality. */
  private[graft] def spanDedupApply(d: DataFrame): DataFrame = {
    val cuts = spanIslands(dupSpanOccurrences(d)
        .where(!col("is_canonical")).select("doc_id", "st"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("mn"), col("mx"))).as("cut"))
    d.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), TextOps.words(col("text")).as("w"),
        coalesce(col("cut"),
          array().cast("array<struct<mn:int,mx:int>>")).as("cut"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        filter(col("w"), (_, i) => !exists(col("cut"), r =>
          i >= r.getField("mn") &&
            i <= r.getField("mx") + SpanL - 1)).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        md5(concat_ws(" ", col("kept"))).as("kept_text_hash"))
  }

  // PII patterns, portable across Java regex (Spark) and RE2 (the
  // DuckDB oracle): no backreferences, no lookaround, '-' last in
  // classes.
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\d{2}-\\d{3}-\\d{3}-\\d{4}"

  /** PII scan + redaction over a text column: match counts per
    * pattern and the md5 of the redacted text (emails first, then
    * phones — fixed order so both engines produce the same bytes).
    * Pure per-row regex expressions — streams at scan speed over a
    * 100 TB corpus, no shuffle. */
  private[graft] def piiScan(rows: DataFrame, idCol: String, textCol: String): DataFrame =
    rows.select(col(idCol),
      regexp_count(col(textCol), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(PhoneRe)).cast("long").as("n_phones"),
      md5(regexp_replace(regexp_replace(col(textCol), lit(EmailRe), lit("[EMAIL]")),
        lit(PhoneRe), lit("[PHONE]"))).as("redacted_hash"))

  /** The distinct TEST-side grams, materialized: ~5% of docs then
    * gram-distinct — bounded by the benchmark suite's size, not the
    * corpus (checkpointing the full exploded gram table would write
    * far more than the corpus itself — the same pattern Pipeline
    * rules out for pair rows). Memo-cached per session: three queries
    * (contamination, its Bloom variant, corpus_clean) and Bench's
    * repetitions all share one materialization instead of re-running
    * the gram explode each time. */
  private def contamTestGrams(s: SparkSession, dir: String): DataFrame =
    // key is "text_"-prefixed so Bench's per-family prefix
    // invalidation releases it with the rest of the text indexes
    // NO localCheckpoint inside the build: Memo's persist is the
    // materialization. A checkpoint here double-stores the grams AND
    // leaks — invalidate can only unpersist the persist layer, the
    // checkpoint blocks linger until driver GC. The persist layer
    // (InMemoryRelation) also carries real size stats for the
    // consumers' broadcast decisions, which a checkpoint's LogicalRDD
    // does not.
    graft.core.Memo.cached(s, s"text_contam_grams:$dir") {
      contamGrams(s, dir, "test").select("g").distinct()
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: hash-groupBy with min-id representative election.
    "text_exact_dedup" -> ((s, dir) => {
      val w = Window.partitionBy("content_hash")
      docs(s, dir)
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
        .withColumn("rep_id", min(col("doc_id")).over(w))
        .withColumn("group_size", count(lit(1)).over(w))
        .withColumn("is_canonical", col("doc_id") === col("rep_id"))
        .orderBy("doc_id")
    }),

    // MinHash signatures per doc (strong cross-engine parity check).
    "text_minhash_sigs" -> ((s, dir) =>
      withSigs(s, dir).orderBy("doc_id")),

    // MinHash-LSH near-dup join: band buckets -> candidate pairs ->
    // exact-Jaccard verification, GOVERNED by default (buckets over
    // LshBucketCap members dropped before the self-join — a count
    // window on the join's own shuffle key, so the governor adds no
    // exchange). This is the scale default because an ungoverned LSH
    // join grows with the square of the hottest bucket — measured 33x
    // pair growth at 10x data on this corpus — while every dropped
    // bucket's members keep their other Bands-1 chances at candidacy.
    // The cap is interpolated into the DuckDB twin so both engines
    // govern identically.
    "text_lsh_pairs" -> ((s, dir) =>
      lshPairs(s, dir).orderBy("a_id", "b_id")),

    // the UNgoverned all-pairs LSH join: the audit path (what did the
    // governor cost me?) and the small-corpus path. Deliberately
    // quadratic in the hottest bucket — its DuckDB twin is the one
    // that goes oracle-infeasible at sf1, which is exactly the point
    // of not making it the default.
    "text_lsh_pairs_allpairs" -> ((s, dir) =>
      lshPairs(s, dir, bucketCap = None).orderBy("a_id", "b_id")),

    // the UNgoverned audit over the same deterministic 25% slice as
    // text_lsh_pairs_sample (VERDICT r18 item 3): the full-corpus
    // allpairs twin is oracle-infeasible at sf1 (quadratic in the
    // hottest bucket), so THIS is what the 10x sweep grades for the
    // uncapped code path — and, paired with the governed sample, it
    // measures the governor's cost on an identical slice (the
    // dedup_governed_recall pattern, at the query level).
    "text_lsh_pairs_allpairs_sample" -> ((s, dir) =>
      lshPairs(s, dir, Some(docs(s, dir).filter(col("doc_id") % 4 === 0)),
        bucketCap = None).orderBy("a_id", "b_id")),

    // the governed LSH join over a 25% deterministic doc sample
    // (doc_id % 4 = 0). Per-doc signatures are independent, so
    // restricting the corpus commutes with signature computation; the
    // governor then runs over the SAMPLE's bucket counts in both
    // engines (the twin restricts its documents first, caps second —
    // same order as the Spark plan). This twin exists for the 10x
    // sweep: the full-corpus DuckDB oracle is infeasible at sf1, the
    // sample grades the same code path in ~5 s. Also the production
    // pattern for tuning band/threshold/cap params on a 100 TB
    // corpus: measure on a deterministic slice before paying for the
    // full join.
    "text_lsh_pairs_sample" -> ((s, dir) =>
      lshPairs(s, dir, Some(docs(s, dir).filter(col("doc_id") % 4 === 0)))
        .orderBy("a_id", "b_id")),

    // data-visible skew audit of the LSH band join (the text
    // counterpart of dedup_governor): bucket-count distribution and
    // the candidate-pair volume it implies. At 100 TB this one row
    // is how an operator notices a degenerate band (shared boilerplate,
    // exact-copy floods) BEFORE paying the candidate explosion.
    "text_lsh_bucket_stats" -> ((s, dir) => {
      bandRowsOf(withSigs(s, dir))
        .groupBy("band", "key").agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_buckets"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("singleton_buckets"),
          max(col("n")).as("max_bucket"),
          sum(col("n") * (col("n") - 1) / 2).cast("long").as("candidate_pairs"))
    }),

    // near-dup DEDUP applied to documents: verified LSH pairs become
    // edges, connected components merge transitive near-dup families,
    // min doc_id elects the canonical doc — doc→cluster mapping a
    // training pipeline consumes directly. Candidates stay
    // bucket-local and CC runs on the tiny verified-pair set.
    // GOVERNED by default (hot band buckets over LshBucketCap dropped
    // before the self-join, computed over the REP corpus): the sf10
    // sweep measured the ungoverned path OOM-killed (exit 137, 32 GB)
    // on ~100-member near-dup families while this path finished the
    // identical data in ~3 s (SCALE.md). The rep restriction changes
    // bucket counts under a cap, so the twin models the exact-dedup
    // pre-pass explicitly. Clusters that only connected through a
    // dropped hot bucket may split — the audited recall trade the
    // governor makes everywhere else in this engine.
    "text_neardup_clusters" -> ((s, dir) =>
      neardupClusters(s, dir, bucketCap = Some(LshBucketCap))),

    // the UNgoverned all-pairs audit (what did the governor cost
    // me?): every band bucket self-joins regardless of size. The
    // exact-dedup pre-pass collapses copy-flood buckets, but genuine
    // ~100-member near-dup families still explode quadratically —
    // measured OOM at sf10, which is exactly why it is the audit and
    // not the default (same posture as text_lsh_pairs_allpairs).
    "text_neardup_clusters_allpairs" -> ((s, dir) =>
      neardupClusters(s, dir, bucketCap = None)),

    // the UNgoverned cluster audit over the same 25% slice — the
    // sf1-gradable twin of text_neardup_clusters_allpairs (whose
    // full-corpus recursive twin is oracle-infeasible at 10x).
    "text_neardup_clusters_allpairs_sample" -> ((s, dir) =>
      neardupClusters(s, dir, bucketCap = None, sample = true)),

    // governed cluster formation over the deterministic 25% sample —
    // the sf1-feasible oracle for the scale default above (the
    // full-corpus recursive twin is infeasible there), and the
    // production pattern for tuning cap/band params on a slice
    // before paying for the full corpus.
    "text_neardup_clusters_sample" -> ((s, dir) =>
      neardupClusters(s, dir, bucketCap = Some(LshBucketCap),
        sample = true)),

    // dedup APPLIED: the canonical-only corpus (anti-join of exact
    // duplicates), i.e. what a training-data pipeline actually ships.
    "text_dedup_apply" -> ((s, dir) => {
      val w = Window.partitionBy("content_hash")
      docs(s, dir)
        .withColumn("content_hash", md5(col("text")))
        .withColumn("rep_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("rep_id"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // deterministic split assignment: md5-bucketed train/val/test
    // (90/5/5) — reproducible across engines, runs, and partitionings,
    // unlike rand()-based sampling.
    "text_split" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), splitBucket.as("bucket"))
        .withColumn("split", splitLabel(col("bucket")))
        .orderBy("doc_id")),

    // repetition scoring (Gopher-style quality signal): fraction of
    // duplicate word 3-grams per document — high dup_frac = boilerplate
    // or looping text. Pure array expressions, no shuffle at all.
    "text_repetition" -> ((s, dir) => {
      val g = TextOps.ngrams(TextOps.words(col("text")), 3)
      docs(s, dir)
        .withColumn("g", g)
        .select(col("doc_id"),
          size(col("g")).cast("long").as("n_3grams"),
          size(array_distinct(col("g"))).cast("long").as("n_distinct"),
          round(when(size(col("g")) > 0,
            lit(1.0) - size(array_distinct(col("g"))) /
              size(col("g")).cast("double"))
            .otherwise(lit(0.0)), 6).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // sequence packing (training-batch assembly): assign docs to
    // fixed token-budget packs via an exclusive running token sum.
    // The window is PER (source, shard): `source` alone is
    // low-cardinality, so at 100 TB every source's doc stream would
    // serialize its cumulative sum through ONE partition. The shard
    // is a deterministic md5 bucket of doc_id (same idiom as
    // text_sample_stratified — reproducible across engines, runs and
    // partitionings, no rand()), so window-key cardinality scales
    // with the shard count, not the source count. Packs never mix
    // (source, shard) streams, which is what a real pipeline does
    // anyway — packs are a batching artifact, not a semantic group.
    "text_pack_assign" -> ((s, dir) => {
      val budget = PackBudget
      val shards = PackShards // any value keeps per-shard packing
      // exact and deterministic
      val shard = (conv(substring(md5(concat(lit("pack|"),
        col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long") % shards)
      val w = Window.partitionBy("source", "shard").orderBy("doc_id")
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          size(TextOps.words(col("text"))).cast("long").as("n_tokens"))
        .withColumn("shard", shard)
        .withColumn("cum_excl",
          coalesce(sum(col("n_tokens")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("pack_id", floor(col("cum_excl") / budget).cast("long"))
        .select("doc_id", "source", "shard", "n_tokens", "pack_id")
        .orderBy("doc_id")
    }),

    // stratified mixture sampling: deterministic md5-bucketed keep
    // decision with a per-language rate — the data-mixing/reweighting
    // step of corpus assembly, reproducible across engines, runs and
    // partitionings (no rand()).
    "text_sample_stratified" -> ((s, dir) => {
      val bucket = conv(substring(md5(concat(lit("mix|"),
        col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long")
      val rate = when(col("lang") === "en", lit(1.0))
        .when(col("lang") === "zh", lit(0.25))
        .otherwise(lit(0.5))
      docs(s, dir)
        .select(col("doc_id"), col("lang"), bucket.as("bucket"),
          (bucket < rate * 65536).as("keep"))
        .orderBy("doc_id")
    }),

    // composed cleaning filter (C4-style): the keep/drop verdict a
    // training pipeline applies before tokenization — length band,
    // alphabetic ratio, stopword density, repetition cap — all pure
    // per-row expressions (no shuffle; the orderBy is presentation
    // only), so the filter streams over a 100 TB corpus at scan speed.
    "text_filter_pipeline" -> ((s, dir) => {
      // nullif guards: an empty doc has n_chars = 0 and under ANSI
      // mode (Spark 4 default) a long division by zero FAILS THE JOB
      // — a 100 TB crawl always contains empty docs, so the ratios go
      // through a null divisor (→ null) and every verdict coalesces
      // to a drop instead of an error.
      val nChars = nullif(length(col("text")).cast("long"), lit(0L))
      val nAlpha = regexp_count(col("text"), lit("[A-Za-z]")).cast("long")
      val nWords = size(TextOps.words(col("text"))).cast("long")
      val nStops = regexp_count(lower(col("text")),
        lit("\\b(the|a|of|and|in|to|is)\\b")).cast("long")
      val dupFrac = round(when(size(col("g")) > 0,
        lit(1.0) - size(array_distinct(col("g"))) / size(col("g")).cast("double"))
        .otherwise(lit(0.0)), 6)
      docs(s, dir)
        .withColumn("g", TextOps.ngrams(TextOps.words(col("text")), 3))
        .select(col("doc_id"),
          coalesce(nWords >= 20 && nWords <= 5000, lit(false)).as("len_ok"),
          coalesce((nAlpha / nChars) >= 0.6, lit(false)).as("alpha_ok"),
          coalesce((nStops / nullif(nWords, lit(0L))) >= 0.05, lit(false)).as("stop_ok"),
          coalesce(dupFrac <= 0.05, lit(false)).as("rep_ok"))
        .withColumn("keep",
          col("len_ok") && col("alpha_ok") && col("stop_ok") && col("rep_ok"))
        .orderBy("doc_id")
    }),

    // benchmark decontamination: train-split docs sharing any exact
    // word 4-gram with a test-split doc. The overlap check is a
    // hash semi-join on the 4-gram string — shuffles by gram, never
    // compares documents pairwise, so it scales like any equi-join.
    "text_contamination" -> ((s, dir) => {
      val testGrams = contamTestGrams(s, dir)
      contamGrams(s, dir, "train")
        .join(testGrams, Seq("g"), "left_semi")
        .select("doc_id").distinct()
        .orderBy("doc_id")
    }),

    // the same decontamination with a broadcast Bloom-filter
    // pre-filter on the train side — the 100 TB path. The semi-join
    // above already never compares docs pairwise, but it still
    // SHUFFLES every distinct train 4-gram (O(corpus tokens) rows —
    // at 100 TB that exchange dwarfs the test side by orders of
    // magnitude). The benchmark/test set is small and bounded by
    // construction, so: build a Bloom filter over the distinct test
    // grams ON THE DRIVER (one aggregate; a few MB for millions of
    // grams at 1% fpp), broadcast it, and drop non-candidate train
    // grams at the SCAN, before the exchange. The exact semi-join
    // then runs on the survivors only, killing Bloom false
    // positives — output is bit-identical to text_contamination
    // (same oracle SQL), only the shuffle volume changes. The
    // membership probe is a Scala UDF: Spark exposes no builtin for
    // sketch membership, and the probe sits in the pre-shuffle
    // filter where it prunes, not inside an aggregation loop.
    "text_contamination_bloom" -> ((s, dir) => {
      val testGrams = contamTestGrams(s, dir)
      val n = math.max(testGrams.count(), 1000L)
      val bloom = s.sparkContext.broadcast(
        testGrams.stat.bloomFilter("g", n, 0.01))
      val mightContain = udf((g: String) => bloom.value.mightContainString(g))
      contamGrams(s, dir, "train")
        .filter(mightContain(col("g")))
        .join(testGrams, Seq("g"), "left_semi")
        .select("doc_id").distinct()
        .orderBy("doc_id")
    }),

    // unicode cleaning: NFC + accent folding via the custom
    // UnicodeNorm expression (identity on this ASCII corpus — the
    // unicode behavior is pinned in UnicodeNormSpec).
    "text_clean" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        md5(graft.functions.UnicodeNorm.unicode_norm(
          graft.functions.UnicodeNorm.unicode_norm(col("text"), "nfc"),
          "strip_accents")).as("cleaned_hash"))
        .orderBy("doc_id")),

    // corpus vocabulary: top-100 words by frequency (global sort
    // after a word-count aggregation — the BPE-training precursor).
    "text_vocab" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(TextOps.words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("word").asc)
        .limit(100)),

    // SimHash 32-bit signatures (term-frequency weighted).
    "text_simhash" -> ((s, dir) => {
      val wordCounts = docs(s, dir)
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
        .withColumn("h", TextOps.wordHash32(col("w")))
      val bitSums = (0 until 32).map(i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, col("cnt"))
          .otherwise(-col("cnt"))).as(s"b$i"))
      val sig = (0 until 32).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
      wordCounts.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), sig.as("simhash"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup pairs: byte-band candidate join + Hamming
    // verification (the SimHash analogue of the MinHash LSH path).
    "text_simhash_pairs" -> ((s, dir) => {
      val sigs = graft.core.Memo.cached(s, s"text_simhash:$dir", truncate = true) {
        queries("text_simhash")(s, dir)
      }
      val banded = sigs.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), 8 * b).bitwiseAND(255).as("key"))): _*)).as("bk"))
        .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
      banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
        .distinct()
        // tight near-dup bound: <= 3 of 32 bits. A loose bound (8/32)
        // looked fine on 500 docs but exploded to 170M pairs on a 50k
        // corpus whose docs share vocabulary — pair output must be
        // threshold-bounded, not candidate-bounded, to survive scale.
        .filter(col("hamming") <= 3)
        .orderBy("a_id", "b_id")
    }),

    // direct n-gram Jaccard matrix over a bounded sample — the
    // brute-force baseline the LSH path approximates.
    "text_ngram_jaccard" -> ((s, dir) => {
      val sample = withShingles(s, dir).filter(col("doc_id") < 50)
      sample.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
        .join(sample.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
          col("a_id") < col("b_id"))
        .withColumn("jaccard", TextOps.jaccard(col("a_sh"), col("b_sh")))
        .filter(col("jaccard") >= 0.05)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    }),

    // language ID: stopword-hit scoring with a fixed preference-order
    // tie-break.
    "text_langid" -> ((s, dir) => {
      val scored = LangStops.foldLeft(docs(s, dir)) { case (df, (lang, stops)) =>
        df.withColumn(s"score_$lang",
          regexp_count(lower(col("text")), lit(s"\\b(${stops.mkString("|")})\\b"))
            .cast("long"))
      }
      val Seq(en, es, de, fr) = LangStops.map(l => col(s"score_${l._1}"))
      scored.select(col("doc_id"), col("lang").as("labeled_lang"),
        en, es, de, fr,
        when(en >= es && en >= de && en >= fr, "en")
          .when(es >= de && es >= fr, "es")
          .when(de >= fr, "de")
          .otherwise("fr").as("predicted_lang"))
        .orderBy("doc_id")
    }),

    // language ID, char-trigram variant: frequency profiles matched
    // anywhere in the text (no word boundaries) — robust to
    // agglutinative scripts where stopword tokens don't separate.
    "text_langid_ngram" -> ((s, dir) => {
      val profiles = Seq(
        "en" -> "the|and|ing|ion|ent",
        "es" -> "que|los|ado|nte|cio",
        "de" -> "der|ein|sch|ich|und",
        "fr" -> "les|des|une|eur|ait")
      val scored = profiles.foldLeft(docs(s, dir)) { case (df, (lang, pat)) =>
        df.withColumn(s"tri_$lang",
          regexp_count(lower(col("text")), lit(pat)).cast("long"))
      }
      val Seq(en, es, de, fr) = profiles.map(p => col(s"tri_${p._1}"))
      scored.select(col("doc_id"), en, es, de, fr,
        when(en >= es && en >= de && en >= fr, "en")
          .when(es >= de && es >= fr, "es")
          .when(de >= fr, "de")
          .otherwise("fr").as("predicted_lang"))
        .orderBy("doc_id")
    }),

    // quality scoring: structural ratios + a fixed-form score.
    "text_quality" -> ((s, dir) => {
      val nChars = length(col("text")).cast("long")
      val nAlpha = regexp_count(col("text"), lit("[A-Za-z]")).cast("long")
      val nWords = size(TextOps.words(col("text"))).cast("long")
      val nStops = regexp_count(lower(col("text")), lit("\\b(the|a|of|and|in|to|is)\\b"))
        .cast("long")
      // null divisors (not zero): ANSI-mode long division by zero
      // fails the job on the empty docs every real crawl contains;
      // ratios are null for degenerate docs instead
      val safeChars = nullif(nChars, lit(0L))
      val safeWords = nullif(nWords, lit(0L))
      docs(s, dir).select(col("doc_id"), nChars.as("n_chars"),
        nWords.as("n_words"),
        (nAlpha / safeChars).as("alpha_ratio"),
        (nStops / safeWords).as("stop_ratio"),
        ((nAlpha / safeChars) * 0.5 + (nStops / safeWords) * 0.5).as("quality_score"))
        .orderBy("doc_id")
    }),

    // token counting: whitespace + BPE-ish regex + chars-per-token.
    "text_tokens" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(TextOps.words(col("text"))).cast("long").as("ws_tokens"),
        TextOps.bpeishCount(col("text")).cast("long").as("bpeish_tokens"),
        length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")),

    // document chunking for embedding/RAG pipelines: fixed-size word
    // windows (32 words, stride 24 -> 8-word overlap), one row per
    // chunk with its text and position.
    "text_chunks" -> ((s, dir) => {
      val w = col("w")
      val chunkStarts = when(size(w) > 0,
        sequence(lit(0), greatest(lit(0), ceil((size(w) - lit(32)) / lit(24.0)).cast("int")), lit(1)))
        .otherwise(array().cast("array<int>"))
      docs(s, dir)
        .withColumn("w", TextOps.words(col("text")))
        .select(col("doc_id"), col("w"), explode(chunkStarts).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          (col("chunk_idx") * 24).cast("long").as("start_word"),
          concat_ws(" ", slice(col("w"), col("chunk_idx") * 24 + 1, lit(32))).as("chunk_text"),
          size(slice(col("w"), col("chunk_idx") * 24 + 1, lit(32))).cast("long").as("chunk_words"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // intra-corpus line/chunk-level exact dedup (MassiveText-style):
    // first occurrence of each distinct 32-word chunk survives,
    // per-doc survival counts + kept-text hash come back out.
    "text_line_dedup" -> ((s, dir) =>
      lineDedup(docsSpread(s, dir)).orderBy("doc_id")),

    // exact duplicated-span REPORT (substring-level dedup, Lee et
    // al. 2022): maximal duplicated regions of >= SpanL tokens, one
    // row per (doc, span), every occurrence included. Finer-grained
    // than doc/chunk dedup: catches a copied paragraph inside an
    // otherwise-unique doc.
    "text_span_dupes" -> ((s, dir) =>
      // docsSpread: the per-window xxhash emission is cpu-heavy scan
      // work — spread it off the single test-SF split (guide §2.4)
      spanIslands(dupSpanOccurrences(docsSpread(s, dir)).select("doc_id", "st"))
        .select(col("doc_id"),
          col("mn").cast("long").as("span_start"),
          (col("mx") + SpanL - 1).cast("long").as("span_end"),
          (col("mx") + SpanL - col("mn")).cast("long").as("span_tokens"))
        .orderBy("doc_id", "span_start")),

    // duplicated-span REMOVAL accounting: every window occurrence
    // except the corpus-first is removable; removable windows merge
    // into maximal spans per doc and the kept/removed token counts
    // come out. Docs untouched by dedup appear with removed = 0.
    "text_span_dedup" -> ((s, dir) => {
      val d = docsSpread(s, dir)
      val nTok = d.select(col("doc_id"),
        size(TextOps.words(col("text"))).cast("long").as("n_tokens"))
      val sp = spanIslands(dupSpanOccurrences(d)
        .where(!col("is_canonical")).select("doc_id", "st"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("mx") + SpanL - col("mn")).cast("long").as("removed_tokens"))
      nTok.join(sp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
          (col("n_tokens") - coalesce(col("removed_tokens"), lit(0L)))
            .as("kept_tokens"))
        .orderBy("doc_id")
    }),

    // duplicated-span REMOVAL applied: the cleaned text itself (every
    // non-canonical duplicated span cut out), graded byte-exact
    // through md5. Completes the span family: detect (_dupes) →
    // account (_dedup) → apply (_dedup_apply).
    "text_span_dedup_apply" -> ((s, dir) =>
      spanDedupApply(docsSpread(s, dir)).orderBy("doc_id")),

    // distributed BPE tokenizer training (Sennrich 2016): learn the
    // first BpeRounds merges from the word-frequency table. The
    // corpus is scanned once; each round is one narrow pair-count
    // shuffle over the distinct-word table + a row-local fold, with
    // up to BpeBatch merges learned per round (provably
    // sequential-identical — Bpe.train's batching proof). The merge
    // table is Memo'd so text_bpe_tokens consumes the SAME training
    // run instead of re-training per query (VERDICT r11 item 8).
    "text_bpe_train" -> ((s, dir) => bpeMerges(s, dir).orderBy("rank")),

    // tokenizer-faithful token counts under the learned merges: the
    // DISTINCT-word vocabulary is segmented once (8 chained row-local
    // folds over |vocab| rows) and joined back to the corpus words —
    // the fold chain never runs over corpus-sized data.
    "text_bpe_tokens" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = bpeMerges(s, dir).orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = d
        .select(explode(TextOps.words(col("text"))).as("word"))
        .where(length(col("word")) > 0).distinct()
        .select(col("word"),
          size(graft.ext.Bpe.segment(col("word"), merges)).as("n_sub"))
      val t = d
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
        .where(length(col("word")) > 0)
        .join(vocab, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("cnt"), sum("n_sub").as("toks"))
      d.select("doc_id").join(t, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cnt"), lit(0L)).as("n_words"),
          coalesce(col("toks"), lit(0L)).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // per-source corpus health — the "which sources do I drop" report
    // a 100 TB ingest runs before anything else: volume, language
    // spread, within-source exact-dup rate, and cross-source mirror
    // count (docs whose exact text also appears under ANOTHER source
    // — mirror/leakage signal). groupBy(source) is low-cardinality
    // (partial agg → tiny exchange); the mirror signal shuffles by
    // content hash exactly like exact dedup does, so the whole report
    // is two scans + two narrow exchanges at any corpus size.
    "text_source_stats" -> ((s, dir) => {
      val base = docs(s, dir).select(col("source"), col("lang"),
        col("n_chars"),
        size(TextOps.words(col("text"))).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
      val mirrored = base.groupBy("h")
        .agg(countDistinct(col("source")).as("nsrc"))
      base.join(mirrored, Seq("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("h")).as("n_distinct_docs"),
          sum(when(col("nsrc") > 1, 1L).otherwise(0L)).as("mirror_docs"))
        .withColumn("exact_dup_rate",
          round((col("n_docs") - col("n_distinct_docs")).cast("double")
            / col("n_docs").cast("double"), 6))
        .withColumn("mean_doc_tokens",
          round(col("total_tokens").cast("double")
            / col("n_docs").cast("double"), 4))
        .orderBy("source")
    }),

    // PII scan + redaction. The synthetic corpus contains no PII, so
    // the scan runs over a profile string DERIVED deterministically
    // from the customer table (email from the name, phone from the
    // keys) — the detection/redaction machinery is real and
    // oracle-checked end-to-end; only the input is synthesized, and
    // identically on both engines.
    "text_pii" -> ((s, dir) => {
      val email = concat(lower(regexp_replace(col("c_name"), "#", ".")),
        lit("@example.com"))
      val phone = format_string("%02d-%03d-%03d-%04d",
        col("c_nationkey"), pmod(col("c_custkey"), lit(1000L)),
        pmod(expr("c_custkey div 1000"), lit(1000L)),
        pmod(col("c_custkey"), lit(10000L)))
      val profiled = Tables.customer(s, dir)
        .withColumn("profile", concat_ws(" ",
          col("c_name"), lit("segment"), col("c_mktsegment"),
          lit("contact"), email, lit("phone"), phone))
      piiScan(profiled, "c_custkey", "profile").orderBy("c_custkey")
    }),

    // winnowing document fingerprints: rolling word-4-gram hashes,
    // min over a sliding window of 4, distinct per doc.
    "text_fingerprint" -> ((s, dir) => {
      val w = col("w")
      val kgrams = when(size(w) >= 4,
        transform(sequence(lit(0), size(w) - 4), i =>
          TextOps.wordHash32(concat_ws(" ",
            (0 until 4).map(j => element_at(w, i + j + 1)): _*))))
        .otherwise(array().cast("array<long>"))
      val win = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.currentRow, 3)
      docsSpread(s, dir) // per-position 4-gram hashing is cpu-heavy scan work
        .withColumn("w", TextOps.words(col("text")))
        .select(col("doc_id"), posexplode(kgrams).as(Seq("pos", "h")))
        .withColumn("fp", min(col("h")).over(win))
        .select("doc_id", "fp").distinct()
        .orderBy("doc_id", "fp")
    }),

    // temperature-scaled mixture resampling (the α = 0.5 balancing of
    // multilingual/multi-source corpus assembly): per-source weight =
    // sqrt(bytes), target share = weight / Σweights of a corpus-level
    // doc budget, per-doc deterministic md5 keep at min(1, target/n).
    // sqrt is IEEE-correctly-rounded in both engines and the weight
    // sum runs in DECIMAL, so the rates are bit-identical
    // cross-engine. The per-source table is one row per source at any
    // scale → broadcast; the per-doc keep pass is scan-speed.
    "text_sample_temperature" -> ((s, dir) =>
      temperatureSample(docs(s, dir)).orderBy("doc_id")),

    // deterministic shard + position assignment for training export:
    // shard = md5 bucket of doc_id, position = rank of the doc's hash
    // within its shard — a reproducible global shuffle (adjacent
    // input docs land in unrelated shards/positions) with no rand()
    // and no single global sort. Window cardinality = ExportShards;
    // at 100 TB set it to the output file count (thousands), so each
    // in-shard ordering sorts ~corpus/shards rows via Spark's
    // per-partition external sort — never a global one.
    "text_shard_export" -> ((s, dir) =>
      shardExport(docs(s, dir)).orderBy("doc_id")),

    // corpus-LM quality scoring (CCNet-style): per-doc average bigram
    // log-probability under add-1-smoothed corpus bigram statistics —
    // the LM-fluency filter of a training pipeline, self-trained on
    // the corpus itself. See lmScore for the determinism contract.
    "text_lm_score" -> ((s, dir) =>
      lmScore(docs(s, dir)).orderBy("doc_id")),

    // keyword extraction: top-3 TF-IDF terms per document. Term and
    // doc frequencies are two gram-keyed aggregations; the doc count
    // is a broadcast scalar; the per-doc top-k is a window over the
    // (doc, term) scores — nothing pairwise, nothing densified.
    "text_tfidf" -> ((s, dir) =>
      tfidf(docs(s, dir), 3).orderBy("doc_id", "rank")),

    // the end-to-end corpus-assembly verdict a training pipeline
    // applies per document: exact-dup canonical election AND quality
    // filter AND decontamination AND train-split membership — composed
    // from the SAME building blocks the standalone queries use, so
    // each leg keeps its proven scale shape (hash window, scan-speed
    // expressions, gram semi-join, md5 bucket); the composition adds
    // only doc_id equi-joins.
    "text_corpus_clean" -> ((s, dir) => {
      val exact = queries("text_exact_dedup")(s, dir)
        .select(col("doc_id"), col("is_canonical"))
      val quality = queries("text_filter_pipeline")(s, dir)
        .select(col("doc_id"), col("keep").as("quality_ok"))
      val contam = queries("text_contamination")(s, dir)
        .select(col("doc_id"), lit(true).as("contam_hit"))
      val split = queries("text_split")(s, dir).select("doc_id", "split")
      exact.join(quality, Seq("doc_id")).join(split, Seq("doc_id"))
        .join(contam, Seq("doc_id"), "left")
        .withColumn("contaminated", coalesce(col("contam_hit"), lit(false)))
        .withColumn("keep", col("is_canonical") && col("quality_ok") &&
          !col("contaminated") && (col("split") === "train"))
        .select("doc_id", "is_canonical", "quality_ok", "contaminated",
          "split", "keep")
        .orderBy("doc_id")
    }),

    // one-row corpus profile — the first query run against a new
    // corpus: sizes, source/lang cardinalities, token volume, exact
    // duplication rate. Single pass + distinct aggregates; at 100 TB
    // swap the exact countDistincts for the HLL sketches
    // rel_sketch_stats demonstrates (same shape, mergeable state).
    "text_corpus_stats" -> ((s, dir) =>
      docs(s, dir)
        .select(col("source"), col("lang"), col("n_chars"),
          size(TextOps.words(col("text"))).cast("long").as("n_tokens"),
          md5(col("text")).as("h"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("h")).as("n_distinct_docs"))
        .withColumn("exact_dup_rate",
          round((col("n_docs") - col("n_distinct_docs")).cast("double")
            / col("n_docs").cast("double"), 6))
        .withColumn("mean_doc_tokens",
          round(col("total_tokens").cast("double")
            / col("n_docs").cast("double"), 4))),

    // Gopher-style quality rules (Rae et al. 2021, appendix A): each
    // rule is an independent per-document boolean so downstream can
    // audit WHICH rule dropped a doc; `keep` is their conjunction.
    // Pure column expressions over one scan — no shuffle, no UDF —
    // so the filter runs at scan speed on a 100 TB crawl.
    "text_gopher_rules" -> ((s, dir) =>
      gopherRules(docs(s, dir)).orderBy("doc_id")),

    // DSIR-style importance weights (Xie et al. 2023,
    // arXiv:2302.03169): hashed uni+bigram features, per-doc log
    // importance weight under add-1-smoothed target-vs-raw bucket
    // distributions — the "select raw data that looks like the
    // target domain" sampler of a training pipeline.
    "text_dsir" -> ((s, dir) =>
      dsirWeights(docs(s, dir)).orderBy("doc_id"))
  )

  /** Temperature-resampling core (spec-testable): per-source weight =
    * sqrt(bytes) rounded to 3 dp, DECIMAL-summed; per-doc keep at
    * rate min(1, share · budget / n_docs) via the deterministic md5
    * bucket. */
  def temperatureSample(d: DataFrame): DataFrame = {
    val perSrc = d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_tot"))
      .withColumn("w",
        round(sqrt(col("n_chars_tot").cast("double")), 3).cast("decimal(18,3)"))
    val tot = perSrc.agg(sum(col("w")).as("w_tot"),
      sum(col("n_docs")).as("docs_tot"))
    val rates = perSrc.crossJoin(broadcast(tot))
      .withColumn("rate_raw", least(lit(1.0),
        col("w").cast("double") / col("w_tot").cast("double")
          * col("docs_tot").cast("double") * lit(TempSampleFrac)
          / col("n_docs").cast("double")))
      .select(col("source"), col("rate_raw"))
    val bucket = conv(substring(md5(concat(lit("temp|"),
      col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long")
    d.join(broadcast(rates), "source")
      .select(col("doc_id"), col("source"),
        round(col("rate_raw"), 6).as("rate"),
        (bucket < col("rate_raw") * 65536).as("keep"))
  }

  /** Gopher-rule core (spec-testable): the seven Rae-et-al. document
    * quality rules as independent booleans + their conjunction.
    * Word/line arrays are bound once per row (`withColumn`) so the
    * interpreted higher-order lambdas never re-split the text; every
    * ratio divides by a `nullif` guard (ANSI mode fails the job on
    * the empty docs every crawl contains) and every verdict coalesces
    * null → false, mirroring text_filter_pipeline. */
  def gopherRules(d: DataFrame): DataFrame = {
    val nWords = size(col("ws")).cast("long")
    val safeWords = nullif(nWords, lit(0L))
    val meanLen = aggregate(col("ws"), lit(0L),
      (acc, x) => acc + length(x)).cast("double") / safeWords
    val nAlphaWords = size(filter(col("ws"),
      x => regexp_count(x, lit("[A-Za-z]")) > 0)).cast("long")
    val nSym = (regexp_count(col("text"), lit("#"))
      + regexp_count(col("text"), lit("\\.\\.\\."))).cast("long")
    val nLines = size(col("ls")).cast("long")
    val safeLines = nullif(nLines, lit(0L))
    val nBullet = size(filter(col("ls"),
      l => regexp_count(l, lit("^\\s*[-*•]")) > 0)).cast("long")
    val nEllip = size(filter(col("ls"),
      l => regexp_count(l, lit("\\.\\.\\.$")) > 0)).cast("long")
    val nStopHits = GopherStops.map(st =>
      when(regexp_count(lower(col("text")), lit(s"\\b$st\\b")) > 0, 1L)
        .otherwise(0L)).reduce(_ + _)
    d.withColumn("ws", TextOps.words(col("text")))
      .withColumn("ls", split(col("text"), "\n"))
      .select(col("doc_id"), nWords.as("n_words"),
        round(meanLen, 4).as("mean_word_len"),
        coalesce(nWords >= 50 && nWords <= 100000, lit(false)).as("words_ok"),
        coalesce(meanLen >= 3.0 && meanLen <= 10.0, lit(false)).as("mean_len_ok"),
        coalesce(nSym / safeWords <= 0.1, lit(false)).as("symbol_ok"),
        coalesce(nBullet / safeLines <= 0.9, lit(false)).as("bullet_ok"),
        coalesce(nEllip / safeLines <= 0.3, lit(false)).as("ellipsis_ok"),
        coalesce(nAlphaWords / safeWords >= 0.8, lit(false)).as("alpha_ok"),
        (nStopHits >= 2L).as("stop_ok"))
      .withColumn("keep", col("words_ok") && col("mean_len_ok")
        && col("symbol_ok") && col("bullet_ok") && col("ellipsis_ok")
        && col("alpha_ok") && col("stop_ok"))
  }

  /** DSIR core (spec-testable): features are word uni+bigrams (with
    * multiplicity) hashed into [[DsirBuckets]] md5 buckets; a doc's
    * log importance weight is Σ over its gram occurrences of
    * ln(p_target(b) / p_raw(b)) under add-1-smoothed bucket
    * distributions, target = the [[DsirTargetLang]] slice.
    *
    * Determinism: per-bucket log-ratios are rounded to 6 dp and
    * summed in DECIMAL (the lmScore contract), so per-doc weights
    * never depend on aggregation order; final readouts round at 4 dp
    * (the cross-engine round(double) boundary hazard lmScore
    * documents).
    *
    * Scale: one explode pass aggregates to [[DsirBuckets]] rows with
    * map-side combine (a B-key groupBy — no skew possible), the
    * weight table broadcasts back onto the gram stream, and the
    * per-doc sum combines map-side again. Nothing pairwise, no wide
    * key: the whole sampler is two scans of the gram stream. */
  def dsirWeights(d: DataFrame): DataFrame = {
    val grams = d
      .withColumn("ws", TextOps.words(col("text")))
      .select(col("doc_id"), col("lang"),
        explode(concat(TextOps.ngrams(col("ws"), 1),
          TextOps.ngrams(col("ws"), 2))).as("g"))
      .withColumn("b", pmod(TextOps.wordHash32(col("g")), lit(DsirBuckets.toLong)))
    val counts = grams.groupBy("b").agg(
      count(lit(1)).as("raw_c"),
      sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("tgt_c"))
    val tots = counts.agg(sum(col("raw_c")).as("raw_tot"),
      sum(col("tgt_c")).as("tgt_tot"))
    val weights = counts.crossJoin(broadcast(tots))
      .withColumn("w_dec", round(
        log((col("tgt_c").cast("double") + 1.0)
          / (col("tgt_tot").cast("double") + DsirBuckets))
          - log((col("raw_c").cast("double") + 1.0)
            / (col("raw_tot").cast("double") + DsirBuckets)), 6)
        .cast("decimal(20,6)"))
      .select("b", "w_dec")
    val perDoc = grams.join(broadcast(weights), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("w_dec")).as("sum_logw"))
    // Readout through an EXACT integer (micro-units of the 6-dp
    // DECIMAL sum), then identical IEEE double ops on both engines —
    // no round(double) call at all. round(double, 4) here was a real
    // sf1 failure: the 6-dp sum lands exactly on .00005 boundaries
    // (37/50k docs), where Spark rounds the binary expansion and
    // DuckDB rounds value·1e4 — they disagree by one ulp of the grid.
    val micros = (col("sum_logw") * 1000000).cast("long")
    d.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        (micros.cast("double") / 1000000.0).as("log_weight"),
        ((micros.cast("double") / col("n_grams").cast("double"))
          / 1000000.0).as("avg_logw"))
  }

  /** LM-scoring core (spec-testable): per-doc mean of
    * round(ln((c2+1)/(c1+V)), 6) over the doc's word bigrams, where
    * c2/c1/V are corpus bigram/unigram/vocab statistics.
    *
    * Determinism: each bigram's log-prob is rounded to 6 dp and
    * summed in DECIMAL, so the per-doc mean never depends on
    * aggregation order (a raw double sum would). Scale: both stats
    * joins are gram-keyed equi-joins (shuffle by gram, like the
    * decontamination semi-join — never pairwise); the stats tables
    * are vocab-sized, so on a bounded vocabulary they broadcast. */
  def lmScore(d: DataFrame): DataFrame = {
    val words = d.select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("w"))
    val bigrams = d
      .withColumn("ws", TextOps.words(col("text")))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("ws")) - 2),
          i => struct(element_at(col("ws"), i + 1).as("w1"),
            element_at(col("ws"), i + 2).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    val uni = words.groupBy("w").agg(count(lit(1)).as("c1"))
    val big = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val vocab = words.agg(countDistinct(col("w")).as("v"))
    val scored = bigrams
      .join(big, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp_dec",
        round(log((col("c2").cast("double") + 1.0)
          / (col("c1").cast("double") + col("v").cast("double"))), 6)
          .cast("decimal(20,6)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("logp_dec")).as("sum_logp"))
      // readout with NO rounding call (the text_dsir pattern): the
      // exact DECIMAL sum goes through a BIGINT micro-unit, then two
      // identical IEEE divisions on both engines → bit-identical
      // doubles. The earlier round(double, 4) readout still diverged
      // when the true quotient landed on a .00005 boundary (Spark
      // HALF_UPs the shortest decimal expansion, DuckDB rounds
      // value·10^4) — caught by tools/fuzz.py seed 5 after round 7
      // had already widened the grid from 6 dp to 4 dp.
      .withColumn("avg_logp",
        (col("sum_logp").multiply(lit(1000000)).cast("long").cast("double")
          / 1000000.0) / col("n_bigrams").cast("double"))
    d.select(col("doc_id"))
      .join(scored.select("doc_id", "n_bigrams", "avg_logp"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logp"))
  }

  /** TF-IDF core (spec-testable): per-doc top-k terms by
    * round(tf · ln(N/df), 4), ties broken by term. The window ranks
    * on the ROUNDED score so both engines order identically; 4 dp
    * (not 6) for the same cross-engine round(double) boundary hazard
    * lmScore documents — a transcendental-derived score at 6 dp
    * measurably hits the divergence zone on a 50k-doc corpus. */
  def tfidf(d: DataFrame, k: Int): DataFrame = {
    val words = d.select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("w"))
    val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("w")).crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf").cast("double")
        * log(col("n_docs").cast("double") / col("df").cast("double")), 4))
    val win = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("w").asc)
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "w", "tfidf")
  }

  /** Shard-export core (spec-testable): md5 shard of doc_id + hash
    * rank within the shard — a reproducible global shuffle. */
  def shardExport(d: DataFrame): DataFrame = {
    val h = md5(concat(lit("shard|"), col("doc_id").cast("string")))
    val shard = (conv(substring(col("h"), 1, 4), 16, 10)
      .cast("long") % ExportShards)
    val w = Window.partitionBy("shard")
      .orderBy(col("h").asc, col("doc_id").asc)
    d.select(col("doc_id"), h.as("h"))
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
  }

  // ---------------------------------------------------------------- oracle

  /** Shared DuckDB CTEs: whitespace words with positions, distinct
    * 2-shingles, per-doc signature pivot. The multiply-referenced
    * members are MATERIALIZED: DuckDB inlines each CTE reference by
    * default, so a twin that touches `bands` twice and `sh` twice
    * re-derives the whole shingle→MinHash pipeline 4+ times — at sf1
    * that turned a 16 s oracle into a >10 min one (round 9). The hint
    * is an optimization fence only; results are identical. */
  private[queries] val shingleCte: String =
    s"""WITH w AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w,
       |         generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos
       |  FROM documents
       |), sh AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w AS s
       |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |), sigl AS (
       |  SELECT sh.doc_id, i.i,
       |         min(substr(md5(CAST(i.i // 4 AS VARCHAR) || '|' || sh.s),
       |                    CAST(i.i % 4 AS INTEGER) * 8 + 1, 8)) AS sig
       |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumSigs - 1})) AS i) i
       |  GROUP BY 1, 2
       |), sigs AS MATERIALIZED (
       |  SELECT doc_id,
       |         ${(0 until NumSigs).map(i => s"max(CASE WHEN i = $i THEN sig END) AS sig_$i").mkString(", ")}
       |  FROM sigl GROUP BY 1
       |), shcnt AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
       |)""".stripMargin

  /** [[shingleCte]] over the 25% deterministic sample — the only
    * difference is the corpus restriction in the `w` CTE, exactly
    * mirroring the Spark side's semi-join on sampled doc_ids. */
  private[queries] val shingleCteSample: String =
    shingleCte.replace("FROM documents", "FROM documents WHERE doc_id % 4 = 0")

  /** SimHash signature table CTE (shared by the signature and pair
    * queries). */
  private val simhashCte: String = {
    val bitSums = (0 until 32).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN cnt ELSE -cnt END) AS b$i").mkString(", ")
    val sig = (0 until 32).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH wc AS (
       |  SELECT doc_id, w, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
       |    FROM documents) GROUP BY 1, 2
       |), wh AS (
       |  SELECT doc_id, cnt,
       |         CAST(CAST(concat('0x', substr(md5(w), 1, 8)) AS UBIGINT) AS BIGINT) AS h
       |  FROM wc
       |), bits AS (SELECT doc_id, $bitSums FROM wh GROUP BY 1
       |), sigtab AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  private[queries] val bandsCte: String = {
    val bandRows = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, md5('$b|' || sig_${2 * b} || sig_${2 * b + 1}) AS key FROM sigs")
      .mkString(" UNION ALL ")
    s"bands AS MATERIALIZED ($bandRows)"
  }

  val oracle: Map[String, String] = Map(
    "text_exact_dedup" ->
      """SELECT doc_id, md5(text) AS content_hash,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id,
        |  count(*) OVER (PARTITION BY md5(text)) AS group_size,
        |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_minhash_sigs" ->
      s"""$shingleCte
         |SELECT doc_id, ${(0 until NumSigs).map(i => s"sig_$i").mkString(", ")}
         |FROM sigs ORDER BY doc_id""".stripMargin,

    // governed is the default: the keep/gbands CTEs replicate the
    // bucket-cap governor so both engines drop the same hot buckets
    "text_lsh_pairs" ->
      s"""$shingleCte, $bandsCte, keep AS (
         |  SELECT band, key FROM bands
         |  GROUP BY band, key HAVING count(*) <= $LshBucketCap
         |), gbands AS MATERIALIZED (
         |  SELECT b.doc_id, b.band, b.key
         |  FROM bands b JOIN keep k ON b.band = k.band AND b.key = k.key
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM gbands a JOIN gbands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS i
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sa.s = sb.s
         |  GROUP BY 1, 2
         |)
         |SELECT i.a_id, i.b_id,
         |       i.i / (ca.n + cb.n - i.i) AS jaccard
         |FROM inter i
         |JOIN shcnt ca ON ca.doc_id = i.a_id
         |JOIN shcnt cb ON cb.doc_id = i.b_id
         |WHERE i.i / (ca.n + cb.n - i.i) >= $JaccardThreshold
         |ORDER BY a_id, b_id""".stripMargin,

    "text_lsh_pairs_sample" ->
      s"""$shingleCteSample, $bandsCte, keep AS (
         |  SELECT band, key FROM bands
         |  GROUP BY band, key HAVING count(*) <= $LshBucketCap
         |), gbands AS MATERIALIZED (
         |  SELECT b.doc_id, b.band, b.key
         |  FROM bands b JOIN keep k ON b.band = k.band AND b.key = k.key
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM gbands a JOIN gbands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS i
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sa.s = sb.s
         |  GROUP BY 1, 2
         |)
         |SELECT i.a_id, i.b_id,
         |       i.i / (ca.n + cb.n - i.i) AS jaccard
         |FROM inter i
         |JOIN shcnt ca ON ca.doc_id = i.a_id
         |JOIN shcnt cb ON cb.doc_id = i.b_id
         |WHERE i.i / (ca.n + cb.n - i.i) >= $JaccardThreshold
         |ORDER BY a_id, b_id""".stripMargin,

    // the uncapped audit over the 25% slice: the allpairs twin below
    // with the sampled shingle CTE — sf1-feasible because sampling
    // shrinks the hottest bucket ~4x and its pair count ~16x
    "text_lsh_pairs_allpairs_sample" ->
      s"""$shingleCteSample, $bandsCte, cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS i
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sa.s = sb.s
         |  GROUP BY 1, 2
         |)
         |SELECT i.a_id, i.b_id,
         |       i.i / (ca.n + cb.n - i.i) AS jaccard
         |FROM inter i
         |JOIN shcnt ca ON ca.doc_id = i.a_id
         |JOIN shcnt cb ON cb.doc_id = i.b_id
         |WHERE i.i / (ca.n + cb.n - i.i) >= $JaccardThreshold
         |ORDER BY a_id, b_id""".stripMargin,

    // the uncapped audit twin: deliberately quadratic in the hottest
    // bucket (oracle-infeasible at sf1 — see SCALE.md skips)
    "text_lsh_pairs_allpairs" ->
      s"""$shingleCte, $bandsCte, cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS i
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sa.s = sb.s
         |  GROUP BY 1, 2
         |)
         |SELECT i.a_id, i.b_id,
         |       i.i / (ca.n + cb.n - i.i) AS jaccard
         |FROM inter i
         |JOIN shcnt ca ON ca.doc_id = i.a_id
         |JOIN shcnt cb ON cb.doc_id = i.b_id
         |WHERE i.i / (ca.n + cb.n - i.i) >= $JaccardThreshold
         |ORDER BY a_id, b_id""".stripMargin,

    "text_lsh_bucket_stats" ->
      s"""$shingleCte, $bandsCte, bs AS (
         |  SELECT band, key, count(*) AS n FROM bands GROUP BY 1, 2
         |)
         |SELECT count(*) AS n_buckets,
         |       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS singleton_buckets,
         |       max(n) AS max_bucket,
         |       CAST(sum(n * (n - 1) / 2) AS BIGINT) AS candidate_pairs
         |FROM bs""".stripMargin,

    "text_neardup_clusters_allpairs" -> neardupAllpairsSql,

    // the sf1-gradable sample twin of the uncapped cluster audit:
    // identical SQL restricted to the 25% slice first (the
    // shingleCteSample replace pattern)
    "text_neardup_clusters_allpairs_sample" -> neardupAllpairsSql
      .replace("FROM documents", "FROM documents WHERE doc_id % 4 = 0"),

    // governed clusters (the default): the rep restriction changes
    // bucket counts under a cap, so — unlike the uncapped twin above,
    // which leans on the "rep restriction commutes" argument — this
    // twin models the exact-dedup pre-pass explicitly: grp mirrors
    // Spark's byContent (shingle-able docs group by md5(text),
    // shingle-less docs stay per-doc singletons), bands restrict to
    // reps, the cap applies to REP bucket counts, CC runs over rep
    // edges seeded with every rep, and copies inherit their rep's
    // cluster.
    "text_neardup_clusters" -> neardupGovernedSql,

    // the sf1-feasible sample twin of the governed default: identical
    // SQL with every documents reference restricted to the
    // deterministic 25% slice FIRST (the same replace pattern as
    // shingleCteSample), so restriction-then-cluster matches the
    // Spark plan's order exactly.
    "text_neardup_clusters_sample" -> neardupGovernedSql
      .replace("FROM documents", "FROM documents WHERE doc_id % 4 = 0"),
  ) ++ oracleMid

  /** The uncapped (allpairs) neardup-clusters twin (shared by the
    * full-corpus audit entry and its 25% sample sibling). */
  private lazy val neardupAllpairsSql: String =
    s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ")}, $bandsCte, cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), inter AS (
       |  SELECT c.a_id, c.b_id, count(*) AS i
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.a_id
       |  JOIN sh sb ON sb.doc_id = c.b_id AND sa.s = sb.s
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT i.a_id, i.b_id
       |  FROM inter i
       |  JOIN shcnt ca ON ca.doc_id = i.a_id
       |  JOIN shcnt cb ON cb.doc_id = i.b_id
       |  WHERE i.i / (ca.n + cb.n - i.i) >= $JaccardThreshold
       |), edges AS MATERIALIZED (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs
       |), reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
       |), cc AS (
       |  SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
       |)
       |SELECT doc_id, cluster_id,
       |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |       doc_id = cluster_id AS is_canonical
       |FROM cc ORDER BY doc_id""".stripMargin

  /** The governed neardup-clusters twin (shared by the full-corpus
    * default entry and its 25% sample sibling). */
  private lazy val neardupGovernedSql: String =
      s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ")}, $bandsCte, grp AS MATERIALIZED (
         |  SELECT doc_id,
         |         min(doc_id) OVER (PARTITION BY h) AS rep_id
         |  FROM (
         |    SELECT doc_id,
         |           CASE WHEN doc_id IN (SELECT doc_id FROM sh)
         |                THEN md5(text)
         |                ELSE 'uniq|' || CAST(doc_id AS VARCHAR) END AS h
         |    FROM documents)
         |), rbands AS MATERIALIZED (
         |  SELECT b.doc_id, b.band, b.key
         |  FROM bands b JOIN grp g ON g.doc_id = b.doc_id AND g.doc_id = g.rep_id
         |), keep AS (
         |  SELECT band, key FROM rbands
         |  GROUP BY band, key HAVING count(*) <= $LshBucketCap
         |), gbands AS MATERIALIZED (
         |  SELECT r.doc_id, r.band, r.key
         |  FROM rbands r JOIN keep k ON r.band = k.band AND r.key = k.key
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM gbands a JOIN gbands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS i
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sa.s = sb.s
         |  GROUP BY 1, 2
         |), pairs AS (
         |  SELECT i.a_id, i.b_id
         |  FROM inter i
         |  JOIN shcnt ca ON ca.doc_id = i.a_id
         |  JOIN shcnt cb ON cb.doc_id = i.b_id
         |  WHERE i.i / (ca.n + cb.n - i.i) >= $JaccardThreshold
         |), edges AS MATERIALIZED (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs
         |), reach(id, lbl) AS (
         |  SELECT DISTINCT rep_id, rep_id FROM grp
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
         |), cc AS (
         |  SELECT id AS rep_id, min(lbl) AS cluster_id FROM reach GROUP BY id
         |)
         |SELECT g.doc_id, c.cluster_id,
         |       count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
         |       g.doc_id = c.cluster_id AS is_canonical
         |FROM grp g JOIN cc c ON c.rep_id = g.rep_id
         |ORDER BY g.doc_id""".stripMargin

  private lazy val oracleMid: Map[String, String] = Map(
    "text_dedup_apply" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
        |  FROM documents)
        |WHERE doc_id = rep_id ORDER BY doc_id""".stripMargin,

    "text_split" ->
      s"""SELECT doc_id,
         |  CAST(CAST(concat('0x', substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS BIGINT) AS bucket,
         |  CASE WHEN CAST(concat('0x', substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) < ${(65536 * 0.90).toLong} THEN 'train'
         |       WHEN CAST(concat('0x', substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) < ${(65536 * 0.95).toLong} THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_pack_assign" ->
      s"""SELECT doc_id, source, shard, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source, shard
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    // $PackBudget AS BIGINT) AS pack_id
        |FROM (
        |  SELECT doc_id, source,
        |    CAST(CAST(concat('0x', substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) % $PackShards AS BIGINT) AS shard,
        |    len(string_split_regex(text, '\\s+')) AS n_tokens
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "text_sample_stratified" ->
      """SELECT doc_id, lang, bucket,
        |  bucket < CASE WHEN lang = 'en' THEN 1.0
        |                WHEN lang = 'zh' THEN 0.25
        |                ELSE 0.5 END * 65536 AS keep
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(CAST(concat('0x', substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS INTEGER) AS BIGINT) AS bucket
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "text_filter_pipeline" ->
      """WITH w AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS ws FROM documents
        |), g AS (
        |  SELECT doc_id, text, ws,
        |    CASE WHEN len(ws) >= 3 THEN
        |      list_transform(generate_series(1, len(ws) - 2),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |    ELSE CAST([] AS VARCHAR[]) END AS g
        |  FROM w
        |), s AS (
        |  SELECT doc_id,
        |    len(ws) AS nw,
        |    length(text) AS nc,
        |    len(regexp_extract_all(text, '[A-Za-z]')) AS na,
        |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS ns,
        |    round(CASE WHEN len(g) > 0
        |      THEN 1.0 - len(list_distinct(g)) / CAST(len(g) AS DOUBLE)
        |      ELSE 0.0 END, 6) AS dup_frac
        |  FROM g
        |)
        |SELECT doc_id,
        |  coalesce(nw >= 20 AND nw <= 5000, false) AS len_ok,
        |  coalesce(na / nullif(nc, 0) >= 0.6, false) AS alpha_ok,
        |  coalesce(ns / nullif(nw, 0) >= 0.05, false) AS stop_ok,
        |  coalesce(dup_frac <= 0.05, false) AS rep_ok,
        |  coalesce(nw >= 20 AND nw <= 5000, false)
        |    AND coalesce(na / nullif(nc, 0) >= 0.6, false)
        |    AND coalesce(ns / nullif(nw, 0) >= 0.05, false)
        |    AND coalesce(dup_frac <= 0.05, false) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) >= 3 THEN
        |      list_transform(generate_series(1, len(ws) - 2),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |    ELSE CAST([] AS VARCHAR[]) END AS g
        |  FROM w
        |)
        |SELECT doc_id, CAST(len(g) AS BIGINT) AS n_3grams,
        |       CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
        |       round(CASE WHEN len(g) > 0
        |         THEN 1.0 - len(list_distinct(g)) / CAST(len(g) AS DOUBLE)
        |         ELSE 0.0 END, 6) AS dup_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    "text_contamination" -> ContaminationSql,

    // the Bloom pre-filter is an exact-output optimization (false
    // positives die in the verify semi-join), so the oracle is the
    // SAME query — any divergence means the Bloom path dropped or
    // invented a contaminated doc.
    "text_contamination_bloom" -> ContaminationSql,
  ) ++ oracleTail

  private lazy val ContaminationSql: String =
      s"""WITH w AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents
         |), g AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(ws) >= 4 THEN
         |      list_transform(generate_series(1, len(ws) - 3),
         |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
         |    ELSE CAST([] AS VARCHAR[]) END)) AS g
         |  FROM w
         |), lab AS (
         |  SELECT doc_id,
         |    CASE WHEN CAST(concat('0x', substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) < ${(65536 * 0.90).toLong} THEN 'train'
         |         WHEN CAST(concat('0x', substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) < ${(65536 * 0.95).toLong} THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents
         |), tg AS (
         |  SELECT DISTINCT g.g FROM g JOIN lab USING (doc_id) WHERE split = 'test'
         |)
         |SELECT DISTINCT g.doc_id FROM g JOIN lab USING (doc_id)
         |WHERE split = 'train' AND g.g IN (SELECT g FROM tg)
         |ORDER BY doc_id""".stripMargin

  private lazy val oracleTail: Map[String, String] = Map(
    "text_clean" ->
      """SELECT doc_id, md5(strip_accents(nfc_normalize(text))) AS cleaned_hash
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_vocab" ->
      """SELECT word, count(*) AS freq FROM (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
        |GROUP BY word ORDER BY freq DESC, word ASC LIMIT 100""".stripMargin,

    "text_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
        |), idx AS (
        |  SELECT doc_id, w,
        |         unnest(generate_series(0,
        |           GREATEST(0, CAST(ceil((len(w) - 32) / 24.0) AS INTEGER)))) AS chunk_idx
        |  FROM d WHERE len(w) > 0
        |)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |       CAST(chunk_idx * 24 AS BIGINT) AS start_word,
        |       array_to_string(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk_text,
        |       CAST(len(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS BIGINT) AS chunk_words
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin,

    "text_simhash" ->
      s"""$simhashCte
         |SELECT doc_id, simhash FROM sigtab ORDER BY doc_id""".stripMargin,

    "text_simhash_pairs" ->
      s"""$simhashCte, bands AS (
         |  SELECT doc_id, simhash, k.k AS band,
         |         (simhash >> (8 * k.k)) & 255 AS key
         |  FROM sigtab CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
         |)
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    "text_ngram_jaccard" ->
      s"""$shingleCte, sample AS (SELECT * FROM sh WHERE doc_id < 50),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |  FROM sample a JOIN sample b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT i.a_id, i.b_id, i.i / (ca.n + cb.n - i.i) AS jaccard
         |FROM inter i
         |JOIN shcnt ca ON ca.doc_id = i.a_id
         |JOIN shcnt cb ON cb.doc_id = i.b_id
         |WHERE i.i / (ca.n + cb.n - i.i) >= 0.05
         |ORDER BY a_id, b_id""".stripMargin,

    "text_langid" -> {
      val scores = LangStops.map { case (lang, stops) =>
        s"len(regexp_extract_all(lower(text), '\\b(${stops.mkString("|")})\\b')) AS score_$lang"
      }.mkString(", ")
      """WITH scored AS (SELECT doc_id, lang AS labeled_lang, SCORES FROM documents)
        |SELECT doc_id, labeled_lang, score_en, score_es, score_de, score_fr,
        |  CASE WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
        |       WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
        |       WHEN score_de >= score_fr THEN 'de'
        |       ELSE 'fr' END AS predicted_lang
        |FROM scored ORDER BY doc_id""".stripMargin.replace("SCORES", scores)
    },

    "text_langid_ngram" -> {
      val profiles = Seq(
        "en" -> "the|and|ing|ion|ent",
        "es" -> "que|los|ado|nte|cio",
        "de" -> "der|ein|sch|ich|und",
        "fr" -> "les|des|une|eur|ait")
      val scores = profiles.map { case (lang, pat) =>
        s"len(regexp_extract_all(lower(text), '$pat')) AS tri_$lang"
      }.mkString(", ")
      s"""WITH scored AS (SELECT doc_id, $scores FROM documents)
         |SELECT doc_id, tri_en, tri_es, tri_de, tri_fr,
         |  CASE WHEN tri_en >= tri_es AND tri_en >= tri_de AND tri_en >= tri_fr THEN 'en'
         |       WHEN tri_es >= tri_de AND tri_es >= tri_fr THEN 'es'
         |       WHEN tri_de >= tri_fr THEN 'de'
         |       ELSE 'fr' END AS predicted_lang
         |FROM scored ORDER BY doc_id""".stripMargin
    },

    "text_gopher_rules" -> {
      val stopHits = GopherStops.map(st =>
        s"(CASE WHEN regexp_matches(lower(text), '\\b$st\\b') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT doc_id, text,
         |         string_split_regex(text, '\\s+') AS ws,
         |         string_split(text, chr(10)) AS ls
         |  FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) AS sum_len,
         |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
         |    CAST(len(regexp_extract_all(text, '#'))
         |       + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_sym,
         |    CAST(len(ls) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(ls, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(ls, l -> regexp_matches(l, '\\.\\.\\.$$'))) AS BIGINT) AS n_ellip,
         |    ($stopHits) AS n_stops
         |  FROM b
         |), r AS (
         |  SELECT doc_id, n_words,
         |    round(sum_len / nullif(n_words, 0), 4) AS mean_word_len,
         |    coalesce(n_words >= 50 AND n_words <= 100000, FALSE) AS words_ok,
         |    coalesce(sum_len / nullif(n_words, 0) >= 3.0
         |         AND sum_len / nullif(n_words, 0) <= 10.0, FALSE) AS mean_len_ok,
         |    coalesce(n_sym / nullif(n_words, 0) <= 0.1, FALSE) AS symbol_ok,
         |    coalesce(n_bullet / nullif(n_lines, 0) <= 0.9, FALSE) AS bullet_ok,
         |    coalesce(n_ellip / nullif(n_lines, 0) <= 0.3, FALSE) AS ellipsis_ok,
         |    coalesce(n_alpha / nullif(n_words, 0) >= 0.8, FALSE) AS alpha_ok,
         |    n_stops >= 2 AS stop_ok
         |  FROM m
         |)
         |SELECT *, words_ok AND mean_len_ok AND symbol_ok AND bullet_ok
         |       AND ellipsis_ok AND alpha_ok AND stop_ok AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    },

    "text_dsir" ->
      s"""WITH wpos AS (
         |  SELECT doc_id, lang, unnest(string_split_regex(text, '\\s+')) AS w,
         |         generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, lang, w AS g FROM wpos
         |  UNION ALL
         |  SELECT a.doc_id, a.lang, a.w || ' ' || b.w AS g
         |  FROM wpos a JOIN wpos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |), gb AS MATERIALIZED (
         |  SELECT doc_id, lang,
         |    CAST(CAST(concat('0x', substr(md5(g), 1, 8)) AS UBIGINT) AS BIGINT)
         |      % $DsirBuckets AS b
         |  FROM g
         |), counts AS (
         |  SELECT b, count(*) AS raw_c,
         |         sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END) AS tgt_c
         |  FROM gb GROUP BY 1
         |), tots AS (
         |  SELECT sum(raw_c) AS raw_tot, sum(tgt_c) AS tgt_tot FROM counts
         |), wts AS (
         |  SELECT b, CAST(round(
         |      ln((CAST(tgt_c AS DOUBLE) + 1.0) / (CAST(tgt_tot AS DOUBLE) + $DsirBuckets))
         |    - ln((CAST(raw_c AS DOUBLE) + 1.0) / (CAST(raw_tot AS DOUBLE) + $DsirBuckets)),
         |    6) AS DECIMAL(20,6)) AS w_dec
         |  FROM counts CROSS JOIN tots
         |), per AS (
         |  SELECT gb.doc_id, count(*) AS n_grams, sum(w.w_dec) AS sum_logw
         |  FROM gb JOIN wts w USING (b) GROUP BY 1
         |)
         |SELECT d.doc_id, d.lang,
         |  coalesce(per.n_grams, 0) AS n_grams,
         |  CAST(CAST(per.sum_logw * 1000000 AS BIGINT) AS DOUBLE)
         |    / 1000000.0 AS log_weight,
         |  (CAST(CAST(per.sum_logw * 1000000 AS BIGINT) AS DOUBLE)
         |    / per.n_grams) / 1000000.0 AS avg_logw
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(string_split_regex(text, '\s+')) AS n_words,
        |  len(regexp_extract_all(text, '[A-Za-z]')) / nullif(length(text), 0) AS alpha_ratio,
        |  len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b'))
        |    / len(string_split_regex(text, '\s+')) AS stop_ratio,
        |  (len(regexp_extract_all(text, '[A-Za-z]')) / nullif(length(text), 0)) * 0.5 +
        |  (len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b'))
        |    / len(string_split_regex(text, '\s+'))) * 0.5 AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpeish_tokens,
        |  length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_line_dedup" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
         |), ch AS (
         |  SELECT doc_id,
         |         unnest(generate_series(0,
         |           CAST(ceil(len(w) / $LineWords.0) AS INTEGER) - 1)) AS ci,
         |         w
         |  FROM d WHERE len(w) > 0
         |), ct AS (
         |  SELECT doc_id, ci,
         |         array_to_string(w[ci * $LineWords + 1 : ci * $LineWords + $LineWords], ' ')
         |           AS chunk_text
         |  FROM ch
         |), k AS (
         |  SELECT doc_id, ci, chunk_text,
         |         row_number() OVER (PARTITION BY md5(chunk_text)
         |           ORDER BY doc_id, ci) = 1 AS kept
         |  FROM ct
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       md5(coalesce(string_agg(CASE WHEN kept THEN chunk_text END,
         |         ' ' ORDER BY ci), '')) AS kept_text_hash
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // duplicated-window detection by explicit window-string equality
    // (the Spark side's content grouping, spelled relationally);
    // canonical election via row_number instead of the min-struct
    // aggregate — identical semantics.
    "text_span_dupes" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
         |), s AS (
         |  SELECT doc_id, unnest(generate_series(0, len(w) - $SpanL)) AS st, w
         |  FROM d WHERE len(w) >= $SpanL
         |), win AS (
         |  SELECT doc_id, st, array_to_string(w[st + 1 : st + $SpanL], ' ') AS win
         |  FROM s
         |), k AS (
         |  SELECT doc_id, st, count(*) OVER (PARTITION BY win) AS cnt FROM win
         |), dup AS (
         |  SELECT doc_id, st FROM k WHERE cnt > 1
         |), isl AS (
         |  SELECT doc_id, st,
         |         CASE WHEN lag(st) OVER (PARTITION BY doc_id ORDER BY st) IS NULL
         |              OR st - lag(st) OVER (PARTITION BY doc_id ORDER BY st) > $SpanL
         |           THEN 1 ELSE 0 END AS brk
         |  FROM dup
         |), g AS (
         |  SELECT doc_id, st,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY st) AS gid
         |  FROM isl
         |)
         |SELECT doc_id, CAST(min(st) AS BIGINT) AS span_start,
         |       CAST(max(st) + $SpanL - 1 AS BIGINT) AS span_end,
         |       CAST(max(st) + $SpanL - min(st) AS BIGINT) AS span_tokens
         |FROM g GROUP BY doc_id, gid ORDER BY doc_id, span_start""".stripMargin,

    "text_span_dedup" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
         |), n AS (
         |  SELECT doc_id, len(w) AS n_tokens FROM d
         |), s AS (
         |  SELECT doc_id, unnest(generate_series(0, len(w) - $SpanL)) AS st, w
         |  FROM d WHERE len(w) >= $SpanL
         |), win AS (
         |  SELECT doc_id, st, array_to_string(w[st + 1 : st + $SpanL], ' ') AS win
         |  FROM s
         |), k AS (
         |  SELECT doc_id, st, count(*) OVER (PARTITION BY win) AS cnt,
         |         row_number() OVER (PARTITION BY win ORDER BY doc_id, st) AS rn
         |  FROM win
         |), rem AS (
         |  SELECT doc_id, st FROM k WHERE cnt > 1 AND rn > 1
         |), isl AS (
         |  SELECT doc_id, st,
         |         CASE WHEN lag(st) OVER (PARTITION BY doc_id ORDER BY st) IS NULL
         |              OR st - lag(st) OVER (PARTITION BY doc_id ORDER BY st) > $SpanL
         |           THEN 1 ELSE 0 END AS brk
         |  FROM rem
         |), g AS (
         |  SELECT doc_id, st,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY st) AS gid
         |  FROM isl
         |), sp AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |         CAST(sum(mx + $SpanL - mn) AS BIGINT) AS removed_tokens
         |  FROM (SELECT doc_id, gid, min(st) AS mn, max(st) AS mx
         |        FROM g GROUP BY doc_id, gid)
         |  GROUP BY doc_id
         |)
         |SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
         |       CAST(coalesce(sp.n_spans, 0) AS BIGINT) AS n_spans,
         |       CAST(coalesce(sp.removed_tokens, 0) AS BIGINT) AS removed_tokens,
         |       CAST(n.n_tokens - coalesce(sp.removed_tokens, 0) AS BIGINT)
         |         AS kept_tokens
         |FROM n LEFT JOIN sp ON n.doc_id = sp.doc_id
         |ORDER BY n.doc_id""".stripMargin,

    // same removable islands as text_span_dedup; the apply step is
    // spelled as a positional anti-join (token index NOT covered by
    // any cut range) + ordered string_agg, vs Spark's row-local
    // higher-order filter — byte equality graded through md5.
    "text_span_dedup_apply" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
         |), s AS (
         |  SELECT doc_id, unnest(generate_series(0, len(w) - $SpanL)) AS st, w
         |  FROM d WHERE len(w) >= $SpanL
         |), win AS (
         |  SELECT doc_id, st, array_to_string(w[st + 1 : st + $SpanL], ' ') AS win
         |  FROM s
         |), k AS (
         |  SELECT doc_id, st, count(*) OVER (PARTITION BY win) AS cnt,
         |         row_number() OVER (PARTITION BY win ORDER BY doc_id, st) AS rn
         |  FROM win
         |), rem AS (
         |  SELECT doc_id, st FROM k WHERE cnt > 1 AND rn > 1
         |), isl AS (
         |  SELECT doc_id, st,
         |         CASE WHEN lag(st) OVER (PARTITION BY doc_id ORDER BY st) IS NULL
         |              OR st - lag(st) OVER (PARTITION BY doc_id ORDER BY st) > $SpanL
         |           THEN 1 ELSE 0 END AS brk
         |  FROM rem
         |), g AS (
         |  SELECT doc_id, st,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY st) AS gid
         |  FROM isl
         |), cut AS (
         |  SELECT doc_id, min(st) AS mn, max(st) + $SpanL - 1 AS mx
         |  FROM g GROUP BY doc_id, gid
         |), tok AS (
         |  SELECT doc_id, unnest(generate_series(0, len(w) - 1)) AS i, w
         |  FROM d WHERE len(w) > 0
         |), keep AS (
         |  SELECT t.doc_id, t.i, t.w[t.i + 1] AS tk FROM tok t
         |  WHERE NOT EXISTS (SELECT 1 FROM cut c
         |                    WHERE c.doc_id = t.doc_id
         |                      AND t.i BETWEEN c.mn AND c.mx)
         |)
         |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
         |       CAST(count(k.i) AS BIGINT) AS kept_tokens,
         |       md5(coalesce(string_agg(k.tk, ' ' ORDER BY k.i), ''))
         |         AS kept_text_hash
         |FROM d LEFT JOIN keep k ON d.doc_id = k.doc_id
         |GROUP BY d.doc_id, len(d.w)
         |ORDER BY d.doc_id""".stripMargin,

    "text_bpe_train" -> bpeOracleSql(BpeRounds),

    "text_bpe_tokens" -> bpeTokensOracleSql(BpeRounds),

    "text_source_stats" ->
      """WITH b AS (
        |  SELECT source, lang, n_chars,
        |         len(string_split_regex(text, '\s+')) AS n_tokens,
        |         md5(text) AS h
        |  FROM documents
        |), m AS (
        |  SELECT h, count(DISTINCT source) AS nsrc FROM b GROUP BY h
        |)
        |SELECT b.source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT b.lang) AS BIGINT) AS n_langs,
        |       CAST(sum(b.n_chars) AS BIGINT) AS total_chars,
        |       CAST(sum(b.n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(count(DISTINCT b.h) AS BIGINT) AS n_distinct_docs,
        |       CAST(sum(CASE WHEN m.nsrc > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS mirror_docs,
        |       round((count(*) - count(DISTINCT b.h)) * 1.0 / count(*), 6)
        |         AS exact_dup_rate,
        |       round(sum(b.n_tokens) * 1.0 / count(*), 4) AS mean_doc_tokens
        |FROM b JOIN m ON b.h = m.h
        |GROUP BY b.source
        |ORDER BY b.source""".stripMargin,

    // same profile construction, same patterns, same redaction order;
    // DuckDB regexp_replace needs the explicit 'g' flag to match
    // Spark's replace-all semantics.
    "text_pii" ->
      s"""WITH p AS (
         |  SELECT c_custkey,
         |    c_name || ' segment ' || c_mktsegment || ' contact ' ||
         |    lower(replace(c_name, '#', '.')) || '@example.com' || ' phone ' ||
         |    printf('%02d-%03d-%03d-%04d', c_nationkey, c_custkey % 1000,
         |           (c_custkey // 1000) % 1000, c_custkey % 10000) AS profile
         |  FROM customer)
         |SELECT c_custkey,
         |  CAST(len(regexp_extract_all(profile, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(profile, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(profile, '$EmailRe', '[EMAIL]', 'g'),
         |      '$PhoneRe', '[PHONE]', 'g')) AS redacted_hash
         |FROM p ORDER BY c_custkey""".stripMargin,

    "text_fingerprint" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\s+'), 1) AS pos
        |  FROM documents
        |), kg AS (
        |  SELECT a.doc_id, a.pos,
        |    CAST(CAST(concat('0x', substr(md5(a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w), 1, 8)) AS UBIGINT) AS BIGINT) AS h
        |  FROM w a
        |  JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |  JOIN w d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
        |), fps AS (
        |  SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM kg
        |)
        |SELECT DISTINCT doc_id, fp FROM fps ORDER BY doc_id, fp""".stripMargin,

    // identical weight arithmetic: sqrt → round(3) → DECIMAL sum →
    // double division, so the per-source rates match bit-for-bit.
    "text_sample_temperature" ->
      s"""WITH per_src AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(round(sqrt(CAST(sum(n_chars) AS DOUBLE)), 3) AS DECIMAL(18,3)) AS w
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT sum(w) AS w_tot, sum(n_docs) AS docs_tot FROM per_src),
         |rates AS (
         |  SELECT source, least(1.0,
         |    CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE)
         |      * CAST(docs_tot AS DOUBLE) * $TempSampleFrac
         |      / CAST(n_docs AS DOUBLE)) AS rate_raw
         |  FROM per_src CROSS JOIN tot)
         |SELECT d.doc_id, d.source, round(r.rate_raw, 6) AS rate,
         |  CAST(CAST(concat('0x', substr(md5('temp|' || CAST(d.doc_id AS VARCHAR)), 1, 4))
         |    AS INTEGER) AS BIGINT) < r.rate_raw * 65536 AS keep
         |FROM documents d JOIN rates r USING (source)
         |ORDER BY d.doc_id""".stripMargin,

    "text_shard_export" ->
      s"""WITH h AS (
         |  SELECT doc_id, md5('shard|' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, h,
         |    CAST(CAST(concat('0x', substr(h, 1, 4)) AS INTEGER) % $ExportShards AS BIGINT) AS shard
         |  FROM h)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC) AS BIGINT) AS pos
         |FROM sh ORDER BY doc_id""".stripMargin,

    // same per-bigram round(…,6) → DECIMAL sum → double mean, so the
    // order-sensitive float accumulation never reaches the compare.
    "text_lm_score" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\s+'), 1) AS pos
        |  FROM documents),
        |bg AS (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        |uni AS (SELECT w, count(*) AS c1 FROM w GROUP BY 1),
        |big AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |vocab AS (SELECT count(DISTINCT w) AS v FROM w),
        |scored AS (
        |  SELECT bg.doc_id, count(*) AS n_bigrams,
        |    sum(CAST(round(ln((CAST(big.c2 AS DOUBLE) + 1.0)
        |        / (CAST(uni.c1 AS DOUBLE) + CAST(vocab.v AS DOUBLE))), 6)
        |      AS DECIMAL(20,6))) AS sum_logp
        |  FROM bg JOIN big USING (w1, w2) JOIN uni ON uni.w = bg.w1
        |  CROSS JOIN vocab
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  (CAST(CAST(s.sum_logp * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0)
        |    / CAST(s.n_bigrams AS DOUBLE) AS avg_logp
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "text_tfidf" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.w,
        |    round(CAST(tf.tf AS DOUBLE)
        |      * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 4) AS tfidf
        |  FROM tf JOIN df USING (w) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, w, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, w ASC) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, w, tfidf FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // composition of the exact-dedup, filter-pipeline, split, and
    // contamination oracle fragments above, joined on doc_id.
    "text_corpus_clean" ->
      s"""WITH hx AS (
         |  SELECT doc_id, md5(text) AS h FROM documents
         |), exact AS (
         |  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY h) AS is_canonical
         |  FROM hx
         |), w AS (
         |  SELECT doc_id, text, string_split_regex(text, '\\s+') AS ws FROM documents
         |), g3 AS (
         |  SELECT doc_id, text, ws,
         |    CASE WHEN len(ws) >= 3 THEN
         |      list_transform(generate_series(1, len(ws) - 2),
         |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         |    ELSE CAST([] AS VARCHAR[]) END AS g
         |  FROM w
         |), stats AS (
         |  SELECT doc_id,
         |    len(ws) AS nw, length(text) AS nc,
         |    len(regexp_extract_all(text, '[A-Za-z]')) AS na,
         |    len(regexp_extract_all(lower(text), '\\b(the|a|of|and|in|to|is)\\b')) AS ns,
         |    round(CASE WHEN len(g) > 0
         |      THEN 1.0 - len(list_distinct(g)) / CAST(len(g) AS DOUBLE)
         |      ELSE 0.0 END, 6) AS dup_frac
         |  FROM g3
         |), quality AS (
         |  SELECT doc_id,
         |    coalesce(nw >= 20 AND nw <= 5000, false)
         |      AND coalesce(na / nullif(nc, 0) >= 0.6, false)
         |      AND coalesce(ns / nullif(nw, 0) >= 0.05, false)
         |      AND coalesce(dup_frac <= 0.05, false) AS quality_ok
         |  FROM stats
         |), lab AS (
         |  SELECT doc_id,
         |    CASE WHEN CAST(concat('0x', substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) < ${(65536 * 0.90).toLong} THEN 'train'
         |         WHEN CAST(concat('0x', substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) < ${(65536 * 0.95).toLong} THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents
         |), g4 AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(ws) >= 4 THEN
         |      list_transform(generate_series(1, len(ws) - 3),
         |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
         |    ELSE CAST([] AS VARCHAR[]) END)) AS g
         |  FROM w
         |), tg AS (
         |  SELECT DISTINCT g4.g FROM g4 JOIN lab USING (doc_id) WHERE split = 'test'
         |), contam AS (
         |  SELECT DISTINCT g4.doc_id FROM g4 JOIN lab USING (doc_id)
         |  WHERE split = 'train' AND g4.g IN (SELECT g FROM tg)
         |)
         |SELECT e.doc_id, e.is_canonical, q.quality_ok,
         |  (c.doc_id IS NOT NULL) AS contaminated, lab.split,
         |  e.is_canonical AND q.quality_ok AND c.doc_id IS NULL
         |    AND lab.split = 'train' AS keep
         |FROM exact e
         |JOIN quality q USING (doc_id)
         |JOIN lab USING (doc_id)
         |LEFT JOIN contam c ON c.doc_id = e.doc_id
         |ORDER BY e.doc_id""".stripMargin,

    // DuckDB sum(BIGINT) widens to HUGEINT — cast back for dtype parity.
    "text_corpus_stats" ->
      """WITH base AS (
        |  SELECT source, lang, n_chars,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
        |    md5(text) AS h
        |  FROM documents)
        |SELECT count(*) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  count(DISTINCT h) AS n_distinct_docs,
        |  round(CAST(count(*) - count(DISTINCT h) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS exact_dup_rate,
        |  round(CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
        |    AS mean_doc_tokens
        |FROM base""".stripMargin
  )
}
