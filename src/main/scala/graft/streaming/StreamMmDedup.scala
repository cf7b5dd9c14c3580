package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming perceptual-hash NEAR-duplicate detection for images —
  * the continuous counterpart of the batch `mm_neardup` hamming-LSH
  * join, completing the modality symmetry: text has
  * [[StreamNearDup]] (MinHash), embeddings have [[StreamAnnDedup]]
  * (sign-LSH cosine), images get dHash band buckets with exact
  * XOR-popcount verification in keyed state.
  *
  * Shape: each image arrives as its 64-bit dHash pre-sliced into four
  * 16-bit bands (the decode stage runs upstream at ingest — the
  * stream is the DEDUP state path) and is routed to one keyed-state
  * bucket per band (key = band·2^16 + value, the same fan-out as the
  * batch band join). A bucket keeps a bounded list of representative
  * hashes; an arriving image is compared against them and emits a
  * pair per representative within `maxHamming` of its full 64-bit
  * hash. Hamming over four ints is the identical integer computation
  * the batch join's codegen'd `bit_count(a ^ b)` performs, so stream
  * and batch agree bit-for-bit — no rounding contract needed (the
  * cosine paths' one subtlety doesn't exist in hamming space).
  *
  * State layout: the packed primitive arrays of [[BucketReps]] — a
  * bucket's reps are an id array plus a flat int array (rep r's four
  * bands at [4r, 4r+4)).
  *
  * Scale/state design: state is per band bucket — a keyed aggregation
  * any cluster spreads like a shuffle; buckets cap at `maxReps` reps
  * and expire `delay` after their newest image (event-time timeout),
  * bounding state at O(active buckets · maxReps), not O(history).
  * `addMatchedReps = true` is the audit/backfill mode whose emitted
  * pairs are exactly the batch band-bucket relation — the mode the
  * DuckDB-graded `stream_incremental_mmdedup` query runs. */
object StreamMmDedup {

  case class BandHash(bkey: Long, media_id: Long, ts: Timestamp,
      h0: Int, h1: Int, h2: Int, h3: Int)
  case class BucketState(ids: Array[Long], hs: Array[Int])
  case class Candidate(a_id: Long, b_id: Long, bkey: Long, hamming: Int)

  /** Candidate near-dup pairs from a stream of dHashed images.
    *
    * @param stream frame with idCol, tsCol and the four 16-bit band
    *               columns (b0..b3) of each image's dHash
    * @param maxHamming exact-verify threshold (≤ 3 guarantees the
    *               banding is lossless — see Multimodal.dhashBands)
    * @param addMatchedReps audit mode: every image becomes a rep, so
    *               the emitted pairs (distinct over buckets) are
    *               exactly the batch mm_neardup relation. Production
    *               drops matched images as reps and caps hot buckets. */
  def candidatePairs(stream: DataFrame, idCol: String,
      bandCols: Seq[String] = Seq("b0", "b1", "b2", "b3"),
      tsCol: String = "ts", delay: String = "1 hour",
      maxHamming: Int = 3, maxReps: Int = 64,
      addMatchedReps: Boolean = false)(
      implicit spark: SparkSession): Dataset[Candidate] = {
    import spark.implicits._
    require(bandCols.length == 4, s"need 4 band columns, got $bandCols")

    val banded = stream
      .select(col(idCol).cast("long").as("media_id"), col(tsCol).as("ts"),
        col(bandCols(0)).cast("int").as("h0"), col(bandCols(1)).cast("int").as("h1"),
        col(bandCols(2)).cast("int").as("h2"), col(bandCols(3)).cast("int").as("h3"))
      .select(col("media_id"), col("ts"),
        col("h0"), col("h1"), col("h2"), col("h3"),
        posexplode(array(col("h0"), col("h1"), col("h2"), col("h3")))
          .as(Seq("band", "bval")))
      .withColumn("bkey", col("band").cast("long") * 65536L + col("bval"))
      .select("bkey", "media_id", "ts", "h0", "h1", "h2", "h3")
      .withWatermark("ts", delay)
      .as[BandHash]

    new BucketReps[Long, BandHash, Int, BucketState, Candidate](
        "dHash", delay, maxReps, addMatchedReps) {
      def id(x: BandHash): Long = x.media_id
      def ts(x: BandHash): Long = x.ts.getTime
      def width(x: BandHash): Int = 4
      def put(x: BandHash, hs: Array[Int], o: Int): Unit = {
        hs(o) = x.h0; hs(o + 1) = x.h1; hs(o + 2) = x.h2; hs(o + 3) = x.h3
      }
      def pair(hs: Array[Int], o: Int, x: BandHash, key: Long,
          lo: Long, hi: Long): Option[Candidate] = {
        val ham = Integer.bitCount(hs(o) ^ x.h0) +
          Integer.bitCount(hs(o + 1) ^ x.h1) +
          Integer.bitCount(hs(o + 2) ^ x.h2) +
          Integer.bitCount(hs(o + 3) ^ x.h3)
        if (ham <= maxHamming) Some(Candidate(lo, hi, key, ham)) else None
      }
      def unpack(s: BucketState): (Array[Long], Array[Int]) = (s.ids, s.hs)
      def pack(ids: Array[Long], hs: Array[Int]): BucketState = BucketState(ids, hs)
    }.candidates(banded, _.bkey)
  }
}
