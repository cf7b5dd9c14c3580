package graft.streaming

import graft.ext.Ann
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming sign-LSH NEAR-duplicate detection over an embedding
  * stream — the continuous counterpart of the batch
  * [[Ann.lshPairs]] bucketed join, and the embedding-space sibling of
  * [[StreamNearDup]] (MinHash over text).
  *
  * Shape: each vector is normalized and routed to ONE keyed-state
  * bucket — its sign-LSH signature (bit j = v·plane_j > 0), computed
  * by the same column expressions the batch join uses, so stream and
  * batch agree on candidacy bit-for-bit. The bucket keeps a bounded
  * list of representative unit vectors; an arriving vector is
  * compared against them and emits a pair per representative whose
  * exact cosine clears `minCos`.
  *
  * Cross-engine determinism of the in-state cosine: the dot product
  * runs in INDEX ORDER (the same contract as the codegen'd
  * [[graft.functions.VectorAlgo.dot]] and the DuckDB twins'
  * list_sum-over-list_transform), and the 6-dp rounding is the exact
  * call Spark's own Round expression makes on a double — so a pair's
  * `cos` is bit-identical whether it was scored in keyed state, in a
  * whole-stage-codegen'd batch join, or by the DuckDB oracle.
  *
  * Scale/state design: state is per sign-LSH bucket (2^planes keys)
  * — a keyed aggregation any cluster spreads like a shuffle. Buckets
  * cap at `maxReps` representatives and expire `delay` after their
  * newest vector (event-time timeout), bounding total state at
  * O(active buckets · maxReps · dim), not O(history). The RocksDB
  * state store provider lifts the per-executor bound off-heap with
  * zero code change (RocksDbStateSpec proves provider-agnosticism
  * for the shared keyed-state pattern). */
object StreamAnnDedup {

  case class BucketVec(bucket: Long, vec_id: Long, ts: Timestamp, u: Array[Double])
  /** Bucket reps as packed primitives ([[BucketReps]]): `us` holds
    * `vec_ids.length` consecutive `dim`-double unit vectors; the
    * first rep fixes `dim`, and a vector of another dimension fails
    * with "embedding dimension mismatch". */
  case class BucketState(vec_ids: Array[Long], us: Array[Double])
  case class Candidate(a_id: Long, b_id: Long, bucket: Long, cos: Double)

  /** Index-ordered dot + Spark-Round-identical 6-dp HALF_UP — see
    * the determinism note in the object scaladoc. Dimensions must
    * match: the batch DotProduct path this claims bit-identity with
    * would never silently accept a dim mismatch, so a schema drift
    * must surface as an error here too, not as a plausible-but-wrong
    * truncated cosine. */
  private[streaming] def cosine6(a: Seq[Double], b: Seq[Double]): Double = {
    require(a.length == b.length,
      s"embedding dimension mismatch: ${a.length} vs ${b.length}")
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    BigDecimal(s).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** [[cosine6]] against a rep packed at `off` in a flat rep array —
    * identical arithmetic (index-ordered sum, same rounding), zero
    * per-pair allocation. */
  private def cosine6Packed(us: Array[Double], off: Int, b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < b.length) { s += us(off + i) * b(i); i += 1 }
    BigDecimal(s).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Offline drain of a [[candidatePairs]] checkpoint's keyed state:
    * the rep vector ids currently held across all buckets, read
    * through Spark's state data source (public API — no checkpoint
    * surgery, works against a stopped query's checkpoint under either
    * state store provider).
    *
    * This is step 1 of the RE-INDEX migration (the fixed sign-LSH
    * geometry is right for state-key stability, but a growing corpus
    * eventually makes its 2^planes buckets hot — the batch side grew
    * a volume-derived plane governor for exactly that reason): drain
    * the ids, join them back to the embeddings table for their
    * original vectors (re-normalizing the in-state unit vectors would
    * double-round and break bit-parity with the batch relation), and
    * replay them as the first batch of a FRESH checkpoint keyed under
    * the new plane set; live ingestion then resumes on the new
    * checkpoint. StreamAnnReindexSpec pins the end-to-end migration:
    * post-migration pairs equal the batch [[Ann.lshPairs]] relation
    * under the new geometry, bit-for-bit. */
  def drainStateIds(spark: SparkSession, checkpointDir: String): DataFrame =
    spark.read.format("statestore").option("path", checkpointDir).load()
      .select(explode(col("value.groupState.vec_ids")).as("vec_id"))
      .distinct()

  /** Candidate near-dup pairs from a stream of embeddings.
    *
    * @param stream  streaming (or batch, for tests/backfills) frame
    * @param idCol   long-castable vector id column
    * @param embCol  array<float|double> embedding column; zero-norm
    *                vectors normalize to the zero vector (cos 0 —
    *                never a match) exactly as [[Ann.prepared]]
    * @param planes  sign-LSH hyperplanes ([[Ann.hyperplanes]])
    * @param addMatchedReps audit/backfill mode: every vector becomes
    *                a rep, so the emitted pairs are exactly the batch
    *                [[Ann.lshPairs]] relation (all same-bucket pairs
    *                with cos ≥ minCos) — the mode the DuckDB-graded
    *                `stream_incremental_ann` query runs. Production
    *                keeps the default: matched vectors are dropped as
    *                reps and `maxReps` bounds hot buckets. */
  def candidatePairs(stream: DataFrame, idCol: String, embCol: String,
      planes: Seq[Seq[Double]], tsCol: String = "ts", delay: String = "1 hour",
      minCos: Double = 0.5, maxReps: Int = 64,
      addMatchedReps: Boolean = false)(
      implicit spark: SparkSession): Dataset[Candidate] = {
    import spark.implicits._

    val v = Ann.toDouble(col(embCol))
    val banded = stream
      .select(col(idCol).cast("long").as("vec_id"), col(tsCol).as("ts"), v.as("v"))
      .withColumn("nrm", Ann.l2Norm(col("v")))
      .withColumn("u", transform(col("v"),
        x => x / when(col("nrm") === 0.0, lit(1.0)).otherwise(col("nrm"))))
      .withColumn("bucket", Ann.lshBucket(col("v"), planes))
      .select("bucket", "vec_id", "ts", "u")
      .withWatermark("ts", delay)
      .as[BucketVec]

    new BucketReps[Long, BucketVec, Double, BucketState, Candidate](
        "embedding", delay, maxReps, addMatchedReps) {
      def id(x: BucketVec): Long = x.vec_id
      def ts(x: BucketVec): Long = x.ts.getTime
      def width(x: BucketVec): Int = x.u.length
      def put(x: BucketVec, us: Array[Double], off: Int): Unit =
        System.arraycopy(x.u, 0, us, off, x.u.length)
      def pair(us: Array[Double], off: Int, x: BucketVec, key: Long,
          lo: Long, hi: Long): Option[Candidate] = {
        val c = cosine6Packed(us, off, x.u)
        if (c >= minCos) Some(Candidate(lo, hi, key, c)) else None
      }
      def unpack(s: BucketState): (Array[Long], Array[Double]) = (s.vec_ids, s.us)
      def pack(ids: Array[Long], us: Array[Double]): BucketState = BucketState(ids, us)
    }.candidates(banded, _.bucket)
  }
}
