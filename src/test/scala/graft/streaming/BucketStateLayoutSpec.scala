package graft.streaming

import graft.dedup.SparkTest
import graft.ext.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted keyed-state layout of the three near-dup streams,
  * which share one state loop ([[BucketReps]]) but keep their own
  * state case classes. An existing checkpoint resumes only while
  * these schemas stay as they are, and
  * [[StreamAnnDedup.drainStateIds]] reads `value.groupState.vec_ids`.
  * Each case writes one AvailableNow batch into a checkpoint and reads
  * the state back through Spark's state data source. */
class BucketStateLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  /** (name, type) of each `value.groupState` field after one batch of
    * `op` over `input`; fails when the batch left no state rows. */
  private def groupStateFields(input: DataFrame)(
      op: DataFrame => DataFrame): Seq[(String, DataType)] =
    FileSourceRuns.withTmp("graft_state_layout") { tmp =>
      FileSourceRuns.drain(spark, tmp, Seq(input))(src => op(src()))
      val st = spark.read.format("statestore").option("path", s"$tmp/ck").load()
      assert(st.count() > 0, "the batch left no keyed state")
      st.schema("value").dataType.asInstanceOf[StructType]("groupState")
        .dataType.asInstanceOf[StructType].fields.toSeq.map(f => f.name -> f.dataType)
    }

  private val ts = lit("2024-01-01 00:00:00").cast("timestamp")
  private def longs = ArrayType(LongType, containsNull = false)

  test("StreamNearDup state stays (doc_ids: array<long>, sigs: array<long>)") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "text").withColumn("ts", ts)
    val fields = groupStateFields(docs)(StreamNearDup.candidatePairs(_, "doc_id", "text",
      maxReps = Int.MaxValue, addMatchedReps = true).toDF())
    assert(fields == Seq("doc_ids" -> longs, "sigs" -> longs), fields)
  }

  test("StreamAnnDedup state stays (vec_ids: array<long>, us: array<double>)") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val vecs = Seq((1L, Seq(1f, 0.5f, 0.25f, 0f)), (2L, Seq(1f, 0.5f, 0.3f, 0f)))
      .toDF("vec_id", "embedding").withColumn("ts", ts)
    val fields = groupStateFields(vecs)(StreamAnnDedup.candidatePairs(_, "vec_id", "embedding",
      Ann.hyperplanes(4, 4), maxReps = Int.MaxValue, addMatchedReps = true).toDF())
    assert(fields == Seq("vec_ids" -> longs,
      "us" -> ArrayType(DoubleType, containsNull = false)), fields)
  }

  test("StreamMmDedup state stays (ids: array<long>, hs: array<int>)") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val imgs = Seq((1L, 0x1234, 0x00FF, 0xAAAA, 0x5555), (2L, 0x1235, 0x00FF, 0xAAAA, 0x5555))
      .toDF("media_id", "b0", "b1", "b2", "b3").withColumn("ts", ts)
    val fields = groupStateFields(imgs)(StreamMmDedup.candidatePairs(_, "media_id",
      maxReps = Int.MaxValue, addMatchedReps = true).toDF())
    assert(fields == Seq("ids" -> longs,
      "hs" -> ArrayType(IntegerType, containsNull = false)), fields)
  }
}
