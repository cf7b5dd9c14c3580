package graft.streaming

import graft.dedup.SparkTest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The graded stream harness turns off Spark's trailing no-data
  * micro-batch (`spark.sql.streaming.noDataMicroBatches.enabled =
  * false`): after each AvailableNow run's one data batch, that batch
  * would only advance the watermark and fire event-time timers. This
  * spec pins when that is safe. In the harness's shape — a file
  * source, two AvailableNow runs sharing one checkpoint — both
  * settings leave the same sink contents for the audit-mode bucket
  * reps with a delay that spans the data, and for the interval join
  * with its data-derived delay. With a delay shorter than the gap
  * between the runs the settings differ, which shows the comparison
  * can fail. */
class StreamNoDataBatchSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  /** Sorted sink rows of the two-run drain of `drops`, in a child
    * session with the no-data batch switched `on` or off. */
  private def sinkRows(on: Boolean, drops: Seq[DataFrame])(
      op: (SparkSession, () => DataFrame) => DataFrame): Seq[String] = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", on.toString)
    FileSourceRuns.withTmp("graft_nodata") { tmp =>
      val out = FileSourceRuns.drain(ss, tmp, drops)(src => op(ss, src))
      ss.read.parquet(out).collect().map(_.toString).sorted.toSeq
    }
  }

  private def at(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  private val base = "the quick brown fox jumps over the lazy dog again and again"
  private val other = "completely different words about spark streaming state management"

  /** Run 1 (ids 1-3, with a 28-minute gap before doc 3) and run 2
    * (ids 4-6, ten minutes later), as the harness splits by id. */
  private def docDrops: Seq[DataFrame] = {
    import spark.implicits._
    Seq(Seq((1L, base, at(0)), (2L, base + " tail", at(1)), (3L, other, at(30))),
      Seq((4L, other + " here", at(40)), (5L, base + " more tail", at(41)), (6L, base, at(42))))
      .map(_.toDF("doc_id", "text", "ts"))
  }

  private def nearDup(delay: String)(ss: SparkSession, src: () => DataFrame): DataFrame =
    StreamNearDup.candidatePairs(src(), "doc_id", "text", delay = delay,
      minEst = 0.5, maxReps = Int.MaxValue, addMatchedReps = true)(ss).toDF()

  test("audit-mode bucket reps: the no-data batch changes nothing when the delay spans the data") {
    val on = sinkRows(on = true, docDrops)(nearDup("1 hour"))
    val off = sinkRows(on = false, docDrops)(nearDup("1 hour"))
    // a cross-run pair: run 2's doc 5 against run 1's rep 1
    assert(on.exists(_.startsWith("[1,5,")), on)
    assert(on == off)
  }

  test("audit-mode bucket reps: with a delay shorter than the run gap the settings differ") {
    // the no-data batch after run 1 times out docs 1 and 2's buckets
    // (watermark 10:29 > 10:01 + 1 minute); without it, run 2's data
    // batch still finds their reps
    val on = sinkRows(on = true, docDrops)(nearDup("1 minute"))
    val off = sinkRows(on = false, docDrops)(nearDup("1 minute"))
    assert(!on.exists(_.startsWith("[1,5,")), on)
    assert(off.exists(_.startsWith("[1,5,")), off)
  }

  test("interval join with a data-derived delay: the no-data batch changes nothing") {
    import spark.implicits._
    val events = Seq(
      (1L, at(10), 1L, "view", 1.0), (2L, at(30), 1L, "click", 0.0),
      (3L, at(39), 2L, "view", 4.0), (4L, at(25), 1L, "view", 2.0),
      (5L, at(40), 2L, "click", 0.0), (6L, at(45), 1L, "view", 3.0),
      (7L, at(50), 1L, "click", 0.0), (8L, at(41), 2L, "view", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val drops = Seq(events.filter(col("event_id") <= 4), events.filter(col("event_id") > 4))
    // the harness's rule: the observed ts span plus one day
    val delay = s"${40 * 60 + 86400} seconds"
    def join(ss: SparkSession, src: () => DataFrame): DataFrame = {
      val clicks = EventStreams.withEventTimeWatermark(
        src().filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts")), delay = delay)
      val views = EventStreams.withEventTimeWatermark(
        src().filter(col("event_type") === "view"), delay = delay)
        .select(col("user_id"), col("ts").as("view_ts"), col("value").as("view_value"))
      EventStreams.intervalJoin(clicks, views, "user_id", "ts", "view_ts", lowerSec = 1800L)
    }
    val on = sinkRows(on = true, drops)(join)
    val off = sinkRows(on = false, drops)(join)
    // click 2 ↔ views 1 and 4, click 5 ↔ view 3, click 7 ↔ views 4
    // and 6: three of the five cross the runs
    assert(on.length == 5, on)
    assert(on == off)
  }
}
