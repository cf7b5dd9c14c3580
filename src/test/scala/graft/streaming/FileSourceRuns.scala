package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The graded stream harness's shape at spec scale: a parquet file
  * source, drained by one `Trigger.AvailableNow` run per input drop,
  * every run under the same checkpoint, every micro-batch appended to
  * a parquet sink. */
object FileSourceRuns {

  /** Runs `body` with a fresh scratch dir, deleted even when it fails. */
  def withTmp[A](prefix: String)(body: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try body(tmp.toString) finally graft.core.Fs.rmTree(tmp.toFile)
  }

  /** Appends each of `drops` to `tmp/in` and drains it with one
    * AvailableNow run of `op` (given a fresh reader of `tmp/in` per
    * call) under the checkpoint `tmp/ck`; returns the sink dir
    * `tmp/out`. */
  def drain(s: SparkSession, tmp: String, drops: Seq[DataFrame])(
      op: (() => DataFrame) => DataFrame): String = {
    drops.foreach { drop =>
      drop.coalesce(1).write.mode("append").parquet(s"$tmp/in")
      op(() => s.readStream.schema(drop.schema).parquet(s"$tmp/in"))
        .writeStream
        .option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(s"$tmp/out")
        }
        .start().awaitTermination()
    }
    s"$tmp/out"
  }
}
