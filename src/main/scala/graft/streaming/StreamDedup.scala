package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming exact deduplication — the continuous counterpart of the
  * batch `text_exact_dedup` hash-groupBy. State is bounded by the
  * watermark: a duplicate arriving within the delay of its first
  * occurrence is dropped; older state is reclaimed (the only way
  * streaming dedup stays O(window) instead of O(history) at scale). */
object StreamDedup {

  /** Drop records whose `textCol` content was already seen within the
    * watermark window. `tsCol` must be an event-time column. */
  def exactDedup(stream: DataFrame, textCol: String, tsCol: String = "ts",
      delay: String = "1 hour"): DataFrame =
    stream
      .withColumn("content_hash", md5(col(textCol).cast("string")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Cross-RUN incremental dedup: drop records whose content hash
    * exists in a persistent parquet index, emit the survivors through
    * `sink`, and append their hashes to the index — so a restarted
    * (or daily-batch) ingestion keeps deduplicating against
    * everything it has ever shipped, which watermark-bounded state
    * deliberately cannot (its state is O(window), this index is
    * O(distinct history) ON DISK, not in executor memory).
    *
    * Scale shape: the per-batch anti-join shuffles by hash like any
    * equi-join, and the index is just a parquet table — partition or
    * bucket it by a hash prefix when history outgrows one directory
    * listing. Delivery: foreachBatch's usual contract — `sink` must
    * be idempotent on (batchId) for exactly-once output; the index
    * append is safe against replays because re-appended hashes only
    * create duplicates INSIDE the index, which the anti-join + the
    * in-batch dropDuplicates tolerate.
    *
    * Returns the started query (memory/parquet/any sink decided by
    * the caller inside `sink`). */
  def incrementalDedup(stream: DataFrame, textCol: String, indexPath: String,
      checkpoint: String, idCol: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(againstIndex(textCol, indexPath, idCol)(sink))
      .start()

  /** [[incrementalDedup]]'s micro-batch step, for a caller that runs
    * its own `foreachBatch` drain: drop the batch's rows whose hash is
    * in the index, hand the survivors to `sink`, then append their
    * hashes to the index. */
  private[graft] def againstIndex(textCol: String, indexPath: String,
      idCol: Option[String])(sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      val hashed = batch.withColumn("content_hash", md5(col(textCol).cast("string")))
      val seen = readIndex(spark, indexPath)
      val antiJoined = hashed.join(seen, Seq("content_hash"), "left_anti")
      // in-batch survivor: dropDuplicates keeps an ARBITRARY row per
      // hash (fine for pure dedup); with idCol the lowest id wins —
      // the deterministic policy the batch dedup queries use, which
      // is what lets a streaming run be graded against the batch
      // oracle (same final state on the same data, any batch split)
      val deduped = idCol match {
        case Some(id) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("content_hash").orderBy(col(id).asc)
          antiJoined.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
        case None => antiJoined.dropDuplicates("content_hash")
      }
      val fresh = deduped
        .localCheckpoint(true) // decouple sink + index writes from re-planning
      sink(fresh.drop("content_hash"), batchId)
      fresh.select("content_hash")
        .write.mode("append").parquet(indexPath)
    }

  /** The hash index, or an empty frame before the first append.
    * Existence is probed through the path's own Hadoop FileSystem —
    * a local File check would silently report "missing" for every
    * HDFS/S3 index path and break dedup on exactly the deployments
    * that need it. */
  private def readIndex(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(path).select("content_hash")
    else {
      import spark.implicits._
      Seq.empty[String].toDF("content_hash")
    }
  }
}
