package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table readers for the driver testdata layout
  * (`TESTDATA.md`): one parquet file per table under an sf directory.
  * Columnar parquet scans give Catalyst pushdown + pruning for free —
  * every query should show `PushedFilters`/narrow `ReadSchema` in
  * `.explain`. */
object Tables {
  def read(spark: SparkSession, sfDir: String, table: String): DataFrame =
    spark.read.parquet(s"$sfDir/$table.parquet")

  /** Spread a small-split scan to one partition per core before
    * CPU-heavy per-row work (the name normalize chain, image decode,
    * brute-force similarity scans). At test SF every table is a single
    * small parquet split, so narrow transforms inherit ONE partition —
    * fine for cheap projections, a serialization point for expensive
    * per-row compute (guide §2.4: the shuffle moves only the tiny raw
    * rows; the compute then runs cluster-wide). Gated on the scan's
    * split count so a production-scale read (≥ one split per core
    * already) never pays a gratuitous exchange. Hash-partitioned on an
    * explicit key with a pinned count: a bare repartition(n) is an AQE
    * coalescing target (tiny post-shuffle bytes would fold back to one
    * partition), and keyless round-robin pays a sort of its input
    * (SPARK-23207). */
  def spread(df: DataFrame, keyCol: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    // Tiny-input gate: below ~64 KB of estimated scan bytes (the sf0.1
    // supplier table is 22 KB / 1k rows) the serial per-row work is
    // cheaper than the extra shuffle stage + per-task overhead the
    // spread adds — measured +0.3-0.6 s on the supplier pipeline
    // queries. Derived from plan stats, so the gate scales with the
    // data, not a partition-count constant. Callers with EXTREME
    // per-row cost on tiny rows (image decode) use their own ungated
    // spread (MultimodalQueries.spreadIds).
    else if (df.queryExecution.optimizedPlan.stats.sizeInBytes < 65536) df
    else df.repartition(target, org.apache.spark.sql.functions.col(keyCol))
  }

  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  /** The driver's events.parquet has stored `ts` three different ways
    * across testdata generations, so the read is dtype-conditional and
    * always lands on session-local TIMESTAMP (µs) with the session
    * timezone pinned to UTC by every entry point:
    *  - INT64 TIMESTAMP(NANOS) (no native Spark type): read as raw
    *    nanos via the legacy conf, floor-divide to µs (matching
    *    DuckDB's ns→µs truncation);
    *  - µs `isAdjustedToUTC=false` (current driver output): Spark
    *    infers TIMESTAMP_NTZ, which rejects the epoch casts the event
    *    queries use (`cast("long")`) — reinterpret as UTC-local
    *    TIMESTAMP, the same epoch micros the nanos path produced;
    *  - µs `isAdjustedToUTC=true` (tools.ScaleUp output): already
    *    TIMESTAMP, pass through. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
