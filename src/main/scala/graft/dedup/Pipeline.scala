package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** E3 — the full dedup "query" (engine.py:210-369) as one lazy
  * DataFrame composition, with the deterministic re-specifications of
  * SURVEY.md Appendix A:
  *
  *  - cluster_id = min(row_order) within the cluster (A.2)
  *  - per-row confidence = max pair-confidence over qualifying pairs
  *    where the row is the lower row_order; 0.70 default, 0.50 for
  *    empty base names (A.1); reason derived from the confidence
  *  - canonical tie-break = (count desc, length asc, base_name asc)
  *    (A.3)
  *
  * Everything but one comparison is a property of a distinct base
  * NAME, not of a row: the pair join, components, cluster sizes, the
  * election and the confidence candidates all run at name level and
  * end in one name table (cluster_id, cluster_size, elected_name and
  * the per-level confidence thresholds t98/t95/t88 — see
  * [[Matching.nameTable]]). The row stage is then ONE left join of the
  * rows onto that table (tiny relative to the rows, so
  * AQE-broadcastable) and a projection: no row-level aggregate and no
  * window, so every input row comes out once, repeated keys included.
  *
  * Execution semantics: [[run]] is NOT fully lazy — the name index is
  * eagerly materialized via `localCheckpoint(true)`, and above the
  * driver gate so is the per-partition fold of the pair join into CC
  * edges and candidate maxima (the Jaro-Winkler pair join runs inside
  * this call, once, before the caller acts on the result; no pair row
  * is ever stored). Local
  * checkpoints trade fault tolerance for lineage truncation: the
  * blocks live on executors with no recompute path, so an executor
  * loss between materialization and consumption fails the job instead
  * of recomputing. On a single-JVM deployment (this harness) that is
  * free; on a multi-executor cluster where mid-query executor loss
  * must be survivable, set `DedupSettings.checkpointDir` to durable
  * storage — every materialization in the pipeline then uses reliable
  * `checkpoint()` instead: same plan shape, one extra write, identical
  * results (ReliableCheckpointSpec). */
object Pipeline {

  /** Typed row of the pipeline output — for callers who want
    * compile-time field checks on the contract table. */
  case class DedupRecord(
      row_order: Long,
      original_name: String,
      normalized_name: String,
      base_name: String,
      block_key: String,
      cluster_id: Long,
      cluster_size: Long,
      canonical_name: String,
      confidence: Double,
      reason: String)

  /** Typed variant of [[run]]. */
  def runTyped(df: DataFrame, nameCol: String, rowOrderCol: String,
      settings: DedupSettings = DedupSettings()): org.apache.spark.sql.Dataset[DedupRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    run(df, nameCol, rowOrderCol, settings).as[DedupRecord]
  }

  /** Full derived output table:
    * (row_order, original_name, normalized_name, base_name, block_key,
    *  cluster_id, cluster_size, canonical_name, confidence, reason). */
  def run(df: DataFrame, nameCol: String, rowOrderCol: String,
      settings: DedupSettings = DedupSettings()): DataFrame =
    // spread the source before the normalize chain: a single-split
    // scan would run the per-row base-name derivation serially on
    // one core, twice (the stats build and the row join both read
    // `derived`). Gated no-op at production split
    // counts; row_order is an explicit source key, so partitioning
    // never affects results (guide §2.4).
    runDerived(Normalize.withDerived(
      graft.core.Tables.spread(df, rowOrderCol), nameCol, rowOrderCol, settings),
      settings)

  /** The `names` count an [[Observation]] on the name index collected,
    * or None if it has not arrived. It is delivered through the
    * session's query-execution listener bus right after the eager
    * materialization; the wait bounds an event the bus dropped. */
  private def observedCount(o: Observation): Option[Long] =
    scala.util.Try(scala.concurrent.Await.result(o.future,
      scala.concurrent.duration.Duration(10, "s")).getAs[Long]("names")).toOption

  /** [[run]] over an ALREADY-derived frame (any frame carrying the
    * five normalize output columns, e.g. a session-Memo'd
    * `Normalize.withDerived` materialization). The derivation must
    * have been produced with the SAME settings — the normalize chain
    * is settings-dependent (suffix folding, add-map), so a caller
    * holding a default-settings derived table may only pass
    * default settings here. Exists so a host that has already
    * materialized the derived table (the "normalize once, query the
    * derived table" pattern) does not re-pay the normalize chain
    * inside the pipeline — results are bit-identical because the
    * derivation is deterministic. */
  def runDerived(derivedFull: DataFrame,
      settings: DedupSettings = DedupSettings()): DataFrame = {
    val derived = derivedFull
      .select("row_order", "original_name", "normalized_name", "base_name", "block_key")

    val spark = derivedFull.sparkSession
    // reliable-checkpoint toggle (VERDICT r18 item 7): a set
    // checkpointDir switches every materialization below (and in
    // Matching/Cluster) from executor-local blocks to durable
    // checkpoint files — the multi-executor deployment path.
    settings.engageCheckpoints(spark)
    // Name index materialized ONCE; every branch below (regime
    // sizing, pair join sides, name-table aggregates) reads the blocks.
    // The materialization also counts the names (an Observation), so an
    // index under the driver gate is collected once and sized from its
    // rows, with no separate sizing query; above the gate ONE bucket
    // histogram runs instead. Either way one sizing row
    // (Matching.BucketHistogram) drives the driver fast-path gate, the
    // cost governor's split, the salt and CC's edge bound, and it is
    // recorded with the regime (StageStats).
    val counted = Observation()
    val stats = graft.core.Frames.materialize(
      Matching.nameStats(derived).observe(counted, count(lit(1)).as("names")),
      settings.reliableCheckpoints)
    val gate = settings.driverFastPathNames
    val index =
      if (gate > 0 && observedCount(counted).exists(_ <= gate)) Some(Matching.collectIndex(stats))
      else None
    val sizing = index.fold(Matching.indexHistogram(stats, settings))(rows =>
      Matching.indexHistogram(rows.map(_.getString(0)), settings))

    // --- the name table: one row per distinct base name with its
    // cluster id, cluster size, elected canonical name and A.1
    // confidence thresholds (Matching.nameTable). Everything the row
    // stage needs except one comparison is a property of a NAME; an
    // index under the driver gate builds the table in one driver pass
    // (Matching.driverNameTable), any other in one distributed JW pass
    // folded into CC edges and candidate maxima
    // (Matching.distributedNameTable). Same table either way.
    val names = index.flatMap(Matching.driverNameTable(spark, _, sizing, settings))
      .getOrElse(Matching.distributedNameTable(stats, sizing, settings))

    // --- the row stage: ONE left join of the rows onto the name table
    // and a projection. Empty-base rows are absent from the table
    // (nameStats drops them) and become forced singletons: cluster_id
    // = their row_order, size 1, canonical = their normalized name,
    // confidence 0.50 (A.1). A row's confidence is the highest level
    // whose threshold (a partner row's max row_order) exceeds its own
    // row_order; the reason is read off the same rung.
    val ladder = Seq(
      (col("base_name") === "", Rules.ConfEmptyBase, Rules.ReasonEmptyBase),
      (col("t98") > col("row_order"), Rules.ConfTokenAndRatio, Rules.ReasonTokenAndRatio),
      (col("t95") > col("row_order"), Rules.ConfHardRatio, Rules.ReasonHardRatio),
      (col("t88") > col("row_order"), Rules.ConfSoftRatio, Rules.ReasonSoftRatio))
    def rungs(pick: ((Column, Double, String)) => Any, default: Any): Column =
      ladder.tail.foldLeft(when(ladder.head._1, pick(ladder.head)))((w, r) => w.when(r._1, pick(r)))
        .otherwise(default)

    derived
      .join(names, Seq("base_name"), "left")
      .select(col("row_order"), col("original_name"), col("normalized_name"),
        col("base_name"), col("block_key"),
        coalesce(col("cluster_id"), col("row_order")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        when(col("base_name") === "", col("normalized_name"))
          .otherwise(col("elected_name")).as("canonical_name"),
        rungs(_._2, Rules.ConfDefault).as("confidence"),
        rungs(_._3, Rules.ReasonDefault).as("reason"))
  }
}
