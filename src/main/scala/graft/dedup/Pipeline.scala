package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
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
  * Execution semantics: [[run]] is NOT fully lazy — the compact pair
  * projection and the CC edge set are eagerly materialized via
  * `localCheckpoint(true)` (the Jaro-Winkler pair join runs inside
  * this call, once, before the caller acts on the result). Local
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
    // scan would run the 14-regex base-name derivation serially on
    // one core, twice (the stats build and the row join both read
    // `derived`). Gated no-op at production split
    // counts; row_order is an explicit source key, so partitioning
    // never affects results (guide §2.4).
    runDerived(Normalize.withDerived(
      graft.core.Tables.spread(df, rowOrderCol), nameCol, rowOrderCol, settings),
      settings)

  /** [[run]] over an ALREADY-derived frame (any frame carrying the
    * five normalize output columns, e.g. a session-Memo'd
    * `Normalize.withDerived` materialization). The derivation must
    * have been produced with the SAME settings — the normalize chain
    * is settings-dependent (suffix folding, add-map), so a caller
    * holding a default-settings derived table may only pass
    * default settings here. Exists so a host that has already
    * materialized the derived table (the "normalize once, query the
    * derived table" pattern) does not re-pay the 14-regex chain
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
    val reliable = settings.reliableCheckpoints
    // Name index materialized ONCE; every branch below (regime
    // sizing, pair join sides, name-table aggregates) reads the blocks.
    val stats = graft.core.Frames.materialize(Matching.nameStats(derived), reliable)
    // ONE sizing aggregate picks the regime: the driver fast-path
    // gate, the dense guard and CC's edge bound all read this row, and
    // it is recorded with the regime (StageStats).
    val sizing = Matching.stageSizing(stats)

    // --- the name table: one row per distinct base name with its
    // cluster id, cluster size, elected canonical name and A.1
    // confidence thresholds (Matching.nameTable). Everything the row
    // stage needs except one comparison is a property of a NAME, so
    // the regimes below differ only in how they build this table.
    //
    // Up to DedupSettings.driverFastPathNames names (and 2M implied
    // pairs), Matching.driverNameTable builds it in one driver pass over
    // the collected index — bit-identical results, none of the
    // distributed jobs below (the Cluster.localEdgeCC philosophy applied
    // to the whole name-level stage). Above it the pair join (the
    // Jaro-Winkler work) has two consumers — the CC edge set and the
    // confidence candidates. Materializing the full pair rows is off
    // the table (a dense block makes them tens of millions of WIDE rows
    // — 6 GB at the 10×-scale stress test), but the similarity compute
    // itself must not run twice either (round 2 paid a double JW pass
    // here: once for the eager CC build, once in the final DAG).
    // Resolution: checkpoint ONLY the compact (a_min_row, b_min_row,
    // pair_conf) projection — 24 bytes/pair — and recover the
    // name-level fields by joining back to `stats` on min_row, which
    // uniquely identifies a distinct name (each row belongs to exactly
    // one (block_key, base_name) group, so group minima never collide).
    val names = Matching.driverNameTable(stats, sizing, settings) match {
      case Some(table) =>
        Matching.recordStage("driver-fast-path", 1, sizing)
        table
      case None =>
        val (comps, crossCand) =
          if (sizing.impliedPairs > settings.densePairEstimate)
            // DENSE regime (sf1+ supplier: a 10k-name near-clique is
            // 50M implied pairs): checkpointing the pair rows costs
            // gigabytes of storage + GC churn while the codegen'd JW
            // join recomputes in ~2 s — so never materialize pairs;
            // push both consumers down to aggregates over the streamed
            // join (one shared pass + one verification pass per CC
            // round). See Matching.denseAggregatedStage.
            Matching.denseAggregatedStage(stats, sizing, settings)
          else {
            Matching.recordStage("materialize", 1, sizing)
            val pairsCompact = graft.core.Frames.materialize(
              Matching.qualifyingPairsPrepared(stats, settings)
                .select(col("a_min_row"), col("b_min_row"), col("pair_conf")),
              reliable)
            // --- C1 (distributed): node id = the name's min_row, so a
            // component id IS min(row_order) in-cluster. The edge set is
            // a projection of the compact checkpoint — already
            // materialized, so CC must not copy it again
            // (edgesMaterialized: on the sf1 supplier clique that copy
            // was ~2 GB of storage and seconds of wall per run).
            val edges = pairsCompact
              .select(col("a_min_row").as("src"), col("b_min_row").as("dst"))
            // edgeCountHint: qualifying pairs ⊆ implied pairs, so the
            // Σ C(block,2) estimate is a valid upper bound — when it
            // already fits the driver, CC skips the pre-contraction
            // constant outright (VERDICT r15 item 1)
            val compsDist = Cluster.connectedComponents(edges,
              edgesMaterialized = true, edgeCountHint = sizing.impliedPairs,
              reliable = reliable)
            // name fields recovered from the compact checkpoint: AQE
            // turns both min_row joins into broadcasts (the name index
            // is tiny relative to pairs), so this costs two map-side
            // probes of already-computed conf rows, not a second
            // similarity join. Both orientations become candidates;
            // Matching.nameTable reduces them to O(names) rows.
            val nameByMin = stats.select(col("min_row"), col("base_name"), col("max_row"))
            val rejoined = pairsCompact
              .join(nameByMin.select(col("min_row").as("a_min_row"),
                col("base_name").as("a_name"), col("max_row").as("a_max_row")), Seq("a_min_row"))
              .join(nameByMin.select(col("min_row").as("b_min_row"),
                col("base_name").as("b_name"), col("max_row").as("b_max_row")), Seq("b_min_row"))
            val crossDist = rejoined.select(col("a_name").as("cand_name"),
                col("pair_conf").as("cand_conf"), col("b_max_row").as("partner_max_row"))
              .union(rejoined.select(col("b_name"), col("pair_conf"), col("a_max_row")))
            (compsDist, crossDist)
          }
        Matching.nameTable(stats, comps, crossCand)
    }

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
