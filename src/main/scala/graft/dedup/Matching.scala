package graft.dedup

import graft.functions.functions.jaro_winkler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J1 + M1/M2 + C2 — the blocking self-join, similarity predicate and
  * pair confidence (engine.py:251-261, 371-375).
  *
  * Scale design: matching depends ONLY on `base_name`, so pairs are
  * generated at the **distinct-name level** (one row per distinct
  * (block_key, base_name)), not the row level. On data with heavy
  * duplication this collapses the O(Σ|b|²) pair join by the square of
  * the duplication factor (part @ sf0.1: 64 distinct names vs 20k
  * rows → 10⁵× fewer pairs); row-level results are recovered by an
  * equi-join on base_name that AQE turns into a broadcast when the
  * name side is small. */
object Matching {

  /** The size of a name index, from one aggregate over it: distinct
    * names, implied pairs Σ C(|block|, 2) and the largest block's
    * name count. The name-level stage picks its regime from this row
    * (driver fast path, dense guard, CC's edge bound). */
  final case class StageSizing(names: Long, impliedPairs: Long, maxBlockNames: Long)

  /** [[StageSizing]] of a (materialized) name index — one tiny job. */
  def stageSizing(stats: DataFrame): StageSizing = {
    // SQL `/` is double division — n·(n-1) is always even, so the
    // long cast after the halving is exact
    val r = stats.groupBy("block_key").agg(count(lit(1)).as("_n"))
      .agg(sum(col("_n")), sum((col("_n") * (col("_n") - 1) / 2).cast("long")),
        max(col("_n"))).head()
    if (r.isNullAt(0)) StageSizing(0L, 0L, 0L)
    else StageSizing(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Which execution regime the name-level stage (pairs → components
    * + candidates) last ran on the calling thread, how many JW passes
    * it paid, and the sizing row the regime was chosen from. Mirrors
    * [[Cluster.lastStats]]: observability only, thread-local, no
    * production branching. */
  final case class StageStats(regime: String, jwPasses: Int, sizing: StageSizing)
  private val lastStageTl = new ThreadLocal[StageStats]
  def lastStageStats: Option[StageStats] = Option(lastStageTl.get)
  private[dedup] def recordStage(regime: String, jwPasses: Int, sizing: StageSizing): Unit =
    lastStageTl.set(StageStats(regime, jwPasses, sizing))

  /** Distinct-name statistics per block. `min_row` doubles as the
    * name's graph-node id; `max_row` drives the per-row confidence
    * rule (SURVEY.md Appendix A.1). `token_key` is precomputed ONCE
    * per distinct name so the pair join compares keys instead of
    * re-sorting tokens per pair (O(names) sorts, not O(pairs)). */
  def nameStats(derived: DataFrame): DataFrame =
    derived
      .filter(col("base_name") =!= "")
      .groupBy("block_key", "base_name")
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("row_order")).as("min_row"),
        max(col("row_order")).as("max_row"))
      .withColumn("token_key", concat_ws("", array_sort(split(col("base_name"), " "))))

  /** Pair confidence ladder (engine.py:371-375). The 0.90/0.85 cut
    * points are fixed in the reference, independent of the settings
    * thresholds. */
  def pairConfidence(ratio: org.apache.spark.sql.Column, token: org.apache.spark.sql.Column) =
    when(token && ratio >= 0.90, lit(Rules.ConfTokenAndRatio))
      .when(ratio >= 0.90, lit(Rules.ConfHardRatio))
      .when(ratio >= 0.85, lit(Rules.ConfSoftRatio))
      .otherwise(lit(Rules.ConfDefault))

  /** Qualifying distinct-name pairs within a block: equi-join on
    * `block_key` with an unordered-pair dedup residual, then the
    * reference predicate `(token_match && jw >= soft) || jw >= hard`
    * (engine.py:260). Output columns: a_/b_ name (a < b), min/max
    * rows, ratio, token, conf.
    *
    * Skew/salting: one hot block key would otherwise put the whole
    * O(|b|²) comparison on a single shuffle partition (a 15k-name
    * block = 112M pairs on one core). Names are salted into `salt`
    * sub-chunks by hash; the left side fans out to every chunk ≥ its
    * own, so the join key becomes (block_key, chunk) — `salt`-way
    * parallelism with each unordered pair generated exactly once:
    * cross-chunk pairs via the strictly-smaller chunk's fan-out,
    * same-chunk pairs via the name< residual. */
  def qualifyingPairs(stats0: DataFrame, settings: DedupSettings = DedupSettings(),
      salt: Int = 0): DataFrame = {
    settings.engageCheckpoints(stats0.sparkSession)
    // The name-level index feeds every branch below (sizing aggregate,
    // small/hot split, both join sides) — materialize it ONCE with an
    // eager localCheckpoint. Unlike cache() entries, which live in the
    // CacheManager until an explicit unpersist (and were accumulating
    // per pipeline invocation — ADVICE r2), local-checkpoint blocks
    // are released by the ContextCleaner when the frame becomes
    // unreferenced.
    qualifyingPairsPrepared(
      graft.core.Frames.materialize(stats0, settings.reliableCheckpoints),
      settings, salt)
  }

  /** [[qualifyingPairs]] for a caller that has ALREADY materialized
    * the name index (avoids a second checkpoint job when the caller
    * needs the index for its own sizing — e.g. Pipeline's driver
    * fast-path gate, or the report queries sharing one Memo'd index
    * across the per-table pair family). The frame MUST be
    * materialized (checkpointed or cached): the sizing aggregate and
    * both join sides re-read it. */
  def qualifyingPairsPrepared(stats: DataFrame,
      settings: DedupSettings = DedupSettings(), salt: Int = 0,
      pinSink: DataFrame => Unit = _ => ()): DataFrame = {
    settings.engageCheckpoints(stats.sparkSession)
    settings.maxBlockNames match {
      case Some(cap) =>
        // cost governor (default ON): over-cap blocks switch to the
        // sorted-neighborhood O(|b|·w) policy (or are dropped when
        // hotBlockWindow <= 1), bounding the quadratic worst case.
        // One single-row aggregate sizes the whole plan: the over-cap
        // key list is bounded (each hot block holds > cap names, so
        // ≤ |names|/cap keys) and the small-side name count picks the
        // salt without another job.
        val sized = stats.groupBy("block_key").agg(count(lit(1)).as("_bn"))
          .agg(
            collect_list(when(col("_bn") > cap, col("block_key"))).as("_hot"),
            sum(when(col("_bn") <= cap, col("_bn"))).as("_small"))
          .head()
        val hotKeys = sized.getSeq[String](0)
        val smallNames = if (sized.isNullAt(1)) 0L else sized.getLong(1)
        if (hotKeys.nonEmpty) {
          val policy =
            if (settings.hotBlockWindow > 1)
              s"sorted-neighborhood(window=${settings.hotBlockWindow})"
            else "drop"
          log.warn(s"cost governor: ${hotKeys.length} block(s) exceed " +
            s"maxBlockNames=$cap — applying $policy to their pairs")
        }
        if (hotKeys.isEmpty) allPairs(stats, settings, salt, smallNames)
        else {
          val spark = stats.sparkSession
          import spark.implicits._
          val hotDf = broadcast(hotKeys.toDF("block_key"))
          val small = stats.join(hotDf, Seq("block_key"), "left_anti")
          val base = allPairs(small, settings, salt, smallNames)
          if (settings.hotBlockWindow <= 1) base
          else base.unionByName(sortedNeighborhoodPairs(
            stats.join(hotDf, Seq("block_key"), "left_semi"),
            settings.hotBlockWindow, settings, pinSink))
        }
      case None => allPairs(stats, settings, salt)
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The name table, built on the driver for name indexes under the
    * gate: the pair join, connected components, the cluster sizes, the
    * canonical election and the confidence thresholds of every distinct
    * name in one driver pass over the collected index, replacing the
    * salted pair join and its checkpoint, CC's collect, the rejoin joins
    * and the name-level aggregates of [[nameTable]] (timings on
    * [[DedupSettings.driverFastPathNames]]). Semantics are bit-identical
    * to [[nameTable]] over the distributed regimes: the SAME
    * [[graft.functions.JaroWinklerAlgo.similarity]] doubles, the same
    * predicate and confidence ladder, min-label components, and the
    * same election order (code-point length, UTF-8 byte order).
    *
    * Returns None — caller must use the distributed path — without
    * touching the index when `sizing` shows more names than
    * `settings.driverFastPathNames`, a block over the governor cap (the
    * hot-block policy is a distributed concern), or more implied pairs
    * than `maxPairEstimate` (driver pairing is single-threaded; 2M
    * pairs ≈ 1–2 s of JW bounds it). */
  private[dedup] def driverNameTable(stats: DataFrame, sizing: StageSizing,
      settings: DedupSettings = DedupSettings(), maxPairEstimate: Long = 2000000L)
      : Option[DataFrame] = {
    import org.apache.spark.unsafe.types.UTF8String
    val fits = settings.driverFastPathNames > 0 &&
      sizing.names <= settings.driverFastPathNames &&
      sizing.impliedPairs <= maxPairEstimate &&
      settings.maxBlockNames.forall(sizing.maxBlockNames <= _)
    if (!fits) return None
    val rows = stats
      .select("block_key", "base_name", "n_rows", "min_row", "max_row", "token_key").collect()
    val n = rows.length
    val name = rows.map(r => UTF8String.fromString(r.getString(1)))
    val nRows = rows.map(_.getLong(2))
    val minRow = rows.map(_.getLong(3))
    val maxRow = rows.map(_.getLong(4))
    val tokenKey = rows.map(_.getString(5))

    // union-find over name indexes
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val p = parent(c); parent(c) = r; c = p }
      r
    }
    // A.1 thresholds per confidence level (0 = 0.98, 1 = 0.95,
    // 2 = 0.88): the largest partner max_row, Long.MinValue = none
    val top = Array.fill(3, n)(Long.MinValue)
    def offer(level: Int, i: Int, partnerMax: Long): Unit =
      if (top(level)(i) < partnerMax) top(level)(i) = partnerMax
    rows.indices.groupBy(rows(_).getString(0)).valuesIterator.foreach { block =>
      var x = 0
      while (x < block.length) {
        var y = x + 1
        while (y < block.length) {
          val (i, j) = (block(x), block(y))
          val ratio = graft.functions.JaroWinklerAlgo.similarity(name(i), name(j))
          val tok = tokenKey(i) == tokenKey(j)
          if ((tok && ratio >= settings.softThreshold) || ratio >= settings.hardThreshold) {
            val (ri, rj) = (find(i), find(j))
            if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
            // the confidence ladder as a level; a 0.70 pair never beats
            // the 0.70 default, so it only merges clusters
            val level = if (tok && ratio >= 0.90) 0 else if (ratio >= 0.90) 1
              else if (ratio >= 0.85) 2 else -1
            if (level >= 0) { offer(level, i, maxRow(j)); offer(level, j, maxRow(i)) }
          }
          y += 1
        }
        x += 1
      }
    }
    // a name's own rows are 0.98 candidates for each other
    for (i <- 0 until n if nRows(i) >= 2) offer(0, i, maxRow(i))

    // per root: cluster id = min row, size = Σ n_rows, and the elected
    // name = min by (-n_rows, code-point length, UTF-8 bytes)
    val clusterId = Array.fill(n)(Long.MaxValue)
    val size = new Array[Long](n)
    val elected = Array.fill(n)(-1)
    def beats(i: Int, j: Int): Boolean =
      if (nRows(i) != nRows(j)) nRows(i) > nRows(j)
      else if (name(i).numChars != name(j).numChars) name(i).numChars < name(j).numChars
      else name(i).compareTo(name(j)) < 0
    for (i <- 0 until n) {
      val r = find(i)
      clusterId(r) = math.min(clusterId(r), minRow(i))
      size(r) += nRows(i)
      if (elected(r) < 0 || beats(i, elected(r))) elected(r) = i
    }
    def opt(t: Long) = if (t == Long.MinValue) None else Some(t)
    val spark = stats.sparkSession
    import spark.implicits._
    Some((0 until n).map { i =>
      val r = find(i)
      (rows(i).getString(1), clusterId(r), size(r), rows(elected(r)).getString(1),
        opt(top(0)(i)), opt(top(1)(i)), opt(top(2)(i)))
    }.toDF("base_name", "cluster_id", "cluster_size", "elected_name", "t98", "t95", "t88"))
  }

  /** The name table from a distributed regime's name-level results —
    * `comps` (id = a name's min_row, component) and `crossCand`
    * (cand_name, cand_conf, partner_max_row), any number of candidate
    * rows per (name, conf) — as name-level aggregates over `stats`. One
    * row per distinct base name:
    *
    *  - cluster_id: the component's min row_order, else the name's
    *    min_row (A.2)
    *  - cluster_size: Σ n_rows over the cluster
    *  - elected_name: the cluster's name with the most rows, then the
    *    shortest in code points, then the first in UTF-8 byte order —
    *    a name's votes are its n_rows (A.3)
    *  - t98 / t95 / t88: the largest partner max_row among the name's
    *    candidates at that confidence; t98 also counts the name's own
    *    max_row when it has two rows or more. A row's confidence is the
    *    highest level whose threshold exceeds its row_order (A.1); 0.70
    *    candidates can never beat the 0.70 default, so none is kept.
    *
    * [[driverNameTable]] builds the same table on the driver. */
  private[dedup] def nameTable(stats: DataFrame, comps: DataFrame,
      crossCand: DataFrame): DataFrame = {
    val clustered = stats
      .join(comps.withColumnRenamed("id", "min_row"), Seq("min_row"), "left")
      .select(col("base_name"), col("n_rows"), col("max_row"),
        coalesce(col("component"), col("min_row")).as("cluster_id"))
    val clusters = clustered.groupBy("cluster_id").agg(
      sum(col("n_rows")).as("cluster_size"),
      min(struct((-col("n_rows")).as("votes"), length(col("base_name")).as("len"),
        col("base_name").as("name"))).getField("name").as("elected_name"))
    def top(conf: Double) = max(when(col("cand_conf") === conf, col("partner_max_row")))
    val thresholds = crossCand.groupBy(col("cand_name").as("base_name")).agg(
      top(Rules.ConfTokenAndRatio).as("cross98"),
      top(Rules.ConfHardRatio).as("t95"),
      top(Rules.ConfSoftRatio).as("t88"))
    clustered
      .join(clusters, Seq("cluster_id"))
      .join(thresholds, Seq("base_name"), "left")
      .select(col("base_name"), col("cluster_id"), col("cluster_size"), col("elected_name"),
        greatest(col("cross98"), when(col("n_rows") >= 2, col("max_row"))).as("t98"),
        col("t95"), col("t88"))
  }

  /** Dense-block name-level stage WITHOUT pair materialization: the
    * (components, candidates) pair for name indexes whose implied
    * pair count is too big to checkpoint but whose similarity join is
    * cheap to RECOMPUTE (the codegen'd Jaro-Winkler join streams 50M
    * pairs in ~2 s on 32 cores, while materializing those pairs costs
    * gigabytes of storage, a multi-second write, GC pressure that
    * destabilizes every later phase, and multi-pass re-reads — the
    * sf1 supplier regression, VERDICT r10 item 1).
    *
    * One shared JW pass feeds BOTH consumers through a single
    * aggregate: pairs are exploded to both orientations map-side and
    * grouped by (node, name, pair_conf) — name ↔ node is bijective
    * (node = the name's min_row) so the grouping is ≤ |confs| rows
    * per name — keeping `max(partner_max_row)` (the A.1 candidate
    * reduction that [[nameTable]] finishes per name) and
    * `min(peer)` (each name's min qualifying neighbor per conf).
    * Connected components then run Borůvka-style on the driver:
    * round 1 unions each node with its min neighbor (derived from the
    * aggregate — no extra pass); each further round recomputes the
    * join ONCE, relabels through a broadcast root map, and aggregates
    * the min cross-root edge per root (map-side partial agg → ≤
    * |roots| rows). A near-clique converges in one round + one empty
    * verification pass, so the whole stage is two JW passes and a few
    * thousand driver rows. Bit-identical to the materialized path:
    * same join, same thresholds, same reduction — pinned by
    * DensePathSpec. */
  private[dedup] def denseAggregatedStage(stats: DataFrame, sizing: StageSizing,
      settings: DedupSettings, maxIter: Int = 50): (DataFrame, DataFrame) = {
    val spark = stats.sparkSession
    import spark.implicits._
    // Each pairs() pass may pin a fresh blockRanked checkpoint
    // (distributed ranking for over-cap blocks); release them the
    // moment the pass's consumer has run — the minEdgeContractionCC
    // discipline — instead of accreting one O(names) checkpoint per
    // CC round for the session lifetime (ADVICE r11).
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def drainPins(): Unit = {
      pins.foreach(graft.core.Frames.release)
      pins.clear()
    }
    def pairs(): DataFrame =
      qualifyingPairsPrepared(stats, settings, pinSink = pins += _)
    val oriented = pairs().select(explode(array(
      struct(col("a_min_row").as("node"), col("b_min_row").as("peer"),
        col("a_name").as("name"), col("b_max_row").as("partner_max_row"),
        col("pair_conf")),
      struct(col("b_min_row").as("node"), col("a_min_row").as("peer"),
        col("b_name").as("name"), col("a_max_row").as("partner_max_row"),
        col("pair_conf")))).as("o"))
      .select(col("o.node"), col("o.peer"), col("o.name"),
        col("o.partner_max_row"), col("o.pair_conf"))
    // ≤ |confs| rows per name — tiny; checkpoint so the two readers
    // below don't re-run the JW join
    val base = graft.core.Frames.materialize(
      oriented
        .groupBy(col("node"), col("name"), col("pair_conf"))
        .agg(max(col("partner_max_row")).as("partner_max_row"),
          min(col("peer")).as("min_peer")),
      settings.reliableCheckpoints)
    drainPins() // pass 1 fully consumed into the base checkpoint

    val crossCand = base.select(col("name").as("cand_name"),
      col("pair_conf").as("cand_conf"), col("partner_max_row"))

    // driver union-find; round 1 comes free from the shared aggregate
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    base.groupBy(col("node")).agg(min(col("min_peer")).as("peer")).collect()
      .foreach(r => union(r.getLong(0), r.getLong(1)))
    var iter = 1
    var done = false
    while (!done && iter < maxIter) {
      val mapDf = broadcast(parent.keys.toSeq.map(k => (k, find(k)))
        .toDF("_n", "_r"))
      // one fresh JW pass: surviving cross-root edges, reduced
      // map-side to the min peer root per root
      val rem = pairs().select(col("a_min_row").as("src"), col("b_min_row").as("dst"))
        .join(mapDf, col("src") === col("_n"), "left")
        .select(coalesce(col("_r"), col("src")).as("src"), col("dst"))
        .join(mapDf, col("dst") === col("_n"), "left")
        .select(col("src"), coalesce(col("_r"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src")).agg(min(col("dst")).as("dst"))
        .collect()
      drainPins() // this pass's collect consumed its ranking checkpoint
      if (rem.isEmpty) done = true
      else { rem.foreach(r => union(r.getLong(0), r.getLong(1))); iter += 1 }
    }
    if (!done) log.warn(
      s"denseAggregatedStage exhausted maxIter=$maxIter before convergence — " +
        "returned components may be under-merged")
    log.info(s"denseAggregatedStage: converged after $iter JW pass(es) + 1 shared")
    recordStage("dense-recompute", iter + 1, sizing)
    val comps = parent.keys.toSeq.map(k => (k, find(k))).toDF("id", "component")
    (comps, crossCand)
  }

  /** Aggregate profile of the qualifying pairs (the dedup_pairs_stats
    * audit: n_pairs / n_token_matches / avg_ratio) — same pair
    * generation, thresholds and governor policy as
    * [[qualifyingPairsPrepared]], but expressed WITHOUT a Filter
    * node. With a Filter, Catalyst pushes the qualifying predicate
    * into the pair join's condition, where the Jaro-Winkler call is
    * inlined once per predicate branch and once more in the ratio
    * projection — on audit workloads where ~every pair qualifies
    * (customer at sf0.1: all 112M pairs) the codegen'd kernel then
    * runs 3× per pair. Folding the predicate into conditional
    * aggregates (count/sum/avg over `when(qualifies, …)`) evaluates
    * JW exactly once per pair (CollapseProject refuses to inline a
    * non-cheap alias referenced by several aggregates), and the pair
    * rows slim to (ratio, token_match) — no name/row payload through
    * the join. JW is symmetric, so the profile also skips the
    * canonical a<b swap the row-returning path needs. */
  def pairProfile(stats: DataFrame,
      settings: DedupSettings = DedupSettings()): DataFrame = {
    settings.engageCheckpoints(stats.sparkSession)
    val slim = settings.maxBlockNames match {
      case Some(cap) =>
        val sized = stats.groupBy("block_key").agg(count(lit(1)).as("_bn"))
          .agg(
            collect_list(when(col("_bn") > cap, col("block_key"))).as("_hot"),
            sum(when(col("_bn") <= cap, col("_bn"))).as("_small"))
          .head()
        val hotKeys = sized.getSeq[String](0)
        val smallNames = if (sized.isNullAt(1)) 0L else sized.getLong(1)
        if (hotKeys.nonEmpty) log.warn(s"cost governor: ${hotKeys.length} " +
          s"block(s) exceed maxBlockNames=$cap — profiling their pairs under " +
          (if (settings.hotBlockWindow > 1)
            s"sorted-neighborhood(window=${settings.hotBlockWindow})" else "drop"))
        if (hotKeys.isEmpty) slimPairs(stats, smallNames)
        else {
          val spark = stats.sparkSession
          import spark.implicits._
          val hotDf = broadcast(hotKeys.toDF("block_key"))
          val small = stats.join(hotDf, Seq("block_key"), "left_anti")
          val base = slimPairs(small, smallNames)
          if (settings.hotBlockWindow <= 1) base
          else base.unionByName(slimSorted(
            stats.join(hotDf, Seq("block_key"), "left_semi"),
            settings.hotBlockWindow))
        }
      case None => slimPairs(stats, -1L)
    }
    val qual = (col("token_match") && col("ratio") >= settings.softThreshold) ||
      col("ratio") >= settings.hardThreshold
    slim.agg(
      count(when(qual, 1)).as("n_pairs"),
      // 1 per qualifying token match, 0 per other QUALIFYING pair,
      // null otherwise — so the sum is 0 when qualifying pairs exist
      // without token matches but NULL when nothing qualifies,
      // exactly the twin's sum-over-filtered-rows semantics
      sum(when(qual && col("token_match"), 1L)
        .otherwise(when(qual, 0L))).as("n_token_matches"),
      round(avg(when(qual, col("ratio"))), 6).as("avg_ratio"))
  }

  /** [[allPairs]] slimmed to (ratio, token_match), no predicate, no
    * canonical swap — the profile-aggregation feed. */
  private def slimPairs(capped: DataFrame, knownNames: Long): DataFrame = {
    val s = {
      val n = if (knownNames >= 0) knownNames else capped.count()
      if (n < 500) 4 else 96
    }
    val salted = capped.withColumn("chunk", pmod(hash(col("base_name")), lit(s)))
    val a = salted.select(
      col("block_key"),
      col("base_name").as("l_name"),
      col("token_key").as("l_token_key"),
      col("chunk").as("l_chunk"),
      explode(sequence(col("chunk"), lit(s - 1))).as("chunk"))
    val b = salted.select(
      col("block_key"),
      col("base_name").as("r_name"),
      col("token_key").as("r_token_key"),
      col("chunk"))
    // pinned repartition for the same AQE reason as allPairs
    a.repartition(s, col("block_key"), col("chunk"))
      .join(b.repartition(s, col("block_key"), col("chunk")), Seq("block_key", "chunk"))
      .where(col("l_chunk") =!= col("chunk") || col("l_name") < col("r_name"))
      .select(jaro_winkler(col("l_name"), col("r_name")).as("ratio"),
        (col("l_token_key") === col("r_token_key")).as("token_match"))
  }

  /** [[sortedNeighborhoodPairs]] slimmed the same way (shares
    * [[withBlockRank]], so the profile path also never single-tasks
    * a hot block's rank). */
  private def slimSorted(stats: DataFrame, window: Int): DataFrame = {
    val ranked = withBlockRank(stats)
    val a = ranked.select(
      col("block_key"),
      col("base_name").as("a_name"),
      col("token_key").as("a_token_key"),
      explode(sequence(col("rnk") + 1, col("rnk") + (window - 1))).as("rnk"))
    val b = ranked.select(
      col("block_key"),
      col("base_name").as("b_name"),
      col("token_key").as("b_token_key"),
      col("rnk"))
    a.join(b, Seq("block_key", "rnk"))
      .select(jaro_winkler(col("a_name"), col("b_name")).as("ratio"),
        (col("a_token_key") === col("b_token_key")).as("token_match"))
  }

  /** Data-visible cost-governor report (ADVICE r2: divergence from
    * exact reference semantics should be observable in data, not only
    * a warn line). One row: how many blocks exist, how many exceed
    * `settings.maxBlockNames` (and thus run under the hot-block
    * policy instead of full pairing), and how many distinct names
    * those governed blocks hold. */
  def governorStats(stats: DataFrame,
      settings: DedupSettings = DedupSettings()): DataFrame = {
    val cap = settings.maxBlockNames.getOrElse(Long.MaxValue)
    stats.groupBy("block_key").agg(count(lit(1)).as("n_names"))
      .agg(
        count(lit(1)).as("total_blocks"),
        coalesce(sum(when(col("n_names") > cap, 1L).otherwise(0L)), lit(0L))
          .as("governed_blocks"),
        coalesce(sum(when(col("n_names") > cap, col("n_names")).otherwise(0L)), lit(0L))
          .as("governed_names"))
  }

  /** Full within-block pairing (salted; see the scaladoc above).
    * `capped` is (derived from) the checkpointed name index, so the
    * two join sides re-read materialized blocks, not the upstream
    * aggregation. `knownNames` < 0 → count here (one cheap job over
    * the checkpoint). */
  private def allPairs(capped: DataFrame, settings: DedupSettings,
      salt: Int, knownNames: Long = -1L): DataFrame = {
    // salt <= 0 → adaptive: tiny name sets skip the wide fan-out (a
    // 96-way shuffle of 64 names is pure scheduling overhead), big
    // ones get full parallelism.
    val s = if (salt > 0) salt else {
      val n = if (knownNames >= 0) knownNames else capped.count()
      if (n < 500) 4 else 96
    }
    val salted = capped.withColumn("chunk", pmod(hash(col("base_name")), lit(s)))
    val a = salted.select(
      col("block_key"),
      col("base_name").as("l_name"),
      col("min_row").as("l_min_row"),
      col("max_row").as("l_max_row"),
      col("token_key").as("l_token_key"),
      col("chunk").as("l_chunk"),
      explode(sequence(col("chunk"), lit(s - 1))).as("chunk"))
    val b = salted.select(
      col("block_key"),
      col("base_name").as("r_name"),
      col("min_row").as("r_min_row"),
      col("max_row").as("r_max_row"),
      col("token_key").as("r_token_key"),
      col("chunk"))
    // Explicit repartition with a fixed partition count: the pre-join
    // shuffle is tiny (names), so AQE would coalesce it to one
    // partition and serialize the O(|b|²) pair explosion that happens
    // INSIDE the join. A user repartition pins the parallelism.
    val joined = a.repartition(s, col("block_key"), col("chunk"))
      .join(b.repartition(s, col("block_key"), col("chunk")), Seq("block_key", "chunk"))
      .where(col("l_chunk") =!= col("chunk") || col("l_name") < col("r_name"))
    // canonical a<b orientation regardless of which chunk fanned out
    val aIsL = col("l_name") < col("r_name")
    joined.select(
      col("block_key"),
      when(aIsL, col("l_name")).otherwise(col("r_name")).as("a_name"),
      when(aIsL, col("l_min_row")).otherwise(col("r_min_row")).as("a_min_row"),
      when(aIsL, col("l_max_row")).otherwise(col("r_max_row")).as("a_max_row"),
      when(aIsL, col("r_name")).otherwise(col("l_name")).as("b_name"),
      when(aIsL, col("r_min_row")).otherwise(col("l_min_row")).as("b_min_row"),
      when(aIsL, col("r_max_row")).otherwise(col("l_max_row")).as("b_max_row"),
      (col("l_token_key") === col("r_token_key")).as("token_match"))
      .withColumn("ratio", jaro_winkler(col("a_name"), col("b_name")))
      .where((col("token_match") && col("ratio") >= settings.softThreshold) ||
        col("ratio") >= settings.hardThreshold)
      .withColumn("pair_conf", pairConfidence(col("ratio"), col("token_match")))
  }

  /** Names-per-call above which [[blockRanked]] replaces the
    * single-window ranking: a row_number window over one hot block
    * serializes that block onto ONE task (the sort is fine at 1M
    * names, fatal at 100M). Below it, the plain window is fewer jobs
    * and the two produce identical ranks (RankingSpec). */
  private[dedup] val DistributedRankThreshold = 262144L

  /** Distributed per-block ranking: the same values as
    * `row_number().over(partitionBy(block_key).orderBy(base_name))`
    * (base_name is unique within a block, so ranks are deterministic)
    * without funneling a hot block through a single task. Two-pass
    * range-partitioned pattern: range-repartition by (block, name) —
    * pinned with an eager checkpoint so both readers see the same
    * partition ids — count each block's rows per partition (tiny:
    * ≤ partitions × blocks-touching-them rows, collected), convert
    * to per-(partition, block) offsets on the driver, then a LOCAL
    * row_number within (partition, block) plus the broadcast offset.
    * Every step is |block|/partitions parallel; nothing is
    * single-task.
    *
    * `pinSink` receives the eagerly-checkpointed range frame so the
    * CALLER can `Frames.release` it once the returned frame's last
    * reader has finished — without it, every invocation pins an
    * O(names) checkpoint for the session lifetime (ADVICE r11: the
    * dense regime re-ranks per CC round, accreting one per pass). */
  private[dedup] def blockRanked(stats: DataFrame, parts: Int,
      pinSink: DataFrame => Unit = _ => (),
      reliable: Boolean = false): DataFrame = {
    val spark = stats.sparkSession
    import spark.implicits._
    val ranged = graft.core.Frames.materialize(
      stats
        .repartitionByRange(parts, col("block_key"), col("base_name"))
        .withColumn("_pid", spark_partition_id()),
      reliable)
    pinSink(ranged)
    val counts = ranged.groupBy("_pid", "block_key")
      .agg(count(lit(1)).as("_c")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val offsets = counts.groupBy(_._2).iterator.flatMap { case (bk, rows) =>
      var acc = 0L
      rows.sortBy(_._1).map { case (pid, _, c) =>
        val off = acc; acc += c; (pid, bk, off)
      }
    }.toSeq
    val offDf = broadcast(offsets.toDF("_pid", "block_key", "_off"))
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid", "block_key").orderBy("base_name")
    ranged.withColumn("_lrnk", row_number().over(localW))
      .join(offDf, Seq("_pid", "block_key"))
      .withColumn("rnk", (col("_off") + col("_lrnk")).cast("int"))
      .drop("_pid", "_off", "_lrnk")
  }

  /** Per-block rank column shared by the sorted-neighborhood paths:
    * plain window below [[DistributedRankThreshold]] names, the
    * two-pass distributed ranking above it. Identical values either
    * way — the gate is wall-clock only. */
  private def withBlockRank(stats: DataFrame,
      pinSink: DataFrame => Unit = _ => (),
      reliable: Boolean = false): DataFrame = {
    val n = stats.count()
    if (n <= DistributedRankThreshold) {
      val byName = org.apache.spark.sql.expressions.Window
        .partitionBy("block_key").orderBy("base_name")
      stats.withColumn("rnk", row_number().over(byName))
    } else {
      val parts = stats.sparkSession.sparkContext.defaultParallelism
      log.info(s"sorted-neighborhood: distributed ranking over $n names " +
        s"($parts range partitions)")
      blockRanked(stats, parts, pinSink, reliable)
    }
  }

  /** Sorted-neighborhood pair generation — the O(n·w) scale path for
    * blocks of all-distinct names where full pairing is quadratic:
    * names are sorted within each block and each name is compared
    * only to its `window-1` successors. The rank-offset fan-out turns
    * the neighborhood condition into an equi-join on
    * (block_key, rank), so it shuffles and parallelizes like any
    * hash join; the rank itself is distributed past
    * [[DistributedRankThreshold]] names so no hot block ever
    * serializes onto one task. */
  def sortedNeighborhoodPairs(stats: DataFrame, window: Int,
      settings: DedupSettings = DedupSettings(),
      pinSink: DataFrame => Unit = _ => ()): DataFrame = {
    settings.engageCheckpoints(stats.sparkSession)
    val ranked = withBlockRank(stats, pinSink, settings.reliableCheckpoints)
    val a = ranked.select(
      col("block_key"),
      col("base_name").as("a_name"),
      col("min_row").as("a_min_row"),
      col("max_row").as("a_max_row"),
      col("token_key").as("a_token_key"),
      explode(sequence(col("rnk") + 1, col("rnk") + (window - 1))).as("rnk"))
    val b = ranked.select(
      col("block_key"),
      col("base_name").as("b_name"),
      col("min_row").as("b_min_row"),
      col("max_row").as("b_max_row"),
      col("token_key").as("b_token_key"),
      col("rnk"))
    a.join(b, Seq("block_key", "rnk"))
      .withColumn("ratio", jaro_winkler(col("a_name"), col("b_name")))
      .withColumn("token_match", col("a_token_key") === col("b_token_key"))
      .drop("a_token_key", "b_token_key", "rnk")
      .where((col("token_match") && col("ratio") >= settings.softThreshold) ||
        col("ratio") >= settings.hardThreshold)
      .withColumn("pair_conf", pairConfidence(col("ratio"), col("token_match")))
  }
}
