package graft.dedup

import graft.functions.functions.jaro_winkler
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
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

  /** One row of [[bucketHistogram]]: members, the largest bucket,
    * Σ C(n, 2) over all buckets, the pair bound under the cap, the
    * members of over-cap buckets, the bucket count and the over-cap
    * bucket count. Over a name index's blocks ([[indexHistogram]]) it
    * is the index's only sizing row: the driver gate, the cost
    * governor's split, the salt and CC's edge bound (the uncapped
    * `pairs`) all read it. */
  final case class BucketHistogram(members: Long, maxBucket: Long, pairs: Long,
      cappedPairs: Long, hotMembers: Long, buckets: Long, hotBuckets: Long)

  object BucketHistogram {
    def of(r: Row): BucketHistogram =
      BucketHistogram(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))

    /** The same row folded on the driver from one key per member —
      * [[bucketHistogram]] over the collected keys, without a job. */
    def ofBlocks(keys: Iterable[Any], cap: Long = Long.MaxValue,
        hotPairs: Long = 0L): BucketHistogram = {
      val sizes = keys.groupMapReduce(identity)(_ => 1L)(_ + _).values
      val hot = sizes.filter(_ > cap)
      def tri(n: Long) = n * (n - 1) / 2
      BucketHistogram(sizes.sum, if (sizes.isEmpty) 0L else sizes.max, sizes.map(tri).sum,
        sizes.map(n => if (n > cap) n * hotPairs else tri(n)).sum, hot.sum,
        sizes.size.toLong, hot.size.toLong)
    }
  }

  /** The bucket histogram of `rows` grouped by `keys` as one 1-row
    * aggregate (two shuffles): members, max_bucket, pairs = Σ C(n, 2),
    * capped_pairs = the candidate bound when buckets over `cap` each
    * member pair `hotPairs` times (`window − 1` under a
    * sorted-neighborhood policy, 0 when they are dropped) and the rest
    * pair fully, hot_members = the members of over-cap buckets,
    * buckets and hot_buckets. Read it with [[BucketHistogram.of]]. The
    * name stage sizes its index with it once ([[indexHistogram]]), and
    * the ANN, text and image governors memoize it under their own keys.
    * Zeros on empty input. */
  def bucketHistogram(rows: DataFrame, keys: Seq[String], cap: Long = Long.MaxValue,
      hotPairs: Long = 0L): DataFrame = {
    // n·(n-1) is always even, so the long cast after the halving is exact
    val tri = (col("_n") * (col("_n") - 1) / 2).cast("long")
    val hot = col("_n") > cap
    def total(c: Column) = coalesce(sum(c), lit(0L))
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
      .agg(total(col("_n")).as("members"),
        coalesce(max(col("_n")), lit(0L)).as("max_bucket"),
        total(tri).as("pairs"),
        total(when(hot, col("_n") * hotPairs).otherwise(tri)).as("capped_pairs"),
        total(when(hot, col("_n")).otherwise(0L)).as("hot_members"),
        count(lit(1)).as("buckets"),
        total(when(hot, 1L).otherwise(0L)).as("hot_buckets"))
  }

  /** The governor's cap and the pairs each over-cap member yields
    * under `settings` (window − 1, or 0 when hot blocks are dropped):
    * the histogram arguments of a name index. */
  private def governorCap(settings: DedupSettings): Long =
    settings.maxBlockNames.getOrElse(Long.MaxValue)
  private def hotPairsPerName(settings: DedupSettings): Long =
    (settings.hotBlockWindow - 1L) max 0L

  /** The sizing row of a (materialized) name index: the
    * [[bucketHistogram]] of its blocks under the governor's cap.
    * `Pipeline.runDerived` runs it only above the driver gate, for an
    * index it does not collect; below the gate it folds the same row
    * from the collected block keys (the overload below). */
  private[dedup] def indexHistogram(stats: DataFrame, settings: DedupSettings): BucketHistogram =
    BucketHistogram.of(bucketHistogram(stats, Seq("block_key"), governorCap(settings),
      hotPairsPerName(settings)).head())

  /** [[indexHistogram]] folded on the driver from a collected index's
    * block keys. */
  private[dedup] def indexHistogram(blockKeys: Iterable[String],
      settings: DedupSettings): BucketHistogram =
    BucketHistogram.ofBlocks(blockKeys, governorCap(settings), hotPairsPerName(settings))

  /** The name index on the driver, in the column order
    * [[driverNameTable]] reads: block_key, base_name, n_rows, min_row,
    * max_row, token_key. */
  private[dedup] def collectIndex(stats: DataFrame): Array[Row] =
    stats.select("block_key", "base_name", "n_rows", "min_row", "max_row", "token_key").collect()

  /** Which execution regime the name-level stage (pairs → components
    * + candidates) last ran on the calling thread, how many JW passes
    * it paid, and the sizing row the regime was chosen from. Mirrors
    * [[Cluster.lastStats]]: observability only, thread-local, no
    * production branching. */
  final case class StageStats(regime: String, jwPasses: Int, sizing: BucketHistogram)
  private val lastStageTl = new ThreadLocal[StageStats]
  def lastStageStats: Option[StageStats] = Option(lastStageTl.get)
  private[dedup] def recordStage(regime: String, jwPasses: Int, sizing: BucketHistogram): Unit =
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
  def pairConfidence(ratio: Column, token: Column) =
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
    sizedPairs(stats, indexHistogram(stats, settings), settings, salt, pinSink)
  }

  /** [[qualifyingPairsPrepared]] over an index already sized by
    * `sizing` ([[indexHistogram]] under the same settings). */
  private def sizedPairs(stats: DataFrame, sizing: => BucketHistogram, settings: DedupSettings,
      salt: Int = 0, pinSink: DataFrame => Unit = _ => ()): DataFrame =
    governedPairs(stats, sizing, settings, salt, pinSink)(
      allPairs(_, settings, _, _),
      rankedNeighborhoodPairs(_, settings.hotBlockWindow, settings))

  /** The cost governor's split of a name index (default ON), read off
    * its sizing row ([[indexHistogram]]): blocks over
    * `settings.maxBlockNames` switch from full pairing to the
    * sorted-neighborhood O(|b|·w) policy (or are dropped when
    * hotBlockWindow <= 1), bounding the quadratic worst case. No
    * over-cap block means no split at all; otherwise one count window
    * over `block_key` (the [[bandCandidates]] idiom) splits the index,
    * and the row's hot_members picks the rank path ([[ranked]]).
    * `full(names, s, parts)` pairs the under-cap blocks over `s` salt
    * chunks and `parts` join partitions, `hot(ranked)` the over-cap
    * ones, ranked within their blocks by name; the row-returning pairs
    * and [[pairProfile]]'s slim feed pass their own builders.
    *
    * Salt: a pinned `salt` > 0 sets both. Otherwise the fan-out follows
    * the largest under-cap block (at most max_bucket and the cap) and
    * the partitions the names full pairing sees — the REPOSE split
    * follows the skew, not the corpus: under 500 → 4, else 96. A
    * 44k-name index of ≤ 11-name blocks keeps 96 partitions but fans
    * each name out to 4 chunks, not 96. Without a cap a pinned salt
    * reads nothing off the row, so `sizing` is only run when read. */
  private def governedPairs(stats: DataFrame, sizing: => BucketHistogram,
      settings: DedupSettings, salt: Int = 0, pinSink: DataFrame => Unit = _ => ())(
      full: (DataFrame, Int, Int) => DataFrame, hot: DataFrame => DataFrame): DataFrame = {
    lazy val h = sizing
    val cap = governorCap(settings)
    def chunks(n: Long) = if (n < 500) 4 else 96
    val (s, parts) =
      if (salt > 0) (salt, salt) else (chunks(h.maxBucket min cap), chunks(h.members - h.hotMembers))
    if (settings.maxBlockNames.isEmpty || h.hotMembers == 0) full(stats, s, parts)
    else {
      val policy =
        if (settings.hotBlockWindow > 1) s"sorted-neighborhood(window=${settings.hotBlockWindow})"
        else "drop"
      log.warn(s"cost governor: ${h.hotBuckets} block(s) exceed " +
        s"maxBlockNames=$cap — applying $policy to their pairs")
      val sized = stats.withColumn("_bn", count(lit(1)).over(Window.partitionBy("block_key")))
      def side(c: Column) = sized.filter(c).drop("_bn")
      val base = full(side(col("_bn") <= cap), s, parts)
      if (settings.hotBlockWindow <= 1) base
      else base.unionByName(hot(ranked(side(col("_bn") > cap), "block_key", "base_name",
        h.hotMembers, pinSink, settings.reliableCheckpoints)))
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The name table, built on the driver for name indexes under the
    * gate: the pair join, connected components, the cluster sizes, the
    * canonical election and the confidence thresholds of every distinct
    * name in one driver pass over the collected index ([[collectIndex]]),
    * replacing [[distributedNameTable]]'s salted pair join, its fold
    * checkpoint, CC and the name-level aggregates of [[nameTable]]
    * (timings on [[DedupSettings.driverFastPathNames]]). Semantics are
    * bit-identical to [[distributedNameTable]]: the SAME
    * [[graft.functions.JaroWinklerAlgo]] kernel (each name's code points
    * read once, not once per pair), the same predicate and confidence
    * ladder, min-label components, and the same election order
    * (code-point length, UTF-8 byte order).
    *
    * Returns None — caller must use [[distributedNameTable]] — when
    * `sizing` shows more names than `settings.driverFastPathNames`, a
    * block over the governor cap (the hot-block policy is a distributed
    * concern), or more than [[DriverImpliedPairs]] implied pairs. */
  private[dedup] def driverNameTable(spark: SparkSession, rows: Array[Row],
      sizing: BucketHistogram, settings: DedupSettings = DedupSettings()): Option[DataFrame] = {
    import org.apache.spark.unsafe.types.UTF8String
    val fits = settings.driverFastPathNames > 0 &&
      sizing.members <= settings.driverFastPathNames &&
      sizing.pairs <= DriverImpliedPairs && sizing.hotMembers == 0
    if (!fits) return None
    val n = rows.length
    val name = rows.map(r => UTF8String.fromString(r.getString(1)))
    val cps = name.map(graft.functions.NameKernel.codePoints)
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
          val ratio = graft.functions.JaroWinklerAlgo.similarity(cps(i), cps(j))
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
    import spark.implicits._
    recordStage("driver-fast-path", 1, sizing)
    Some((0 until n).map { i =>
      val r = find(i)
      (rows(i).getString(1), clusterId(r), size(r), rows(elected(r)).getString(1),
        opt(top(0)(i)), opt(top(1)(i)), opt(top(2)(i)))
    }.toDF("base_name", "cluster_id", "cluster_size", "elected_name", "t98", "t95", "t88"))
  }

  /** The name table from [[distributedNameTable]]'s name-level results —
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

  /** The name table above the driver gate, from ONE Jaro-Winkler pass:
    * [[qualifyingPairsPrepared]]'s rows already carry both names, their
    * min/max rows and pair_conf, so a single per-partition fold feeds
    * both consumers and no pair row is ever materialized or rejoined.
    * Each partition emits
    *
    *  - the spanning-star edges of a [[MinUnionFind]] over every
    *    qualifying pair (0.70 pairs included: they only merge clusters),
    *    as [[Cluster.preContract]] does, so components are invariant;
    *  - the largest partner max_row per (name, conf) for 0.98/0.95/0.88,
    *    in both orientations.
    *
    * The fold's output is bounded by the distinct names each partition
    * sees, not by its pairs (the sf1 supplier clique has 41M qualifying
    * pairs over 10k names); one aggregate then merges what partitions
    * repeat (a shared star edge, the partial maxima of one (name,
    * conf)), and the result is materialized once. The edges go to
    * [[Cluster.connectedComponents]], bounded by the sizing row (star
    * edges ≤ qualifying pairs ≤ implied pairs); the candidates go to
    * [[nameTable]]. Bit-identical to [[driverNameTable]]
    * (DistributedRegimeSpec). */
  private[dedup] def distributedNameTable(stats: DataFrame, sizing: BucketHistogram,
      settings: DedupSettings): DataFrame = {
    val spark = stats.sparkSession
    import spark.implicits._
    val reliable = settings.reliableCheckpoints
    // a governed hot block's distributed ranking pins a checkpoint whose
    // last reader is the fold below (ADVICE r11)
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val confs = Array(Rules.ConfTokenAndRatio, Rules.ConfHardRatio, Rules.ConfSoftRatio)
    val folded = graft.core.Frames.materialize(
      sizedPairs(stats, sizing, settings, pinSink = pins += _)
        .select("a_min_row", "b_min_row", "a_name", "b_name", "a_max_row", "b_max_row", "pair_conf")
        .as[(Long, Long, String, String, Long, Long, Double)]
        .mapPartitions { it =>
          // built per partition, inside the task
          val uf = new MinUnionFind
          val top = scala.collection.mutable.HashMap.empty[String, Array[Long]]
          def offer(name: String, level: Int, partnerMax: Long): Unit = {
            val t = top.getOrElseUpdate(name, Array.fill(confs.length)(Long.MinValue))
            if (t(level) < partnerMax) t(level) = partnerMax
          }
          it.foreach { case (a, b, aName, bName, aMax, bMax, conf) =>
            uf.union(a, b)
            val level = confs.indexOf(conf)
            if (level >= 0) { offer(aName, level, bMax); offer(bName, level, aMax) }
          }
          uf.starEdges.map { case (r, k) => (r, k, null: String, 0.0, 0L) } ++
            top.iterator.flatMap { case (name, t) =>
              t.indices.filter(t(_) != Long.MinValue).map(l => (0L, 0L, name, confs(l), t(l)))
            }
        }.toDF("src", "dst", "cand_name", "cand_conf", "partner_max_row")
        .groupBy("src", "dst", "cand_name", "cand_conf")
        .agg(max(col("partner_max_row")).as("partner_max_row")),
      reliable)
    pins.foreach(graft.core.Frames.release)
    val comps = Cluster.connectedComponents(
      folded.filter(col("cand_name").isNull).select("src", "dst"),
      edgeCountHint = sizing.pairs, reliable = reliable)
    recordStage("distributed", 1, sizing)
    nameTable(stats, comps, folded.filter(col("cand_name").isNotNull)
      .select("cand_name", "cand_conf", "partner_max_row"))
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
    val slim = governedPairs(stats, indexHistogram(stats, settings), settings)(
      slimPairs, slimSorted(_, settings.hotBlockWindow))
    val qual = qualifies(settings)
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
  private def slimPairs(capped: DataFrame, s: Int, parts: Int): DataFrame =
    saltedSelfJoin(named(capped), "block_key", Seq("name", "token_key"), s, parts)
      .select(jaro_winkler(col("l_name"), col("r_name")).as("ratio"),
        (col("l_token_key") === col("r_token_key")).as("token_match"))

  /** [[rankedNeighborhoodPairs]] slimmed the same way. */
  private def slimSorted(rankedStats: DataFrame, window: Int): DataFrame =
    neighborJoin(named(rankedStats), "block_key", Seq("name", "token_key"), window)
      .select(jaro_winkler(col("a_name"), col("b_name")).as("ratio"),
        (col("a_token_key") === col("b_token_key")).as("token_match"))

  /** Data-visible cost-governor report (ADVICE r2: divergence from
    * exact reference semantics should be observable in data, not only
    * a warn line). One row, a projection of the index's
    * [[bucketHistogram]]: how many blocks exist, how many exceed
    * `settings.maxBlockNames` (and thus run under the hot-block
    * policy instead of full pairing), and how many distinct names
    * those governed blocks hold. */
  def governorStats(stats: DataFrame,
      settings: DedupSettings = DedupSettings()): DataFrame =
    bucketHistogram(stats, Seq("block_key"), governorCap(settings))
      .select(col("buckets").as("total_blocks"), col("hot_buckets").as("governed_blocks"),
        col("hot_members").as("governed_names"))

  /** Full within-block pairing over `s` salt chunks and `parts` join
    * partitions (salted; see the scaladoc above; [[governedPairs]]
    * picks both). `capped` is (derived from) the checkpointed name
    * index, so the two join sides re-read materialized blocks, not the
    * upstream aggregation. */
  private def allPairs(capped: DataFrame, settings: DedupSettings,
      s: Int, parts: Int): DataFrame = {
    val joined = saltedSelfJoin(named(capped), "block_key", NameColumns, s, parts)
    // canonical a<b orientation regardless of which chunk fanned out
    val aIsL = col("l_name") < col("r_name")
    qualified(joined.select(
      col("block_key"),
      when(aIsL, col("l_name")).otherwise(col("r_name")).as("a_name"),
      when(aIsL, col("l_min_row")).otherwise(col("r_min_row")).as("a_min_row"),
      when(aIsL, col("l_max_row")).otherwise(col("r_max_row")).as("a_max_row"),
      when(aIsL, col("r_name")).otherwise(col("l_name")).as("b_name"),
      when(aIsL, col("r_min_row")).otherwise(col("l_min_row")).as("b_min_row"),
      when(aIsL, col("r_max_row")).otherwise(col("l_max_row")).as("b_max_row"),
      (col("l_token_key") === col("r_token_key")).as("token_match"))
      .withColumn("ratio", jaro_winkler(col("a_name"), col("b_name"))), settings)
  }

  /** The pair-join columns of a name index: the name (renamed from
    * base_name by [[named]]) first, then its payload. */
  private val NameColumns = Seq("name", "min_row", "max_row", "token_key")
  private def named(stats: DataFrame): DataFrame = stats.withColumnRenamed("base_name", "name")

  /** The reference predicate `(token_match && jw >= soft) || jw >= hard`
    * (engine.py:260) over (ratio, token_match) pair rows. */
  private def qualifies(settings: DedupSettings): Column =
    (col("token_match") && col("ratio") >= settings.softThreshold) ||
      col("ratio") >= settings.hardThreshold

  /** The qualifying pairs of (ratio, token_match) rows, with pair_conf. */
  private def qualified(pairs: DataFrame, settings: DedupSettings): DataFrame =
    pairs.where(qualifies(settings))
      .withColumn("pair_conf", pairConfidence(col("ratio"), col("token_match")))

  /** Each unordered pair of rows sharing `key` exactly once, over `s`
    * salt chunks — the skew-aware similarity-join partitioning of
    * REPOSE (ICDE 2021). `cols` are the pair columns, the row id first:
    * the left side (key, l_<col>…, l_chunk) fans out to every chunk ≥
    * its own, the right side (key, r_<col>…) stays in its chunk, and
    * same-chunk pairs keep l_<id> < r_<id>. Cross-chunk pairs come from
    * the strictly-smaller chunk's fan-out, so one hot key spreads over
    * `s` chunks instead of one task. Explicit repartition into `parts`
    * partitions: the pre-join shuffle is tiny (ids), so AQE would
    * coalesce it to one partition and serialize the O(|key|²) pair
    * explosion that happens INSIDE the join. A user repartition pins
    * the parallelism. The name stage sizes `s` from its largest block
    * and `parts` from its names ([[governedPairs]]), ANN passes 4·s. */
  private[graft] def saltedSelfJoin(rows: DataFrame, key: String, cols: Seq[String],
      s: Int, parts: Int): DataFrame = {
    val id = cols.head
    val salted = rows.withColumn("chunk", pmod(hash(col(id)), lit(s)))
    val a = salted.select(pairSide(key, "l", cols) ++ Seq(col("chunk").as("l_chunk"),
      explode(sequence(col("chunk"), lit(s - 1))).as("chunk")): _*)
    val b = salted.select(pairSide(key, "r", cols) :+ col("chunk"): _*)
    a.repartition(parts, col(key), col("chunk"))
      .join(b.repartition(parts, col(key), col("chunk")), Seq(key, "chunk"))
      .where(col("l_chunk") =!= col("chunk") || col(s"l_$id") < col(s"r_$id"))
  }

  /** One pair-join side: `key`, then `cols` renamed with prefix `p`
    * (l_name, l_token_key, …). */
  private def pairSide(key: String, p: String, cols: Seq[String]): Seq[Column] =
    col(key) +: cols.map(c => col(c).as(s"${p}_$c"))

  /** The sorted-neighborhood join over a [[ranked]] frame: each row
    * (a_<col>…) meets its `window-1` successors in rank within `key`
    * (b_<col>…). The rank-offset fan-out makes the neighborhood
    * condition an equi-join on (key, rnk), so it shuffles and
    * parallelizes like any hash join. */
  private[graft] def neighborJoin(ranked: DataFrame, key: String, cols: Seq[String],
      window: Int): DataFrame = {
    val a = ranked.select(pairSide(key, "a", cols) :+
      explode(sequence(col("rnk") + 1, col("rnk") + (window - 1))).as("rnk"): _*)
    val b = ranked.select(pairSide(key, "b", cols) :+ col("rnk"): _*)
    a.join(b, Seq(key, "rnk"))
  }

  /** Rows per call above which [[ranked]] switches to [[blockRanked]]:
    * a row_number window over one hot block serializes that block onto
    * ONE task (the sort is fine at 1M names, fatal at 100M). Below it,
    * the plain window is fewer jobs and the two produce identical ranks
    * (RankingSpec). */
  private[dedup] val DistributedRankThreshold = 262144L

  /** Implied pairs above which [[driverNameTable]] declines an index:
    * driver pairing is single-threaded, and 2M pairs is about 1–2 s of
    * JW. */
  private[dedup] val DriverImpliedPairs = 2000000L

  /** Distributed per-key ranking: the same values as
    * `row_number().over(partitionBy(key).orderBy(order))` (`order` is
    * unique within a key, so ranks are deterministic) without funneling
    * a hot key through a single task. Two-pass range-partitioned
    * pattern: range-repartition by (key, order) — pinned with an eager
    * checkpoint so both readers see the same partition ids — count each
    * key's rows per partition (tiny: ≤ partitions × keys-touching-them
    * rows), turn the counts into per-(partition, key) offsets by a
    * running sum over the partitions of each key, then a LOCAL
    * row_number within (partition, key) plus the broadcast offset.
    * Every step is |key|/partitions parallel; nothing is single-task.
    *
    * `pinSink` receives the eagerly-checkpointed range frame so the
    * CALLER can `Frames.release` it once the returned frame's last
    * reader has finished — without it, every invocation pins an
    * O(rows) checkpoint for the session lifetime (ADVICE r11;
    * [[distributedNameTable]] releases it once its fold is written). */
  private[dedup] def blockRanked(stats: DataFrame, parts: Int,
      pinSink: DataFrame => Unit = _ => (),
      reliable: Boolean = false, key: String = "block_key",
      order: String = "base_name"): DataFrame = {
    val ranged = graft.core.Frames.materialize(
      stats
        .repartitionByRange(parts, col(key), col(order))
        .withColumn("_pid", spark_partition_id()),
      reliable)
    pinSink(ranged)
    val before = Window.partitionBy(key).orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("_pid", key).agg(count(lit(1)).as("_c"))
      .select(col("_pid"), col(key), coalesce(sum(col("_c")).over(before), lit(0L)).as("_off"))
    ranged.withColumn("_lrnk", row_number().over(Window.partitionBy("_pid", key).orderBy(order)))
      .join(broadcast(offsets), Seq("_pid", key))
      .withColumn("rnk", (col("_off") + col("_lrnk")).cast("int"))
      .drop("_pid", "_off", "_lrnk")
  }

  /** The per-key rank column `rnk` of the sorted-neighborhood joins:
    * the plain window up to [[DistributedRankThreshold]] rows, the
    * two-pass [[blockRanked]] above it — identical values either way,
    * the gate is wall-clock only. `n` is the frame's row count, read
    * by the caller from an aggregate it already runs (the
    * governor's sizing row, ANN's memoized bucket histogram); a
    * negative count (unknown) takes the window. */
  private[graft] def ranked(rows: DataFrame, key: String, order: String, n: Long,
      pinSink: DataFrame => Unit = _ => (), reliable: Boolean = false): DataFrame =
    if (n <= DistributedRankThreshold) {
      rows.withColumn("rnk", row_number().over(Window.partitionBy(key).orderBy(order)))
    } else {
      val parts = rows.sparkSession.sparkContext.defaultParallelism
      log.info(s"sorted-neighborhood: distributed ranking over $n rows " +
        s"($parts range partitions)")
      blockRanked(rows, parts, pinSink, reliable, key, order)
    }

  /** Unordered candidate pairs (a_id < b_id, each once) of the rows
    * that share every `keys` value — the LSH band self-join of the
    * text and image near-dup paths. Under `cap`, buckets with more
    * members are dropped first by a count window over `keys`, NOT a
    * groupBy + semi-join: the window's shuffle partitioning is exactly
    * the self-join's key, so Catalyst reuses one exchange instead of
    * adding two more for the join back. The drop is SIZE-GATED: it runs
    * only when `maxBucket` (a memoized full-corpus max, read only under
    * a cap) exceeds the cap; otherwise it is a proven no-op and the
    * window pass is skipped. */
  private[graft] def bandCandidates(rows: DataFrame, id: String, keys: Seq[String],
      cap: Option[Long] = None, maxBucket: => Long = 0L): DataFrame = {
    val kept = cap.filter(maxBucket > _).fold(rows) { c =>
      rows.withColumn("_bn", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("_bn") <= c).drop("_bn")
    }
    kept.as("a")
      .join(kept.as("b"), keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("a_id"), col(s"b.$id").as("b_id"))
      .distinct()
  }

  /** The qualifying sorted-neighborhood pairs of a name index ranked
    * within its blocks by base_name ([[ranked]] or [[blockRanked]]),
    * in the columns of [[qualifyingPairs]]. */
  private[dedup] def rankedNeighborhoodPairs(rankedStats: DataFrame, window: Int,
      settings: DedupSettings): DataFrame =
    qualified(neighborJoin(named(rankedStats), "block_key", NameColumns, window)
      .withColumn("ratio", jaro_winkler(col("a_name"), col("b_name")))
      .withColumn("token_match", col("a_token_key") === col("b_token_key"))
      .drop("a_token_key", "b_token_key", "rnk"), settings)

  /** Sorted-neighborhood pair generation — the O(n·w) scale path for
    * blocks of all-distinct names where full pairing is quadratic:
    * names are sorted within each block and each name is compared
    * only to its `window-1` successors ([[neighborJoin]]). Counts the
    * index to pick the rank path, so no hot block ever serializes onto
    * one task past [[DistributedRankThreshold]] names. */
  def sortedNeighborhoodPairs(stats: DataFrame, window: Int,
      settings: DedupSettings = DedupSettings(),
      pinSink: DataFrame => Unit = _ => ()): DataFrame = {
    settings.engageCheckpoints(stats.sparkSession)
    rankedNeighborhoodPairs(ranked(stats, "block_key", "base_name", stats.count(), pinSink,
      settings.reliableCheckpoints), window, settings)
  }
}
