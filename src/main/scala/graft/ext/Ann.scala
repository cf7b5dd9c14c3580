package graft.ext

import graft.dedup.Matching
import graft.functions.vector.dot_product
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `Array[Float]`
  * embedding column (north-star extension).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k via a pair join; the
  *    correctness baseline. O(|Q|·|N|) — fine when |Q| is a probe
  *    set, never for all-pairs at scale.
  *  - [[ivfSearch]] — inverted-file search: assign vectors to coarse
  *    partitions, route each query to its `nProbe` nearest centroids,
  *    and scan only those buckets. The scan is an equi-join on the
  *    partition key, so at 100 TB it shuffles each query to a few
  *    buckets instead of broadcasting it everywhere.
  *
  * Determinism: centroids are component means computed with DECIMAL
  * sums (exact, aggregation-order-independent); cosines/distances are
  * rounded before ranking and tie-broken by id, so results are stable
  * across partitionings and engines. */
object Ann {

  /** Elementwise cast to double — all math happens in double. */
  def toDouble(emb: Column): Column = transform(emb, _.cast("double"))

  def l2Norm(v: Column): Column =
    sqrt(aggregate(transform(v, x => x * x), lit(0.0), (s, x) => s + x))

  /** Cosine of two PRE-NORMALIZED vectors = their dot product,
    * rounded for cross-engine stability. The dot runs as a native
    * codegen'd expression ([[graft.functions.DotProduct]]). */
  def cosine(ua: Column, ub: Column, scale: Int = 6): Column =
    round(dot_product(ua, ub), scale)

  /** (vec_id, v, nrm, u) projection of an embeddings table, with
    * u = v/||v|| precomputed once per vector so the O(pairs) join does
    * only dot products.
    *
    * Zero-norm vectors (empty docs, padding rows — every large
    * embedding table has some) normalize to the zero vector rather
    * than dividing by zero, which under ANSI mode (Spark 4 default)
    * would fail the whole job: cos(0⃗, ·) = 0, so they can never clear
    * a similarity threshold and rank behind any positive match. */
  def prepared(emb: DataFrame, idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val v = toDouble(col(embCol))
    emb.select(col(idCol).as("vec_id"), v.as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .withColumn("u", transform(col("v"),
        x => x / when(col("nrm") === 0.0, lit(1.0)).otherwise(col("nrm"))))
  }

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("u").as("qu"))
    val n = corpus.select(col("vec_id").as("neighbor_id"), col("u").as("nu"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    q.join(n, col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qu"), col("nu")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "neighbor_id", "cos")
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH: component
    * (j, d) derives from md5("j|d"), so every engine/run regenerates
    * bit-identical planes — no RNG state to ship. Values ∈ [-1, 1]. */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { j =>
      (0 until dim).map { d =>
        val h = md.digest(s"$j|$d".getBytes("UTF-8"))
        val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
          ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
        (u.toDouble / 4294967296.0) * 2.0 - 1.0
      }
    }
  }

  /** Sign-LSH bucket id: bit j = (v · plane_j > 0). Vectors in the
    * same bucket agree on every hyperplane side — candidates for
    * high-cosine pairs. 2^nPlanes buckets. */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(dot_product(v, typedLit(p)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Salted within-bucket cosine pair join over rows carrying
    * (bucket, vec_id, u): every unordered pair sharing a bucket, with
    * cos ≥ `minCos`, each generated exactly once as (a_id < b_id).
    *
    * Skew: correlated embeddings concentrate in few buckets, so an
    * unsalted bucket self-join would serialize the dominant bucket's
    * O(|b|²) pair explosion onto one partition. The join is the dedup
    * pair join's ([[Matching.saltedSelfJoin]]): vectors are
    * salted into `salt` chunks over 4·salt partitions, so each bucket
    * gets `salt`-way parallelism with each unordered pair generated
    * exactly once. Shared by the sign-LSH pair join ([[lshPairs]],
    * bucket = hyperplane signature) and SemDeDup ([[semDedup]],
    * bucket = cluster label).
    *
    * `hotMembers` is the member count of the over-cap buckets, when the
    * caller has it from a bucket histogram it already ran; it picks the
    * hot buckets' rank path ([[Matching.ranked]]), −1 =
    * unknown (the plain window). */
  def saltedCosinePairs(bucketed: DataFrame, minCos: Double,
      salt: Int = 16, bucketCap: Option[Int] = None,
      window: Int = 8, hotMembers: Long = -1L): DataFrame = bucketCap match {
    case None => triangularPairs(bucketed, minCos, salt)
    case Some(cap) =>
      // window=1 would make the neighbor join's sequence(rnk+1, rnk)
      // DESCENDING — emitting self-pairs that violate a_id < b_id
      // (ADVICE r15); production passes 8, but the parameter is public
      require(window >= 2,
        s"bucketCap requires window >= 2 (each hot-bucket member pairs " +
          s"with its window-1 rank successors); got $window")
      // Hot-bucket governor (VERDICT r14 item 1 — the ANN counterpart
      // of the dedup pair join's maxBlockNames cap): a bucket with n
      // members implies n(n−1)/2 candidate cosines, so one hot bucket
      // (a duplicate family, a degenerate embedding mode) makes the
      // whole join quadratic no matter how well the LSH geometry
      // spreads everything else. Buckets over `cap` members switch to
      // the sorted-neighborhood O(n·window) policy (dedup's
      // hotBlockWindow pattern, NOT the text family's drop-the-bucket
      // policy): members sort by vec_id and each pairs with its
      // window−1 successors only. For the workload the cap exists for
      // — near-dup FAMILIES co-bucketed because genuine near-dups
      // agree on every hyperplane — the family stays CHAIN-CONNECTED
      // through rank-adjacent pairs (every adjacent pair clears θ when
      // the family is a θ-clique), so the downstream connected
      // components recover the identical clusters at a fraction of the
      // edges; recall is only traded for members whose nearest
      // in-bucket neighbors all sit further than `window` ranks away.
      // The size split joins a BROADCAST bucket-count table (≤
      // 2^planes rows after a map-side-combined aggregate) instead of
      // a count window: a window would add a full-data exchange by
      // bucket that nothing downstream reuses (the triangular join
      // keys on (bucket, chunk)), and its windowed subtree would be
      // recomputed once per consumer — measured +0.5 s on the sf1
      // default for a cap that trims 23 buckets. The broadcast join
      // is map-side on every scan. Callers that can cheaply prove no
      // bucket exceeds the cap (a Memo'd max-bucket aggregate — see
      // AnnQueries.governedPairs) should pass bucketCap = None and
      // skip the split entirely; results are identical either way
      // (AnnCapGovernorSpec pins the no-op equality).
      val base = bucketed.select(col("bucket"), col("vec_id"), col("u"))
      val counts = base.groupBy("bucket").agg(count(lit(1)).as("bn"))
      val sized = base.join(broadcast(counts), Seq("bucket"))
      triangularPairs(sized.filter(col("bn") <= cap).drop("bn"), minCos, salt)
        .unionByName(
          neighborhoodPairs(sized.filter(col("bn") > cap).drop("bn"),
            minCos, window, hotMembers))
  }

  /** Sorted-neighborhood pairs within hot buckets: rank by vec_id
    * within the bucket, join rank r to ranks r+1..r+window−1 — an
    * equi-join on (bucket, rank), O(|b|·window) pairs, a_id < b_id by
    * construction (ranks follow vec_id order). The rank is the dedup
    * name stage's ([[Matching.ranked]]): distributed past
    * its threshold when `hotMembers` says so. */
  private def neighborhoodPairs(hot: DataFrame, minCos: Double,
      window: Int, hotMembers: Long): DataFrame =
    Matching.neighborJoin(
      Matching.ranked(hot, "bucket", "vec_id", hotMembers),
      "bucket", Seq("vec_id", "u"), window)
      .withColumn("cos", cosine(col("a_u"), col("b_u")))
      .filter(col("cos") >= minCos)
      .select(col("a_vec_id").as("a_id"), col("b_vec_id").as("b_id"), col("bucket"), col("cos"))

  /** The full salted triangular join (see [[saltedCosinePairs]]);
    * cosine is symmetric (same index-ordered sum either way), so only
    * the ids need canonical a<b orientation. */
  private def triangularPairs(bucketed: DataFrame, minCos: Double,
      salt: Int): DataFrame =
    Matching.saltedSelfJoin(bucketed, "bucket", Seq("vec_id", "u"), salt, 4 * salt)
      .withColumn("cos", cosine(col("l_u"), col("r_u")))
      .filter(col("cos") >= minCos)
      .select(least(col("l_vec_id"), col("r_vec_id")).as("a_id"),
        greatest(col("l_vec_id"), col("r_vec_id")).as("b_id"),
        col("bucket"), col("cos"))

  /** LSH-bucketed near-dup pairs: bucket equi-join (shuffles each
    * vector to ONE bucket — the 100 TB alternative to the all-pairs
    * O(n²) join), then exact cosine verification. Approximate: pairs
    * split by any plane are missed; recall rises with fewer planes or
    * multiple tables. */
  def lshPairs(prep: DataFrame, planes: Seq[Seq[Double]], minCos: Double,
      salt: Int = 16, bucketCap: Option[Int] = None,
      window: Int = 8, hotMembers: Long = -1L): DataFrame =
    saltedCosinePairs(prep.withColumn("bucket", lshBucket(col("v"), planes)),
      minCos, salt, bucketCap, window, hotMembers)

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.08487) over PRE-CLUSTERED embeddings: within each
    * cluster, a vector is a semantic duplicate iff a LOWER-id vector
    * of the same cluster lies within the cosine threshold; the lowest
    * such id is recorded as `dup_of`. Keep-lowest-id makes the greedy
    * per-cluster dedup policy deterministic across engines, runs and
    * partitionings (the paper keeps a random member per ε-ball).
    *
    * Scale: pairwise cost is per-cluster, never corpus-wide — exactly
    * the SemDeDup cost model, where k is chosen so n/k vectors fit an
    * executor's pair budget — and the within-cluster explosion runs
    * through the salted triangular join, so one fat cluster spreads
    * over `salt` partitions instead of serializing.
    *
    * Input: rows with (vec_id, u, label); output: one row per vector
    * with its dup flag. */
  def semDedup(prepLabeled: DataFrame, minCos: Double, salt: Int = 16): DataFrame = {
    val pairs = saltedCosinePairs(
      prepLabeled.withColumn("bucket", col("label")), minCos, salt)
    // a_id < b_id by construction, so b is always the later (dropped)
    // side; min(a_id) = the canonical vector it duplicates
    val dups = pairs.groupBy(col("b_id").as("vec_id"))
      .agg(min(col("a_id")).as("dup_of"))
    prepLabeled.select("vec_id", "label")
      .join(dups, Seq("vec_id"), "left")
      .withColumn("is_dup", col("dup_of").isNotNull)
  }

  /** Deterministic component-mean centroids per partition label:
    * (label, dim, cval). DECIMAL sums make the mean independent of
    * aggregation order. */
  def centroids(emb: DataFrame, labelCol: String = "label", embCol: String = "embedding"): DataFrame =
    emb.select(col(labelCol).as("label"), posexplode(toDouble(col(embCol))).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg((sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("cval"))

  /** Squared L2 distance of each query to each centroid, rounded.
    *
    * Why the sum stays double (ADVICE r9 suggested a DECIMAL sum like
    * the centroid means): the hazard class that actually bit
    * (text_dsir r9, text_lm_score r7) is GRID-ALIGNED inputs — values
    * pre-rounded to a decimal grid whose sums land exactly on
    * `round`'s half-way boundaries, where engine-order differences
    * flip the rounded digit systematically. The squared differences
    * here are arbitrary reals: the probability that a 64-term sum
    * lands within double-reassociation distance (~1e-15 absolute) of
    * a 0.00005 boundary is ~1e-11 per value, while a double→DECIMAL
    * cast of every term would TRADE that for the cross-engine
    * cast-semantics risk on ~n·k values per round (Spark casts via
    * shortest-decimal toString, DuckDB via scaled-double rounding —
    * agreeing almost always, but not by construction). The DECIMAL
    * treatment is reserved for readouts of grid-valued columns (see
    * ann_kmeans_stats / ann_pq), where it is exact. */
  def centroidDistances(queries: DataFrame, cent: DataFrame): DataFrame =
    queries.select(col("vec_id").as("query_id"), posexplode(col("v")).as(Seq("dim", "qx")))
      .join(cent, Seq("dim"))
      .groupBy("query_id", "label")
      .agg(round(sum((col("qx") - col("cval")) * (col("qx") - col("cval"))), 4).as("d2"))

  /** Nearest centroid per vector: the `nProbe = 1` case of IVF
    * routing — rounded squared-L2 distances ([[centroidDistances]]),
    * ties broken by the lower label, so the assignment is stable
    * across engines and partitionings. */
  def nearestCentroid(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2").asc, col("label").asc)
    // k·dim centroid rows are bounded at ANY corpus size: broadcast
    // by hint so the n·dim stream never repartitions per iteration
    // (static planning can't see the aggregate's true size)
    centroidDistances(vecs.select(col("vec_id"), col("v")), broadcast(cent))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("query_id").as("vec_id"), col("label"), col("d2"))
  }

  /** Deterministic distributed Lloyd's k-means over (vec_id, v) rows
    * — the operator that PRODUCES the coarse partitions IVF routing
    * and SemDeDup consume, rather than assuming a label column
    * already exists. Fully distributed: no driver-side collect at any
    * step.
    *
    * Determinism (the property k-means usually lacks): seeds are the
    * `k` lowest vec_ids (no RNG), component means run through the
    * DECIMAL-exact [[centroids]] aggregation (aggregation-order
    * independent), distances are rounded before ranking, and ties
    * break on the lower cluster label — so every engine, run and
    * partitioning converges identically, which is what makes a DuckDB
    * oracle twin possible at all.
    *
    * Scale: each round is (a) a distance join of the n·dim exploded
    * vectors against the k·dim centroid table — tiny, so Spark
    * broadcasts it — aggregated back to n·k rows, and (b) one
    * (label, dim)-keyed mean. Nothing is ever pairwise in n; cost is
    * O(iters · n · dim · k) compute with only gram-sized shuffles. A
    * cluster that loses all members simply drops out of the centroid
    * table (standard Lloyd's degeneracy; deterministic here). */
  def kmeans(vecs: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansFromCentroids(vecs, kmeansCentroids(vecs, k, iters))

  /** Final assignment against an already-trained centroid table —
    * split out so a caller that Memo'd the codebook ([[AnnQueries]])
    * derives the assignment without re-running the Lloyd's chain. */
  def kmeansFromCentroids(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val base = vecs.select(col("vec_id"), col("v"))
    val w = Window.partitionBy("cluster")
    nearestCentroid(base, cent)
      .select(col("vec_id"), col("label").cast("long").as("cluster"), col("d2"))
      .withColumn("cluster_size", count(lit(1)).over(w))
  }

  /** The converged (label, dim, cval) centroid table of [[kmeans]] —
    * exposed separately so PQ/ADC consumers can reuse the codebook
    * (distance lookup tables need the centroid VALUES, not just the
    * assignment). */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val base = vecs.select(col("vec_id"), col("v"))
    val seedW = Window.orderBy("vec_id") // k rows only — single partition is fine
    var cent = base.orderBy("vec_id").limit(k)
      .withColumn("label", row_number().over(seedW) - 1)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "cval")))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val labels = nearestCentroid(base, cent)
      val prev = cent
      // eager checkpoint per round: the centroid table is k·dim rows
      // (tiny at any corpus size), but left as lineage each round's
      // plan re-executes every earlier round — O(iters²) recompute,
      // and the caller's final assignment would re-run the whole
      // chain once more (ADVICE r9). Materializing the k·dim frame
      // costs one small job; the superseded round's blocks are
      // released immediately.
      cent = base.join(labels.select("vec_id", "label"), Seq("vec_id"))
        .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg((sum(col("x").cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("cval"))
        .localCheckpoint(true)
      graft.core.Frames.release(prev)
    }
    cent
  }

  /** IVF search: probe the `nProbe` nearest coarse partitions, then
    * exact top-k cosine within the probed buckets only. */
  def ivfSearch(emb: DataFrame, queries: DataFrame, nProbe: Int, k: Int,
      labelCol: String = "label"): DataFrame =
    ivfSearchPrepared(
      prepared(emb).join(
        emb.select(col("vec_id"), col(labelCol).as("label")), Seq("vec_id")),
      centroids(emb, labelCol), queries, nProbe, k)

  /** [[ivfSearch]] over an ALREADY-prepared labeled corpus and an
    * already-trained centroid table — the serve-path shape: the IVF
    * index (normalized labeled vectors + per-label centroids) is
    * trained once and queried many times, so the per-query plan must
    * not re-normalize the corpus or re-aggregate the centroids (the
    * bench measured both re-running per repetition inside ann_ivf —
    * the posexplode + groupBy centroid pass was the query's dominant
    * exchange). Bit-identical results: prepared/centroids are
    * deterministic (DECIMAL centroid sums are aggregation-order-
    * independent), so precomputing them changes the plan, never the
    * rows. */
  def ivfSearchPrepared(prep: DataFrame, cent: DataFrame,
      queries: DataFrame, nProbe: Int, k: Int): DataFrame = {
    val probeW = Window.partitionBy("query_id").orderBy(col("d2").asc, col("label").asc)
    val probed = centroidDistances(queries, cent)
      .withColumn("crk", row_number().over(probeW))
      .filter(col("crk") <= nProbe)
      .select("query_id", "label")
    val q = queries.select(col("vec_id").as("query_id"), col("u").as("qu"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    probed
      .join(prep.select(col("label"), col("vec_id").as("neighbor_id"),
        col("u").as("nu")), Seq("label"))
      .join(q, Seq("query_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qu"), col("nu")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "neighbor_id", "cos")
  }
}
