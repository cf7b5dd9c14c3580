package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C1 — distributed connected components (engine.py:229-268's
  * union-find, re-expressed as an iterative DataFrame algorithm).
  *
  * Three regimes, chosen by measured size, cheapest first:
  *
  *  1. **Edges fit on the driver** (≤ `localThreshold`): one collect +
  *     path-compressed union-find. The node set here is DISTINCT
  *     NAMES, not rows — usually tiny after the distinct-name
  *     reduction — and one collect beats ~6 Spark jobs of iteration
  *     latency.
  *  2. **Edges huge, nodes small** (the dedup worst case: a dense
  *     near-clique of similar names — 10k nodes can carry 50M edges):
  *     per round, aggregate to each node's MIN neighbor (≤ |nodes|
  *     rows), union-find that on the driver, and relabel the big edge
  *     set through an explicitly `broadcast` map — map-side only, no
  *     sort-merge join of the edge set. A clique finishes in one
  *     round; Borůvka-style halving bounds the rest. (An earlier
  *     join-based contraction ran the relabels as sort-merge joins —
  *     checkpointed frames carry no size stats, so nothing broadcast
  *     — and was 3× slower than the label loop on the clique.)
  *  3. **Nodes too big to collect**: min-label propagation with
  *     pointer jumping (`label := label(label)`), the O(log n)-round
  *     distributed loop. Lineage is truncated with eager
  *     `localCheckpoint` every round; the driver-side convergence
  *     loop is the one place control intentionally returns to the
  *     driver (SURVEY.md §3).
  */
object Cluster {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Diagnostics from the most recent [[connectedComponents]] call on
    * the calling thread: which regime ran, how many driver-loop
    * rounds it took, and how many edges the per-partition
    * pre-contraction forwarded to the regime (−1 when pre-contraction
    * didn't run). Thread-local so parallel suites (and concurrent
    * pipeline runs sharing a session) don't race; regime 1 reports 0
    * rounds (single collect, no loop). Observability only — no
    * production code branches on it. */
  final case class CcStats(regime: String, rounds: Int,
      contractedEdges: Long = -1L)
  private val lastStatsTl = new ThreadLocal[CcStats]
  def lastStats: Option[CcStats] = Option(lastStatsTl.get)
  /** Reset the calling thread's stats so a reader (the bench's
    * per-query stamp) can tell "this query ran CC" from "a previous
    * query on this thread did". */
  def clearStats(): Unit = lastStatsTl.remove()

  /** Checkpoint-release on supersede — shared with the k-means loop
    * (see [[graft.core.Frames.release]] for the full rationale). */
  private def release(df: DataFrame): Unit = graft.core.Frames.release(df)

  /** Edge-set checkpoints store SERIALIZED: a dense graph's edge list
    * is tens of millions of tiny rows, and deserialized storage makes
    * every one a heap object the collector traces — serialized they
    * are opaque byte blocks at ~a third the footprint, and the decode
    * cost on re-read is two longs per row. */
  private val SerLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** @param edges undirected edges, columns (src: long, dst: long);
    *              either direction suffices; duplicates tolerated.
    * @param edgesMaterialized caller's hint that `edges` is already
    *              checkpointed/cached. Since the pre-contraction
    *              restructure the edge relation is consumed in ONE
    *              map-only pass either way and never checkpointed
    *              here, so the flag no longer changes behavior; it is
    *              kept for API stability.
    * @param edgeCountHint caller-supplied UPPER BOUND on the edge
    *              count (−1 = unknown). When the bound already proves
    *              the symmetrized set fits the driver
    *              (2·hint ≤ localThreshold), the pre-contraction pass
    *              and its checkpoint + count jobs are skipped and the
    *              raw edges go straight to the single-collect
    *              union-find — the same algorithm preContract runs
    *              per-partition, so results are bit-identical
    *              (ClusterSpec pins both sides of the gate). Callers
    *              that already know their pair volume (the dedup
    *              pipeline's Σ C(block,2) estimate, the ANN path's
    *              Memo'd bucket histogram) pass it here; VERDICT r15
    *              item 1 — small graphs were paying the contract-first
    *              constant (~0.35 s per CC consumer at sf0.1) for a
    *              pass that exists for multi-million-edge inputs.
    * @return (id: long, component: long) for every node appearing in
    *         an edge, with component = min node id in the component.
    *         Isolated nodes (no edges) simply don't appear — callers
    *         default them to their own id.
    *
    * Structure (VERDICT r14 item 2): the FIRST thing that happens to
    * the edge relation — however expensive the join that produces it
    * — is a per-partition spanning-star pre-contraction
    * ([[preContract]]): one map-only pass, components invariant, and
    * the only thing ever materialized is the contracted set (≤ one
    * edge per distinct node per partition — on the sf10 near-dup
    * corpus, 1.3M capped pairwise edges contract toward ~199k nodes,
    * and r14's 8.8M uncapped edges the same). The raw edge set is
    * never checkpointed and never counted: every downstream regime —
    * single-collect union-find, min-edge contraction, label
    * propagation — iterates over the contracted set, whose rounds
    * touch ~edge-volume/family-size fewer rows, and a graph that
    * contracts under `localThreshold` collapses to the single-collect
    * regime outright. Regime thresholds still compare the SYMMETRIZED
    * count (2× directed), now of the contracted set.
    *
    * `reliable = true` writes real `checkpoint()` files and therefore
    * requires the context's checkpoint directory to be set first —
    * this entry point takes a bare Boolean (no settings), so callers
    * own that: Pipeline.run engages it from
    * `DedupSettings.checkpointDir`; a direct caller must
    * `setCheckpointDir` (or call `DedupSettings.engageCheckpoints`)
    * before passing true. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
      localThreshold: Long = 2000000, edgesMaterialized: Boolean = false,
      edgeCountHint: Long = -1L, reliable: Boolean = false): DataFrame = {
    val directed0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    if (edgeCountHint >= 0 && 2L * edgeCountHint <= localThreshold) {
      // proven-small: one collect of the raw edges, no pre-contraction
      // jobs (contractedEdges stays −1 = "pre-contraction didn't run")
      lastStatsTl.set(CcStats("local-union-find", 0))
      return localEdgeCC(directed0)
    }
    var contracted = graft.core.Frames.materialize(
      preContract(directed0), reliable, SerLevel)
    var cEdges = contracted.count()
    // The free pass contracts within the CALLER's partitioning — when
    // that scatters each component across partitions (an LSH pair
    // join's (bucket, chunk) keying does), the local forests barely
    // merge (sf10 measured 1.31M → 1.01M). Alternating-key passes
    // (Kiveris et al. 2014 "Connected Components in MapReduce",
    // the large-star/small-star idea): co-locate by member, then by
    // root, re-contract — each pass is one cheap shuffle of the
    // already-contracted set + the same map-only union-find, and each
    // preserves components, so any prefix of passes is safe. Stop
    // when a pass stops paying (< 30% shrink), when the set fits the
    // single-collect regime, or after 4 passes (convergence is
    // O(log n) rounds; the tail isn't worth the scheduling). The 30%
    // bar only decides whether to KEEP ITERATING — a pass that shrank
    // the set at all has already materialized the smaller copy, which
    // is free to adopt and strictly cheaper for the regime to iterate
    // over (ADVICE r15).
    var pass = 0
    while (pass < 4 && 2L * cEdges > localThreshold) {
      val key = if (pass % 2 == 0) "dst" else "src"
      val next = graft.core.Frames.materialize(
        preContract(contracted.repartition(col(key))), reliable, SerLevel)
      val n = next.count()
      val paying = n < (cEdges * 7) / 10
      if (n < cEdges) { release(contracted); contracted = next; cEdges = n }
      else release(next)
      pass = if (paying) pass + 1 else 4
    }
    val result =
      if (2L * cEdges <= localThreshold) {
        lastStatsTl.set(CcStats("local-union-find", 0))
        localEdgeCC(contracted)
      } else {
        val nodeCount = contracted
          .select(col("src").as("n")).union(contracted.select(col("dst").as("n")))
          .agg(approx_count_distinct(col("n"), 0.02)).head().getLong(0)
        if (nodeCount <= localThreshold) minEdgeContractionCC(contracted, maxIter, reliable)
        else labelPropagationCC(contracted, maxIter, reliable)
      }
    release(contracted)
    lastStatsTl.set(lastStatsTl.get.copy(contractedEdges = cEdges))
    result
  }

  /** The near-dup cluster table (id, cluster_id, cluster_size,
    * is_canonical) of the ANN, text and image dedup paths, ordered by
    * id: verified `pairs` (a_id, b_id) become [[connectedComponents]]
    * edges (with the caller's `edgeCountHint`), transitive near-dups
    * merge, the component's min id is the cluster id and the canonical
    * member, and members without an edge stay singletons. `members`
    * holds the `id` column, and with `rep` also a representative column
    * the pairs are over (text's exact-dedup pre-pass: doc → the min
    * doc_id of its content); every member takes its representative's
    * cluster. */
  def clusterTable(members: DataFrame, id: String, pairs: DataFrame,
      edgeCountHint: Long = -1L, rep: Option[String] = None): DataFrame = {
    val r = rep.getOrElse(id)
    val comps = connectedComponents(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst")),
      edgeCountHint = edgeCountHint)
      .withColumnRenamed("id", r)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    members.select((id +: rep.toSeq).map(col): _*)
      .join(comps, Seq(r), "left")
      .select(col(id), coalesce(col("component"), col(r)).as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col(id) === col("cluster_id"))
      .orderBy(id)
  }

  /** The per-partition spanning-star pass: local union-find over each
    * partition's edges, one (root, member) edge per non-root member.
    * Nodes keep appearing in the output (every input node's local
    * component has ≥ 2 members — self-loops are filtered upstream —
    * so each node is either an emitted member or the root carried by
    * a sibling's edge), which preserves the contract that every
    * edge-connected node shows up in the result. Memory is bounded by
    * the DISTINCT NODES PER PARTITION, not the edge count — the
    * pathological inputs this pass exists for (dense near-clique
    * families) have far more edges than nodes. */
  private[dedup] def preContract(directed: DataFrame): DataFrame = {
    val spark = directed.sparkSession
    import spark.implicits._
    directed.select(col("src"), col("dst")).as[(Long, Long)]
      .mapPartitions { it =>
        // built per partition, inside the task: nothing driver-side
        // is captured by the closure
        val uf = new MinUnionFind
        it.foreach { case (a, b) => uf.union(a, b) }
        uf.starEdges
      }.toDF("src", "dst")
  }

  /** Regime 1: collect + path-compressed union-find (direction
    * agnostic — directed edges suffice). */
  private def localEdgeCC(directed: DataFrame): DataFrame = {
    val uf = new MinUnionFind
    directed.collect().foreach(r => uf.union(r.getLong(0), r.getLong(1)))
    val spark = directed.sparkSession
    import spark.implicits._
    uf.components.toSeq.toDF("id", "component")
  }

  /** Regime 2: driver union-find over per-node min edges + broadcast
    * relabel of the (huge, DIRECTED) edge set, iterated to fixpoint.
    * The min-neighbor aggregate unions both orientations inline —
    * partial aggregation collapses each to ≤ |nodes| rows map-side,
    * so the symmetric view costs a second scan, never a second
    * materialization. */
  private def minEdgeContractionCC(directed: DataFrame, maxIter: Int,
      reliable: Boolean = false): DataFrame = {
    val spark = directed.sparkSession
    import spark.implicits._
    var e = directed
    val uf = new MinUnionFind
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // ≤ |nodes| rows: each remaining rep's min remaining neighbor
      // over BOTH edge orientations (e is directed)
      val mins = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .groupBy("src").agg(min(col("dst")).as("dst")).collect()
      if (mins.isEmpty) done = true
      else {
        mins.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
        val mapDf = broadcast(uf.components.toSeq.toDF("_n", "_r"))
        // map-side relabel: two broadcast hash joins, no edge shuffle;
        // distinct's map-side partial agg shrinks the shuffle to the
        // contracted edge set
        val prev = e
        e = graft.core.Frames.materialize(
          e.join(mapDf, col("src") === col("_n"), "left")
            .select(coalesce(col("_r"), col("src")).as("src"), col("dst"))
            .join(mapDf, col("dst") === col("_n"), "left")
            .select(col("src"), coalesce(col("_r"), col("dst")).as("dst"))
            .filter(col("src") =!= col("dst"))
            .distinct(),
          reliable, SerLevel)
        // the eager checkpoint above materialized the new edge set, so
        // the previous round's copy is dead — release it now (round
        // 0's value belongs to the caller and is skipped)
        if (prev ne directed) release(prev)
        done = e.isEmpty
        iter += 1
      }
    }
    // Borůvka halving makes maxIter=50 unreachable in practice, but an
    // exhausted loop would silently return under-merged components —
    // make non-convergence observable (ADVICE r2).
    if (!done) log.warn(
      s"connectedComponents (min-edge contraction) exhausted maxIter=$maxIter " +
        "before convergence — returned components may be under-merged")
    if (e ne directed) release(e) // the answer lives in `uf`, not `e`
    lastStatsTl.set(CcStats("min-edge-contraction", iter))
    uf.components.toSeq.toDF("id", "component")
  }

  /** Regime 3: min-label propagation + pointer jumping. Labels must
    * flow both ways along an edge, so this regime expands the
    * directed set to symmetric form — as a lazy map-only view over
    * the materialized directed edges, re-read per round, never
    * materialized itself. */
  private def labelPropagationCC(directed: DataFrame, maxIter: Int,
      reliable: Boolean = false): DataFrame = {
    val sym = directed
      .union(directed.select(col("dst").as("src"), col("src").as("dst")))
    var labels = graft.core.Frames.materialize(
      sym.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")),
      reliable)

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // (a) propagate: min label over neighbors ∪ self
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // (b) pointer jump: label := label(label)
      val jumped = graft.core.Frames.materialize(
        propagated.as("x")
          .join(propagated.select(col("id").as("label"), col("label").as("label2")).as("y"),
            Seq("label"), "left")
          .select(col("id"), coalesce(col("label2"), col("label")).as("label")),
        reliable)

      val changed = jumped.as("n")
        .join(labels.withColumnRenamed("label", "old").as("o"), Seq("id"))
        .filter(col("label") =!= col("old"))
        .limit(1).count()
      // `changed` was the last reader of the previous round's labels —
      // release that checkpoint before looping (the final round's
      // frame is the return value and stays resident for the caller)
      release(labels)
      labels = jumped
      converged = changed == 0
      iter += 1
    }
    if (!converged) log.warn(
      s"connectedComponents (label propagation) exhausted maxIter=$maxIter " +
        "before convergence — returned components may be under-merged")
    lastStatsTl.set(CcStats("label-propagation", iter))
    labels.withColumnRenamed("label", "component")
  }
}

/** Path-compressed union-find over Long node ids in which every root is
  * its component's MIN id, so `find` answers the component label the
  * CC contract asks for (component = min node id). Single-threaded:
  * one instance per partition task or per driver loop. */
private[dedup] final class MinUnionFind {
  private val parent = scala.collection.mutable.Map.empty[Long, Long]

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

  /** (node, component) for every node seen so far. Iterates a snapshot
    * of the keys: `find` path-compresses values mid-iteration. */
  def components: Iterator[(Long, Long)] =
    parent.keys.toArray.iterator.map(k => (k, find(k)))

  /** The spanning stars of the components seen so far: one (root,
    * member) edge per non-root node, which keeps every component and
    * every node of a component of two or more. */
  def starEdges: Iterator[(Long, Long)] =
    components.collect { case (k, r) if r != k => (r, k) }
}
