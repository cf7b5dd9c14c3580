package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Benchmark entry point. Prints ONE compact JSON metric line to
  * stdout (the driver keeps only the last ~2KB of output, so the
  * line must stay short: per-query values are medians rounded to
  * 3 decimals) and writes the FULL artifact — per-repetition times,
  * median/min/max, a dispersion column, the executed-plan shuffle
  * count and the cached-storage high-water per query — to a JSON
  * file (`SPARK_GRAFT_BENCH_OUT`, default `bench_out.json` in the
  * working directory).
  *
  * Each query runs `SPARK_GRAFT_BENCH_REPS` times (default 3)
  * in-process and reports the MEDIAN: a single-run bench measured
  * byte-identical code 32% apart across rounds (JIT, page cache,
  * sandbox load), which makes per-query regressions unactionable.
  * A query whose rep spread is still bad after the base reps gets up
  * to 4 extra reps (adaptive re-measure, see the inline comment) so
  * transient machine-level stalls can't shift its median.
  *
  * Queries run grouped by FAMILY (name prefix: ann, dedup+enrich,
  * events, mm, rel, text), each family's shared Memo indexes built
  * (timed, reported as `warm` per family and summed into
  * `index_build`) immediately before its queries and RELEASED
  * (`Memo.invalidate(spark, prefix)`) immediately after. Round 8
  * ran all 88 queries against an ever-growing cache pool and the
  * resulting memory pressure tripled late-pass rep times
  * (`text_lsh_pairs` 1.3→15.4 s within one run), drowning real
  * regressions; bounding the resident set per family keeps the
  * noise floor flat. `n_exchanges` per query lets a round-over-round
  * diff separate "plan changed" from "environment was noisy" at a
  * glance. */
object Bench {
  private def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Shuffle-Exchange count of an EXECUTED plan, descending through
    * AQE wrappers and materialized query stages. ReusedExchange is
    * deliberately not counted: it re-reads an existing shuffle's
    * files, it doesn't pay a new exchange. */
  private def countShuffles(plan: SparkPlan): Int = {
    val self = plan match { case _: ShuffleExchangeLike => 1; case _ => 0 }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children
    }
    self + kids.map(countShuffles).sum
  }

  /** enrich_industry reads the Memo'd dedup pipeline, so it benches
    * (and invalidates) with the dedup family. */
  private val famAlias = Map("enrich" -> "dedup")
  private def familyOf(name: String): String = {
    val f = name.takeWhile(_ != '_')
    famAlias.getOrElse(f, f)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // fail immediately on a bad data dir (sf1/sf10 are self-generated
    // under /tmp and get reaped — a stale path must not "bench" air)
    require(new java.io.File(s"$sfDir/region.parquet").exists(),
      s"SPARK_GRAFT_SF_DIR=$sfDir has no region.parquet — not a testdata dir")
    // Shuffle/spill files go to tmpfs when available: on this box the
    // dominant per-rep noise is multi-second page-writeback stalls
    // from accumulated shuffle files on the root disk — measured as
    // random 3-4× single-rep outliers with flat GC time. RAM-backed
    // local dirs remove the disk from the measurement entirely (the
    // benched queries' shuffles are MBs, nowhere near tmpfs capacity).
    // pid-suffixed + stale-sweep (LocalDirs): a SIGKILLed run must not
    // leak RAM-backed shuffle files into every later measurement
    val localDir = graft.tools.LocalDirs.ramLocalDir("bench")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warm-up: JVM/codegen/parquet-reader init shouldn't be
    // attributed to whichever query happens to run first
    try {
      val w = spark.read.parquet(s"$sfDir/region.parquet")
      w.groupBy("r_name").count().count()
    } catch { case _: Throwable => () }

    // In-artifact calibration probe (VERDICT r13 item 4): a FIXED
    // synthetic workload — constant size at every sf, pure
    // whole-stage-codegen arithmetic across all cores, no IO, no
    // shuffle — timed at the start and end of the run and stamped
    // into the artifact. Cross-round comparison on a noisy box leaned
    // on a prose caveat ("medians read 20-40% above r12 on identical
    // code"); with this stamp the box's stall inflation is a measured
    // divisor: probe medians that differ between two rounds' artifacts
    // quantify environment drift on code that cannot have changed.
    // CPU-saturating on purpose — external stalls inflate it the same
    // way they inflate the benched queries' medians.
    def calOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 256L * 1000 * 1000, 1, cpus.toInt)
        .selectExpr("sum((id * 2654435761) % 1000003) AS s").collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    def calMedian(): (Double, Seq[Double]) = {
      // untimed warms until the ramp has flattened: two CONSECUTIVE
      // warm reps within 10% AND ≥ 6 s of cumulative warm work
      // (bounded at 40 reps). A fixed warm count doesn't cut it —
      // round-14 start probes read 0.2-1.3 s after three warms — and
      // consecutive-agreement alone exits on the C1-compile plateau
      // (~0.22 s flat for 2-3 reps) before C2 drops the loop to its
      // ~0.1 s steady state; the work budget keeps warming through
      // that plateau, so the stamp measures the machine, not the JIT
      // ramp (VERDICT r14 item 7).
      // Why 6 s / ≤40 reps: the probe's own loop C2-compiles quickly,
      // but the paths the END probe implicitly enjoys — scheduler,
      // DAG submission, collect decode — only warm through repeated
      // full executions, and a 2.5 s budget still left the start
      // stamp ~1.8× the end stamp (r15 interim runs).
      var prev = calOnce()
      var cur = calOnce()
      var spent = prev + cur
      var warms = 2
      while (warms < 40 && (spent < 6.0 ||
          math.abs(cur - prev) / math.max(cur, prev) > 0.10)) {
        prev = cur; cur = calOnce(); spent += cur; warms += 1
      }
      val ts = (1 to 5).map(_ => calOnce()).sorted
      (ts(2), ts)
    }
    // Second calibration axis (round 16): the CPU probe stayed flat
    // (0.073 vs 0.074 s) across two back-to-back sf1 runs whose query
    // medians differed 19% in aggregate — 37/123 queries moved >1.2×,
    // all of them shuffle-heavy. External interference on this box
    // lands on the exchange path (shuffle write/read, disk
    // writeback), which a pure-arithmetic collect never touches. This
    // probe is a fixed-size repartition→agg round trip: same constant
    // work at every sf, one full shuffle, so its start/end medians
    // move with the stall mode that actually inflates the benched
    // queries. Diagnostic only — the CPU end-probe stays the divisor
    // (it isolates compute drift; mixing axes would blur both).
    def shufOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 16L * 1000 * 1000, 1, cpus.toInt)
        .selectExpr("id", "(id * 2654435761) % 65536 AS k")
        .repartition(cpus.toInt, col("k"))
        .groupBy("k").agg(sum("id").as("s"))
        .selectExpr("sum(s)").collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    def shufMedian(): Double = {
      (1 to 2).foreach(_ => shufOnce())
      val ts = (1 to 5).map(_ => shufOnce()).sorted
      ts(2)
    }
    val (calStart, calStartReps) = calMedian()
    val shufStart = shufMedian()

    // Per-family probe pair (round 17, VERDICT r16 item 1): the r16
    // RECORD artifact shipped 5.2 s medians for two 0.35 s queries —
    // a sustained external stall landed on one family's window, and
    // only the run-level start/end probes existed, so nothing tied
    // the degraded window to the specific rows it inflated. These
    // cheap probes (the start probes above already paid the warm
    // ramp, so median-of-3 with no extra warms is representative)
    // bracket every family; each query row is flagged env_degraded
    // when its window's SHUFFLE probe exceeds the ABSOLUTE healthy
    // band below (round 18 — so a fully-degraded run still flags its
    // own rows), falling back to >1.6× the run's best on boxes where
    // the band is uncalibrated. Shuffle-axis ONLY for gating:
    // it is the axis that predicts query inflation on this box (r16
    // forensics — interference lands on the exchange path), its
    // healthy spread is ~1.35× over a full run, and the r16 incident
    // read 1.6-1.9×; the cheap CPU probe's natural spread without the
    // full warm ramp is ~2.5× (0.08-0.22 s — the first full-surface
    // run flagged 6 of 7 windows on CPU alone), so it stays a
    // stamped DIAGNOSTIC, never a gate.
    final case class Probe(cpu: Double, shuf: Double)
    def med3(f: () => Double): Double = { val ts = (1 to 3).map(_ => f()).sorted; ts(1) }
    // every med-of-3 probe feeds the per-box calibration store (and
    // this run's final judgment band) — see the band block below
    val runSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probeQuick(): Probe = {
      val p = Probe(med3(() => calOnce()), med3(() => shufOnce()))
      runSamples += p.shuf
      p
    }
    var bestShuf = shufStart
    def noteBest(p: Probe): Unit = bestShuf = math.min(bestShuf, p.shuf)
    // Absolute healthy band (VERDICT r17 item 1, made PORTABLE in
    // round 19 per VERDICT r18 item 1): the run-relative gate alone
    // cannot flag a FULLY-degraded run — when every window is
    // inflated, the run's best probe is inflated too, and the r17 sf1
    // artifact shipped a 36 s median for an 11.6 s query unflagged.
    // Round 18 fixed that with a band COMPILED from one box's healthy
    // windows (0.76 s), activated by a cpu-count proxy — and the
    // driver's own r18 run (healthy probes 0.88-1.0 s on its box)
    // shipped every row flagged with n_certified=0. The band is now
    // derived per box from persisted probe history (BandStore: the
    // all-time probe minimum anchors a healthy cluster; the band is
    // the cluster max + headroom), activated only when that box has
    // enough of ITS OWN samples, or forced explicitly via
    // SPARK_GRAFT_SHUF_BAND (ADVICE r18: an explicit calibration
    // stamp, never a cpu-count proxy). With no stored history the
    // relative gates run during the loop, and the FINAL judgment pass
    // below re-derives a band from this run's own probe distribution
    // — so even a first run on a fresh box gets absolute-band
    // judgment as long as most of its windows were healthy.
    // When a band is active it IS the gate (window and recovery
    // alike): run-best is a proxy for "healthy" that fails in both
    // directions (a fully-degraded run's best is degraded →
    // under-flagging, r17; a lucky 0.51 s best makes 1.6×/1.3×-best
    // flag probes the calibration itself certifies healthy →
    // over-flagging, first r18 record attempt). The band-only
    // recovery gate is deliberate, not a missing conjunction
    // (ADVICE r18 item 2): AND-ing 1.3×best back in would reintroduce
    // exactly that over-flagging.
    val bandStorePath = sys.env.getOrElse("SPARK_GRAFT_BAND_STORE",
      graft.tools.BandStore.defaultPath)
    val bandSig = graft.tools.BandStore.signature(cpus.toInt)
    val storedSamples = graft.tools.BandStore.load(bandStorePath, bandSig)
    val envBand = sys.env.get("SPARK_GRAFT_SHUF_BAND").map(_.toDouble)
    val provisionalBand: Option[Double] =
      envBand.orElse(graft.tools.BandStore.derive(storedSamples).map(_.value))
    runSamples += shufStart
    def degradedVsBest(p: Probe, factor: Double): Boolean =
      provisionalBand match {
        case Some(b) => p.shuf > b
        case None => p.shuf > factor * bestShuf
      }

    val warms: Map[String, (SparkSession, String) => Unit] = Map(
      "dedup" -> graft.queries.DedupQueries.warmIndexes,
      "text" -> graft.queries.TextQueries.warmIndexes,
      "ann" -> graft.queries.AnnQueries.warmIndexes,
      "mm" -> graft.queries.MultimodalQueries.warmIndexes)

    // cached-RDD bytes currently resident in memory (MB) — the
    // storage half of the unified pool; execution memory isn't
    // observable from public API, but the storage high-water is the
    // number per-family invalidation is there to bound.
    @annotation.nowarn("cat=deprecation")
    def storageMb(): Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024L * 1024L)

    // deterministic run order: families sorted, queries sorted within
    // — round-over-round artifacts line up query-for-query.
    // SPARK_GRAFT_BENCH_FAMILIES=text,rel restricts the run (a dev
    // isolation knob: "does family X still misbehave without family
    // Y having run first?"); the driver's full run leaves it unset.
    val onlyFams = sys.env.get("SPARK_GRAFT_BENCH_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val allFams = SparkEntry.queries.keysIterator.map(familyOf).toSet
    // a typo'd family name must fail loudly, not silently produce an
    // empty bench run that reads as "everything benched in 0 s"
    onlyFams.foreach { fams =>
      val unknown = fams -- allFams
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_FAMILIES has unknown families: ${unknown.toSeq.sorted.mkString(",")}; " +
          s"known: ${allFams.toSeq.sorted.mkString(",")}")
    }
    // SPARK_GRAFT_BENCH_SKIP=q1,q2 excludes named queries from the
    // run — for sweeps at scales where a specific query is a known,
    // documented kill (the ungoverned *_allpairs audit OOMs at sf10
    // by design). Same loud-validation rule as families, and the
    // skipped names are recorded in the artifact so a reduced sweep
    // can never masquerade as full coverage.
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    locally {
      val unknown = skip -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_SKIP has unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val families = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => !skip.contains(n) }
      .groupBy { case (n, _) => familyOf(n) }.toSeq.sortBy(_._1)
      .filter { case (f, _) => onlyFams.forall(_.contains(f)) }

    var indexBuild = 0.0
    val warmDetail = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // family warm failures are stamped, not swallowed (ADVICE r16): a
    // throwing warm silently shifts the expensive index build into the
    // first consumer's untimed warm rep, under-reporting index_build
    // with no signal
    val warmFailed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // mutable row: the probe-gated recovery pass below may replace the
    // median with probe-certified fresh reps before the family's Memo
    // indexes are released. Original and fresh (recovery) reps are kept
    // in SEPARATE windows and the artifact says which window the kept
    // median came from (ADVICE r18 item 5: merging them inflated the
    // reported spread of remeasured rows, and a reader couldn't tell a
    // certified median's provenance); spread/IQR are computed over the
    // median's own window.
    final class QRow(val name: String, var times: IndexedSeq[Double],
      var median: Double, val nExchanges: Int, val storageHw: Long,
      val ccStats: Option[graft.dedup.Cluster.CcStats],
      var envDegraded: Boolean = false, var remeasured: Boolean = false,
      var inLoopDegraded: Boolean = false, var inLoopProbe: Double = -1.0,
      var freshTimes: IndexedSeq[Double] = IndexedSeq.empty,
      var allFresh: IndexedSeq[Double] = IndexedSeq.empty,
      var medianSource: String = "original") {
      def statReps: IndexedSeq[Double] =
        if (medianSource == "fresh") freshTimes else times
    }
    final case class FamProbes(pre: Probe, post: Probe, degraded: Boolean,
      requeue: String, recPre: Option[Probe] = None,
      recPost: Option[Probe] = None, var degradedRetro: Boolean = false,
      attempts: Int = 0)
    val famProbes = scala.collection.mutable.LinkedHashMap.empty[String, FamProbes]
    val detail: Seq[QRow] = families.flatMap { case (fam, qs) =>
      val pre = probeQuick(); noteBest(pre)
      val tw = System.nanoTime()
      warms.get(fam).foreach { w =>
        try w(spark, sfDir) catch {
          case e: Throwable =>
            warmFailed(fam) = e.toString.take(200)
            System.err.println(s"WARN Bench: warm($fam) failed: $e")
        }
      }
      val wSec = (System.nanoTime() - tw) / 1e9
      if (warms.contains(fam)) { indexBuild += wSec; warmDetail(fam) = wSec }
      val rows = qs.map { case (name, fn) =>
        var nExchanges = -1
        // one UNTIMED warm execution per query: the first run of a
        // query in a session pays its codegen/Janino compile, JIT
        // warm-up and broadcast builds — 2-10× the steady-state time.
        // r7/r8 timed it, and because reps are reported sorted it
        // masqueraded as random per-rep instability (VERDICT r8 read
        // "1.34→10.28→15.40" as rising); warmed, reps are flat and a
        // real 1.5× plan regression is visible again. The warm run
        // also supplies the executed plan for n_exchanges.
        // A failing query must fail the RUN, not record as a ~0s
        // "success": with the old swallow-everything catch, pointing
        // SPARK_GRAFT_SF_DIR at a nonexistent dir produced a
        // plausible-looking artifact of 0.01s entries (same silent-
        // failure class as the unknown-family guard above).
        // CC observability (VERDICT r15 item 5): the warm run is a
        // full execution, so CC-consuming queries leave their regime/
        // rounds/contracted-edges stats on this thread — stamped into
        // the artifact so a future round that defeats the
        // pre-contraction (or the small-graph gate) shows up as a
        // stat diff, not wall-time noise. Cleared first so a previous
        // query's stats can't masquerade as this one's.
        graft.dedup.Cluster.clearStats()
        try {
          val d = fn(spark, sfDir); d.count()
          nExchanges = countShuffles(d.queryExecution.executedPlan)
        } catch {
          case e: Throwable => throw new RuntimeException(
            s"bench query '$name' failed on $sfDir: ${e.getMessage}", e)
        }
        val ccStats = graft.dedup.Cluster.lastStats
        def timeOne(): Double = {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        def medianOf(ts: Seq[Double]): Double =
          if (ts.size % 2 == 1) ts(ts.size / 2)
          else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2
        var times = (1 to reps).map(_ => timeOne()).sorted
        // Adaptive re-measure: the residual noise source on this box is
        // a multi-second external stall (scheduler/writeback from OTHER
        // processes — r9 measured the same binary at 39s and 59s totals
        // with the spikes landing on DIFFERENT queries each pass, and
        // a "rising" query re-timed alone in a fresh session was flat;
        // SCALE.md's sf10 forensic note records the same finding with
        // its numbers). A spike
        // hits 1-2 reps of a random query; with only 3 reps one bad rep
        // already blows the spread and can shift the median. When the
        // spread is both relatively (>0.5×median) and absolutely
        // (>0.25s) bad, take extra reps so the median is over 5-7
        // samples and outvotes the transient. ALL reps stay in the
        // artifact — a genuinely bimodal query (real cache-lifecycle
        // bug) still shows its slow reps in min/max/spread.
        // Probe-aware (VERDICT r16 item 1): r16's loop extended
        // dedup_pairs_sorted to 7 reps (3.5-8.2 s for a 0.32 s query)
        // under SUSTAINED interference — it assumed stalls are
        // transient, burned wall, and recorded the inflation anyway.
        // Before each extra rep, a single shuffle probe checks whether
        // the box is currently healthy; under a degraded probe the
        // extra reps would be just as inflated, so the query is marked
        // for the family-end recovery pass instead.
        val maxExtra = 4
        var extra = 0
        var probeDegraded = false
        var inLoopProbeV = -1.0
        while (extra < maxExtra && !probeDegraded && {
          val m = medianOf(times)
          m > 0 && (times.last - times.head) / m > 0.5 && times.last - times.head > 0.25
        }) {
          // single-shot probe → wider threshold than the median-of-3
          // window gate (single shots spread more on a healthy box):
          // band × 1.125 when calibrated, 1.8× run-best otherwise.
          // The reading is kept on the row: the final judgment pass
          // re-judges it against the FINAL band (this provisional
          // band may be the wrong context's).
          val so = shufOnce()
          if (provisionalBand.fold(so > 1.8 * bestShuf)(b => so > b * 1.125)) {
            probeDegraded = true
            inLoopProbeV = so
          }
          else { times = (times :+ timeOne()).sorted; extra += 1 }
        }
        val storageHw = storageMb()
        new QRow(name, times, medianOf(times), nExchanges, storageHw, ccStats,
          envDegraded = probeDegraded, inLoopDegraded = probeDegraded,
          inLoopProbe = inLoopProbeV)
      }
      // Post-window probe + recovery pass — BEFORE this family's Memo
      // indexes are released, so a re-measure costs only timed reps.
      // A window is degraded when either bracketing probe's SHUFFLE
      // median fails the gate: with a band active, probe > band (the
      // band IS the gate for window and recovery alike — band-only by
      // design, ADVICE r18 item 2: AND-ing a relative factor back in
      // re-introduces the lucky-best over-flagging the band fixed);
      // uncalibrated, >1.6× run-best for windows / >1.3× for recovery
      // certification. Affected rows get ONE recovery attempt: if a
      // fresh probe (after a short back-off) passes, their medians are
      // replaced with fresh reps (kept in their own window) — and the
      // re-measure is only CERTIFIED if a second probe taken AFTER
      // the fresh reps is also healthy (ADVICE r17: interference
      // resuming mid-re-measure used to record inflated medians as
      // remeasured+unflagged, the silent-inflation failure mode
      // reintroduced on the recovery path). If the interference is
      // still live at either probe, the rows keep env_degraded=true —
      // the artifact carries the flag instead of a silent 10× lie.
      val post = probeQuick(); noteBest(post)
      val windowDegraded = degradedVsBest(pre, 1.6) || degradedVsBest(post, 1.6)
      if (windowDegraded) rows.foreach(_.envDegraded = true)
      var requeue = "none"
      var recPre: Option[Probe] = None
      var recPost: Option[Probe] = None
      var attempts = 0
      // BOUNDED multi-attempt recovery (VERDICT r19 item 1: one
      // attempt per family lost the whole window whenever a stall
      // outlived a 2 s back-off — r19's driver run certified 8/135).
      // Up to 3 attempts, one per growing back-off; each
      // attempt is the r18 certified-re-measure protocol (healthy
      // pre-probe → fresh reps → healthy post-probe), and the loop
      // exits the moment one attempt certifies. Worst case adds
      // Σ backoffs (~42 s) per STILL-degraded
      // family — bounded, and only spent on runs that would otherwise
      // ship flagged rows.
      val backoffsMs = Seq(2000L, 10000L, 30000L)
      while (rows.exists(_.envDegraded) && attempts < backoffsMs.size) {
        Thread.sleep(backoffsMs(attempts))
        attempts += 1
        val rp = probeQuick(); noteBest(rp)
        recPre = Some(rp)
        if (!degradedVsBest(rp, 1.3)) {
          val affected = rows.filter(_.envDegraded)
          affected.foreach { q =>
            val fn = qs.find(_._1 == q.name).get._2
            def timeOne(): Double = {
              val t0 = System.nanoTime()
              fn(spark, sfDir).count()
              (System.nanoTime() - t0) / 1e9
            }
            val fresh = (1 to reps).map(_ => timeOne()).sorted
            val freshMedian = if (fresh.size % 2 == 1) fresh(fresh.size / 2)
              else (fresh(fresh.size / 2 - 1) + fresh(fresh.size / 2)) / 2
            // MIN of the original and fresh medians: external
            // interference is strictly additive, so between two
            // median-of-reps windows over the same binary+data the
            // smaller one is closer to truth. A first sf1 record
            // under this machinery re-measured an 11.2 s original
            // median into a 18.8 s "certified" one — the stall
            // resumed DURING the fresh reps and missed both recovery
            // probes (instant samples can't see a stall that lands
            // mid-rep). An original median bounded above by a
            // probe-certified measurement is itself certifiable.
            // Fresh reps stay in their OWN window (q.freshTimes) and
            // medianSource records which window won — never merged
            // into q.times (ADVICE r18 item 5). q.freshTimes is ONLY
            // replaced when this attempt's median wins (ADVICE r20
            // medium: unconditional overwrite could ship
            // medianSource="fresh" with a median from a DIFFERENT
            // attempt's window, so spread/IQR described the wrong
            // window); every attempt's reps still land in allFresh,
            // which total_floor mins over.
            if (freshMedian < q.median) {
              q.median = freshMedian
              q.medianSource = "fresh"
              q.freshTimes = fresh
            }
            q.allFresh = q.allFresh ++ fresh
            q.remeasured = true
          }
          val rpp = probeQuick(); noteBest(rpp)
          recPost = Some(rpp)
          if (!degradedVsBest(rpp, 1.3)) {
            requeue = "recovered"
            affected.foreach(_.envDegraded = false)
          } else requeue = "recovery_interrupted" // fresh medians kept, flag kept
        } else requeue = "still_degraded"
      }
      famProbes(fam) = FamProbes(pre, post, windowDegraded, requeue, recPre, recPost,
        attempts = attempts)
      // release this family's Memo indexes before the next family
      // runs, then take the GC hit HERE, between families, instead of
      // letting a full collection land mid-rep and show up as a 3×
      // outlier in some unlucky query's times
      graft.core.Memo.invalidate(spark, fam)
      System.gc()
      rows
    }
    val (calEnd, calEndReps) = calMedian()
    val shufEnd = shufMedian()
    runSamples += shufEnd
    // FINAL judgment pass (generalizes the r17 retroactive re-judging,
    // ADVICE r17 medium): during the loop the gate only had provisional
    // information — a stored band from PAST runs, or the shrinking
    // run-best. Now the run's complete probe distribution exists.
    //
    // THE RUN JUDGES ITSELF; HISTORY DECIDES WHETHER IT MAY. The final
    // band derives from the run's OWN ~16 probe medians (min-anchored
    // healthy cluster, BandStore.derive) — the same context that
    // measured the queries — PROVIDED the run's probe floor is
    // commensurate with the box's known floor (runMin ≤
    // UniformShiftMax × storedMin). Why not the stored band directly:
    // execution CONTEXT shifts probe levels uniformly without anything
    // being wrong — the r18 driver-context runs read shuffle probes at
    // 0.85-1.2 s where this builder's read 0.49-0.76 s on the same
    // hardware (co-resident harness load), and judging that context
    // against the builder's band shipped n_certified = 0, the exact
    // zero-signal failure VERDICT r18 item 1 names. Self-judgment
    // handles it: the driver run's floor (~0.85) anchors its own
    // cluster, its clean windows certify, and its genuinely-elevated
    // windows (1.33/1.60 in the r18 artifact) still flag on
    // within-run contrast. What self-judgment alone CANNOT catch is
    // the fully-degraded run (r17: every window inflated, nothing to
    // contrast against) — that is what the stored floor is for: a run
    // whose own floor exceeds UniformShiftMax × the box's all-time
    // floor is not a context, it is an incident (the deliberate
    // 32-process co-load reads 2.9× the stored floor; the r18 driver
    // context reads 1.7×), and it gets judged against the STORED band,
    // flagging everything. Residual, stamped honestly: a uniform
    // whole-run stall under 2× the stored floor is indistinguishable
    // from a slower context and ships certified with
    // `context_shift: true` + the ratio in the artifact.
    // Judgment per row: a remeasured row is certified iff BOTH its
    // recovery probes pass the final gate (its median was measured in
    // the recovery window, the family window's verdict is moot); any
    // other row is certified iff its family window's bracketing probes
    // pass AND its own in-loop single-shot probe (re-judged at
    // finalBand × 1.125 — it was provisionally judged against a
    // possibly-wrong-context band) stayed inside the gate.
    // Flag-only in both directions — medians are never changed here.
    bestShuf = math.min(bestShuf, shufEnd)
    val UniformShiftMax = 2.0
    val runSelf = graft.tools.BandStore.derive(runSamples.toSeq)
    val storedBandD = graft.tools.BandStore.derive(storedSamples)
    val runMin = runSamples.filter(_ > 0).minOption.getOrElse(Double.NaN)
    val contextShift = storedBandD.exists(sb =>
      runSelf.isDefined && runMin > sb.value && runMin <= UniformShiftMax * sb.sampleMin)
    val (finalBand: Option[Double], bandSource: String) =
      (envBand, storedBandD, runSelf) match {
        case (Some(b), _, _) => (Some(b), "env")
        // no usable history: the run still judges itself, but the
        // stamp says so — a fully-degraded FIRST run self-certifies
        // against its own inflated floor, and a reader must be able
        // to tell that certification from history-backed judgment
        // (ADVICE r19 item 4). The samples persist either way; the
        // next run on this box is history-backed.
        case (_, None, Some(rs)) => (Some(rs.value), "run-uncalibrated")
        case (_, Some(sb), Some(rs)) =>
          if (runMin <= UniformShiftMax * sb.sampleMin)
            (Some(rs.value), if (contextShift) "run-context-shift" else "run")
          else (Some(sb.value), "store-degraded-run")
        case (_, Some(sb), None) => (Some(sb.value), "store")
        case _ => (None, "none")
      }
    locally {
      def degFinal(p: Probe, factor: Double): Boolean =
        finalBand match {
          case Some(b) => p.shuf > b
          case None => p.shuf > factor * bestShuf
        }
      val inLoopThresh = finalBand.map(_ * 1.125).getOrElse(1.8 * bestShuf)
      val byFam = detail.groupBy(q => familyOf(q.name))
      famProbes.foreach { case (fam, p) =>
        val winDeg = degFinal(p.pre, 1.6) || degFinal(p.post, 1.6)
        if (winDeg && !p.degraded) p.degradedRetro = true
        val recHealthy = p.recPre.exists(!degFinal(_, 1.3)) &&
          p.recPost.exists(!degFinal(_, 1.3))
        byFam.getOrElse(fam, Nil).foreach { q =>
          q.envDegraded =
            if (q.remeasured) !recHealthy
            else winDeg || (q.inLoopProbe > 0 && q.inLoopProbe > inLoopThresh)
        }
      }
    }
    // persist this run's probe medians for future runs on this box —
    // after judgment, so a crash mid-run costs nothing
    graft.tools.BandStore.append(bandStorePath, bandSig, runSamples.toSeq)
    val total = indexBuild + detail.map(_.median).sum
    // The defensible headline (VERDICT r17 item 2): `total` sums every
    // median including flagged ones, so on an interference day the
    // tail-parsed number is mostly noise (r17's committed 135.5 s
    // sf0.1 record was ~75% interference). total_certified sums
    // index_build + only the medians measured (or re-measured) under
    // probe-certified-healthy windows; n_certified says how much of
    // the surface that covers. A clean run has total_certified ==
    // total and n_certified == the full query count.
    val certifiedRows = detail.filter(!_.envDegraded)
    val totalCertified = indexBuild + certifiedRows.map(_.median).sum
    val nCertified = certifiedRows.size
    // total_ex_audits (VERDICT r19 item 6): the bounded-counterfactual
    // audit family — queries whose cost IS a deliberately-enumerated
    // counterfactual (governed-recall, the *_allpairs uncapped twins)
    // — reported beside the full total so a new audit's deliberate
    // price never reads as a bench regression of the production
    // surface.
    // explicit audit-query list (ADVICE r20): mm_neardup_recall is the
    // same bounded-counterfactual class (enumerates uncapped buckets up
    // to AuditBucketMax) and was missing from the prefix rules
    def isAudit(n: String): Boolean =
      n == "dedup_governed_recall" || n == "mm_neardup_recall" ||
        n.contains("_allpairs")
    val totalExAudits = indexBuild +
      detail.filterNot(q => isAudit(q.name)).map(_.median).sum
    // total_floor: index_build + Σ per-query MIN over every recorded
    // rep (original and fresh windows). External interference on this
    // box is strictly additive multi-second stalls, so the min rep is
    // the most stall-robust per-query point estimate a single run
    // carries — a cross-round comparison floor that survives a stall
    // landing mid-window where the bracketing probes can't see it
    // (the r20 baseline shipped 4 certified-but-5× rows that way).
    // The median stays the headline; the floor bounds it from below.
    val totalFloor = indexBuild + detail.map(q =>
      (q.times ++ q.allFresh).min).sum
    // spread/IQR are computed over the window the kept median came
    // from (statReps): merging original+fresh reps inflated the
    // dispersion headline of exactly the rows the recovery pass had
    // just certified (ADVICE r18 item 5)
    val maxSpread = detail.map { q =>
      if (q.median > 0) (q.statReps.last - q.statReps.head) / q.median else 0.0
    }.foldLeft(0.0)(math.max)
    // IQR-based dispersion: raw spread keeps every recorded stall rep
    // (by design — the artifact must show them), so one environmental
    // spike blows the headline even when the adaptive reps held the
    // median. (q3-q1)/median over the SORTED reps discards the tails
    // the same way the median does: a tight IQR + wide raw spread
    // reads "steady state stable, transient stall recorded"; a wide
    // IQR is a genuinely unstable query.
    def quart(ts: IndexedSeq[Double], f: Double): Double = {
      val pos = (ts.size - 1) * f
      val lo = pos.toInt
      if (lo + 1 < ts.size) ts(lo) + (pos - lo) * (ts(lo + 1) - ts(lo)) else ts(lo)
    }
    def iqrSpread(ts: IndexedSeq[Double], median: Double): Double =
      if (median > 0) (quart(ts, 0.75) - quart(ts, 0.25)) / median else 0.0
    val maxIqrSpread = detail.map { q =>
      iqrSpread(q.statReps, q.median)
    }.foldLeft(0.0)(math.max)
    // full artifact: one object per query with every repetition, a
    // relative-spread dispersion column, the shuffle count of the
    // executed plan, the storage high-water (MB) observed while the
    // query ran, and (when set) the env_degraded / remeasured flags
    // from the per-family probe windows
    val qDetail = detail.map { q =>
      val sr = q.statReps
      val spread = if (q.median > 0) (sr.last - sr.head) / q.median else 0.0
      val ccJson = q.ccStats.map(c =>
        s""","cc":{"regime":"${c.regime}","rounds":${c.rounds},""" +
          s""""contracted_edges":${c.contractedEdges}}""").getOrElse("")
      // fresh_reps = the window that sourced the median when fresh
      // won; otherwise every recovery rep taken (informational — the
      // median stayed with the original window)
      val freshShown = if (q.freshTimes.nonEmpty) q.freshTimes else q.allFresh
      val flagJson = (if (q.envDegraded) ""","env_degraded":true""" else "") +
        (if (q.remeasured)
          s""","remeasured":true,"median_source":"${q.medianSource}",""" +
            s""""fresh_reps":[${freshShown.map(fmt).mkString(",")}]"""
         else "")
      s""""${q.name}":{"reps":[${q.times.map(fmt).mkString(",")}],"median":${fmt(q.median)},""" +
        s""""min":${fmt(sr.head)},"max":${fmt(sr.last)},"spread":${fmt(spread)},""" +
        s""""iqr_spread":${fmt(iqrSpread(sr, q.median))},""" +
        s""""n_exchanges":${q.nExchanges},"storage_mb":${q.storageHw}$ccJson$flagJson}"""
    }.mkString("{", ",", "}")
    val warmJson = warmDetail.map { case (f, s) => s""""$f":${fmt(s)}""" }
      .mkString("{", ",", "}")
    // full JSON string escape (ADVICE r17): Spark exception toStrings
    // carry newlines (AnalysisException embeds the plan) — an escaped
    // backslash/quote alone still emits literal control characters
    // and invalidates the whole artifact
    def jstr(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }
    val warmFailedJson = if (warmFailed.isEmpty) "" else
      warmFailed.map { case (f, m) => s""""$f":"${jstr(m)}"""" }
        .mkString(""","warm_failed":{""", ",", "}")
    val famProbesJson = famProbes.map { case (f, p) =>
      val rec = (p.recPre.map(r =>
        s""","rec_pre":[${fmt(r.cpu)},${fmt(r.shuf)}]""") ++
        p.recPost.map(r =>
          s""","rec_post":[${fmt(r.cpu)},${fmt(r.shuf)}]""")).mkString
      val retro = if (p.degradedRetro && !p.degraded) ""","degraded_retro":true""" else ""
      val att = if (p.attempts > 0) s""","recovery_attempts":${p.attempts}""" else ""
      s""""$f":{"pre":[${fmt(p.pre.cpu)},${fmt(p.pre.shuf)}],""" +
        s""""post":[${fmt(p.post.cpu)},${fmt(p.post.shuf)}],""" +
        s""""degraded":${p.degraded},"requeue":"${p.requeue}"$rec$retro$att}"""
    }.mkString("{", ",", "}")
    // "method" distinguishes this metric from rounds 1-5's single cold
    // run AND rounds 6-8's median-of-3-with-cold-rep AND rounds 9-15's
    // warm+median-of-3+adaptive (round 16 moved the recall
    // ground-truth builds out of the timed recall medians into
    // index_build — memo-truth; round 17 added the per-family probe
    // windows with probe-gated re-measure — envprobe): same "total"
    // name, different measurement semantics — downstream trend tooling
    // must not compare them silently.
    // round 19: absband (a compiled constant activated by cpu count)
    // became selfband — a per-box band persisted/derived by BandStore
    // with an authoritative end-of-run judgment pass
    val method = s"warm+median-of-$reps+adaptive+memo-truth+envprobe+selfband"
    val skippedJson = skip.toSeq.sorted.map(n => s""""$n"""").mkString("[", ",", "]")
    // Structural-completeness stamp (VERDICT r12 item 3): three
    // consecutive rounds shipped a scale artifact silently missing the
    // round's last-added query (generated mid-round, surface grew
    // after). measured ∪ skipped must equal SparkEntry.queries — any
    // gap is stamped into the artifact as complete:false + the missing
    // names, so an incomplete artifact can never read as full
    // coverage. A family-restricted dev run is by definition
    // incomplete and stamps the same way.
    val measured = detail.map(_.name).toSet
    val missing = (SparkEntry.queries.keySet -- measured -- skip).toSeq.sorted
    val complete = missing.isEmpty
    val missingJson = missing.map(n => s""""$n"""").mkString("[", ",", "]")
    // divisor role (VERDICT r15 item 6, closing r14 item 7): the END
    // probe is the cross-round environment divisor. The start probe
    // never converged to the end probe on this box (1.46× residual
    // after the 6 s warm budget — some scheduler/JIT paths only warm
    // through the run itself), and the per-query medians are measured
    // in the END state anyway (every query gets its own untimed warm),
    // so normalizing on the start stamp would mis-attribute the ramp
    // as environment drift. The start stamp stays as a cold-ramp
    // diagnostic only.
    // band stamp: provisional = what gated during the loop, final =
    // what judged the rows; source records the self-judgment decision
    // (env stamp > run-self [possibly context-shifted, ratio stamped]
    // > stored band when the run's floor exceeds the shift cap >
    // none = relative gating)
    val shiftRatio = storedBandD.map(sb => runMin / sb.sampleMin)
    // the spread that formed the governing band (ADVICE r20): which
    // derived band is in force depends on bandSource; "env" has no
    // derivation so no spread
    val finalSpread: Option[Double] = bandSource match {
      case "env" => None
      case "store" | "store-degraded-run" => storedBandD.map(_.spread)
      case _ => runSelf.map(_.spread)
    }
    val bandJson =
      s"""{"active":${finalBand.isDefined},"source":"$bandSource",""" +
        s""""spread":${finalSpread.map(fmt).getOrElse("null")},""" +
        s""""value":${finalBand.map(fmt).getOrElse("null")},""" +
        s""""provisional":${provisionalBand.map(fmt).getOrElse("null")},""" +
        s""""run_self":${runSelf.map(b => fmt(b.value)).getOrElse("null")},""" +
        s""""run_min":${if (runMin.isNaN) "null" else fmt(runMin)},""" +
        s""""context_shift":$contextShift,""" +
        s""""shift_vs_stored_min":${shiftRatio.map(fmt).getOrElse("null")},""" +
        s""""n_run_samples":${runSamples.size},"n_stored_samples":${storedSamples.size},""" +
        s""""sig":"$bandSig","store":"${jstr(bandStorePath)}"}"""
    val calJson =
      s"""{"divisor":"end","end":${fmt(calEnd)},"start":${fmt(calStart)},""" +
        s""""shuffle_end":${fmt(shufEnd)},"shuffle_start":${fmt(shufStart)},""" +
        s""""band":$bandJson,""" +
        s""""start_reps":[${calStartReps.map(fmt).mkString(",")}],""" +
        s""""end_reps":[${calEndReps.map(fmt).mkString(",")}]}"""
    val artifact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_certified":${fmt(totalCertified)},""" +
        s""""total_ex_audits":${fmt(totalExAudits)},"total_floor":${fmt(totalFloor)},""" +
        s""""n_certified":$nCertified,"n_rows":${detail.size},""" +
        s""""method":"$method","index_build":${fmt(indexBuild)},""" +
        s""""warm":$warmJson$warmFailedJson,"max_spread":${fmt(maxSpread)},"max_iqr_spread":${fmt(maxIqrSpread)},""" +
        s""""n_reps":$reps,"cpus":$cpus,"sf":"$sfDir","complete":$complete,"missing":$missingJson,""" +
        s""""calibration":$calJson,"family_probes":$famProbesJson,""" +
        s""""skipped":$skippedJson,"queries":$qDetail}"""
    try {
      val p = java.nio.file.Paths.get(outPath)
      // delete any stale artifact first: if the write below fails, a
      // leftover file from a previous run must not masquerade as fresh
      java.nio.file.Files.deleteIfExists(p)
      java.nio.file.Files.write(p, (artifact + "\n").getBytes("UTF-8"))
    } catch {
      case t: Throwable =>
        System.err.println(s"WARN Bench: failed to write $outPath: $t")
    }
    // compact stdout line (must fit the driver's ~2KB stdout tail —
    // rounds 10-13 printed all ~110+ query medians, ~2.6KB, so the
    // tail cut the line's HEAD and the driver recorded parsed:null;
    // the full map lives in the artifact, so when the complete line
    // would overflow, stdout keeps only the most expensive medians
    // and says so): medians only, 3 decimals
    def qsJson(rows: Seq[(String, Double)]): String =
      rows.map { case (n, m) => s""""$n":${fmt(m)}""" }.mkString("{", ",", "}")
    val medians = detail.map(q => (q.name, q.median))
    val skipStdout = if (skip.isEmpty) "" else s""","skipped":$skippedJson"""
    // env-degraded rows surface on stdout too: a driver tail-parse
    // that only sees the compact line must still know the record
    // carries flagged rows (the full flags live in the artifact)
    val nDegraded = detail.count(_.envDegraded)
    val degStdout = if (nDegraded == 0) "" else s""","env_degraded":$nDegraded"""
    // stdout must fit the driver's ~2KB tail: a family-restricted dev
    // run can miss 100+ queries, so the stdout form carries a count +
    // first few names; the artifact keeps the full list
    val missStdoutList = (missing.take(3).map(n => s""""$n"""") ++
      (if (missing.size > 3) Seq(s""""+${missing.size - 3} more"""") else Nil))
      .mkString("[", ",", "]")
    val missStdout = if (complete) "" else s""","complete":false,"n_missing":${missing.size},"missing":$missStdoutList"""
    // "shuf" beside "cal" (VERDICT r16 item 7): the shuffle probe is
    // the axis that predicts query inflation on this box — the
    // driver's tail-parse is the first thing a judge sees, so both
    // calibration axes ride the stdout line (start, end each).
    def stdoutLine(qs: String, qsNote: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_certified":${fmt(totalCertified)},"total_ex_audits":${fmt(totalExAudits)},"total_floor":${fmt(totalFloor)},"n_certified":$nCertified,"method":"$method","index_build":${fmt(indexBuild)},"cal":[${fmt(calStart)},${fmt(calEnd)}],"shuf":[${fmt(shufStart)},${fmt(shufEnd)}],"queries":$qs$qsNote,"sf":"$sfDir"$skipStdout$degStdout$missStdout}"""
    // the 2KB budget applies to the ASSEMBLED line — prefix, cal,
    // skipped and missing lists included — not just the query map
    // (ADVICE r14: a long SKIP list next to a just-under-threshold
    // map could still overflow the tail). Shrink the map until the
    // whole line fits; the full map always lives in the artifact.
    val lineFull = stdoutLine(qsJson(medians), "")
    val line =
      if (lineFull.length <= 2000) lineFull
      else {
        var k = 30
        var l = ""
        do {
          l = stdoutLine(qsJson(medians.sortBy(-_._2).take(k).sortBy(_._1)),
            s""","queries_shown":"top$k-of-${medians.size}-by-median-full-map-in-artifact"""")
          k -= 5
        } while (l.length > 2000 && k > 0)
        // final fallback (ADVICE r15): with a long skipped+missing
        // list even the top-5 line can overflow and get truncated
        // mid-JSON by the driver's ~2KB tail — drop the query map
        // entirely rather than ship an unparseable line
        if (l.length > 2000)
          l = stdoutLine("{}",
            s""","queries_shown":"none-of-${medians.size}-full-map-in-artifact"""")
        l
      }
    println(line)
    spark.stop()
  }
}
