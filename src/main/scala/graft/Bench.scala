package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Benchmark entry point. Times every [[SparkEntry.queries]] entry over
  * `SPARK_GRAFT_SF_DIR`, writes the full artifact (every rep, median,
  * spread, `n_exchanges`, `storage_mb`, `compiles` — the Janino classes
  * compiled during the row's timed reps —, CC stats, probe record) to
  * `SPARK_GRAFT_BENCH_OUT` (default `bench_out.json`) and prints one
  * JSON line of at most 2,000 chars, because the driver parses only the
  * tail of stdout ([[stdoutLine]]).
  *
  * Method: families ([[Mains.familyOf]]) and the queries in each run in
  * name order. A family's Memo indexes are built first (timed as `warm`,
  * summed into `index_build`) and released after it, followed by a GC, so
  * no family's cache pool or collection lands in another's reps. Each
  * query runs once untimed (codegen, JIT, broadcasts, and the executed
  * plan for `n_exchanges`), then `SPARK_GRAFT_BENCH_REPS` timed reps
  * (default 3) plus up to 4 more while their spread exceeds both 0.5×
  * the median and 0.25 s; the row reports the median. The run judges its
  * own environment with a fixed shuffle probe, because interference on
  * the measured hosts lands on the exchange path: a median of 5 at the
  * start and end of the run and a median of 3 before and after every
  * family. A family whose bracketing probe exceeds 1.6× the run's best
  * probe so far gets up to three recovery attempts after back-offs of 2,
  * 10 and 30 s: a probe within 1.3× of the best, fresh reps of its
  * flagged rows (kept in their own window; the row keeps the smaller
  * median, since interference only adds time) and a second such probe.
  * At the end the run's probe medians set the band ([[derive]]) and
  * [[Gate.flags]] marks each row the band does not certify `env_degraded`;
  * `n_certified` counts the rest. A run degraded from start to end
  * certifies against its own floor; the stdout `shuf` stamp (start and
  * end probe) shows it. */
object Bench {
  private def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Shuffle-Exchange count of an executed plan, through AQE wrappers
    * and query stages. A ReusedExchange re-reads an existing shuffle's
    * files and is not counted. */
  private def countShuffles(plan: SparkPlan): Int = {
    val self = plan match { case _: ShuffleExchangeLike => 1; case _ => 0 }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children
    }
    self + kids.map(countShuffles).sum
  }

  private def medianOf(ts: IndexedSeq[Double]): Double =
    if (ts.size % 2 == 1) ts(ts.size / 2) else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2

  /** Healthy shuffle-probe band: `value` gates, `spread` is the cluster
    * width that formed it. */
  private[graft] final case class Band(value: Double, sampleMin: Double, nSamples: Int,
    spread: Double)
  /** Cluster widths tried, tightest first; the first whose cluster holds
    * [[HealthyCoverage]] of the samples wins (stalls are episodic, so
    * most probe windows are healthy). */
  private[graft] val HealthySpreads = Seq(1.5, 1.75, 2.0)
  private[graft] val HealthyCoverage = 0.6
  /** Band = healthy-cluster max × this. */
  private[graft] val Headroom = 1.05
  /** Fewer probe medians than this set no band (a full run takes ~16). */
  private[graft] val MinSamples = 8

  private def valid(probe: Double): Boolean = probe > 0 && java.lang.Double.isFinite(probe)

  /** The band over probe medians: the minimum anchors the healthy
    * cluster (interference only adds time), and the band is the cluster
    * max × [[Headroom]], so inflated samples never lift it. None below
    * [[MinSamples]] positive finite samples. */
  private[graft] def derive(samples: Seq[Double]): Option[Band] = {
    val pos = samples.filter(valid)
    if (pos.size < MinSamples) None
    else {
      val m = pos.min
      val spread = HealthySpreads
        .find(sp => pos.count(_ <= m * sp).toDouble / pos.size >= HealthyCoverage)
        .getOrElse(HealthySpreads.last)
      Some(Band(pos.filter(_ <= m * spread).max * Headroom, m, pos.size, spread))
    }
  }

  /** A family's probe record: the bracketing probes and the probes of
    * the last recovery attempt that took fresh reps ([[recover]]). */
  private[graft] final case class Window(pre: Double, post: Double,
    recPre: Option[Double] = None, recPost: Option[Double] = None)

  /** The probe gate. With a band, a probe above it is degraded; without,
    * a probe above `factor` × `best` (1.6 for a family window, 1.3 for a
    * recovery probe). During the loop the gate has no band; the final
    * one is [[Gate.of]] the run's probe medians. */
  private[graft] final case class Gate(band: Option[Band], best: Double) {
    def degraded(probe: Double, factor: Double): Boolean =
      band.fold(probe > factor * best)(b => probe > b.value)
    def window(w: Window): Boolean = degraded(w.pre, 1.6) || degraded(w.post, 1.6)
    /** A remeasured row's median came from the recovery window, so it is
      * flagged unless both recovery probes pass; any other row is flagged
      * with its family window. */
    def flags(w: Window, remeasured: Boolean): Boolean =
      if (remeasured) !(w.recPre.exists(!degraded(_, 1.3)) && w.recPost.exists(!degraded(_, 1.3)))
      else window(w)
  }
  private[graft] object Gate {
    def of(samples: Seq[Double]): Gate =
      Gate(derive(samples), samples.filter(valid).min)
  }

  /** A family's recovery pass: how it ended, how many attempts it took
    * and the probe pair that bracketed the last fresh reps. */
  private[graft] final case class Recovery(requeue: String, attempts: Int,
    pre: Option[Double], post: Option[Double])

  /** The recovery pass: while `pending`, after each back-off, a probe;
    * if it is `healthy`, `remeasure` takes fresh reps and a second probe
    * follows, and `recovered` runs when that one is healthy too. The
    * kept (pre, post) pair comes from the last attempt that took fresh
    * reps, so the two probes always bracket the same reps; an attempt
    * whose first probe fails only sets `requeue`. */
  private[graft] def recover(pending: () => Boolean, probe: () => Double,
      healthy: Double => Boolean, remeasure: () => Unit, recovered: () => Unit,
      sleep: Long => Unit = Thread.sleep): Recovery = {
    val backoffsMs = Seq(2000L, 10000L, 30000L)
    var rec = Recovery("none", 0, None, None)
    while (pending() && rec.attempts < backoffsMs.size) {
      sleep(backoffsMs(rec.attempts))
      val attempt = rec.attempts + 1
      val pre = probe()
      rec =
        if (!healthy(pre)) rec.copy(requeue = "still_degraded", attempts = attempt)
        else {
          remeasure()
          val post = probe()
          val ok = healthy(post)
          // fresh medians are kept either way; the flags only clear here
          if (ok) recovered()
          Recovery(if (ok) "recovered" else "recovery_interrupted", attempt, Some(pre), Some(post))
        }
    }
    rec
  }

  /** What the stdout line carries besides the median map. */
  private[graft] final case class Headline(total: Double, totalCertified: Double,
    totalExAudits: Double, totalFloor: Double, nCertified: Int, method: String,
    indexBuild: Double, shuf: (Double, Double), sf: String, skipped: Seq[String],
    missing: Seq[String], nDegraded: Int)

  /** The stdout line, at most 2,000 chars: with the full median map when
    * it fits, else the 30, 25, …, 5 largest medians, else none. Skipped
    * and missing names show as the first three and a count, and as the
    * count alone when even the line without medians would not fit. */
  private[graft] def stdoutLine(h: Headline, medians: Seq[(String, Double)]): String = {
    def names(ns: Seq[String], k: Int): String = (ns.take(k).map(Mains.jsonString) ++
      (if (ns.size > k) Seq(s""""+${ns.size - k} more"""") else Nil)).mkString("[", ",", "]")
    val deg = if (h.nDegraded == 0) "" else s""","env_degraded":${h.nDegraded}"""
    def line(qs: Seq[(String, Double)], note: String, k: Int = 3): String = {
      val qsJson = qs.map { case (n, m) => s"${Mains.jsonString(n)}:${fmt(m)}" }.mkString("{", ",", "}")
      val shown = if (note.isEmpty) "" else s""","queries_shown":"$note-full-map-in-artifact""""
      val skip = if (h.skipped.isEmpty) "" else s""","skipped":${names(h.skipped, k)}"""
      val miss = if (h.missing.isEmpty) "" else
        s""","complete":false,"n_missing":${h.missing.size},"missing":${names(h.missing, k)}"""
      s"""{"metric":"total","value":${fmt(h.total)},"unit":"sec",""" +
        s""""total_certified":${fmt(h.totalCertified)},"total_ex_audits":${fmt(h.totalExAudits)},""" +
        s""""total_floor":${fmt(h.totalFloor)},"n_certified":${h.nCertified},""" +
        s""""method":"${h.method}","index_build":${fmt(h.indexBuild)},""" +
        s""""shuf":[${fmt(h.shuf._1)},${fmt(h.shuf._2)}],"queries":$qsJson$shown,""" +
        s""""sf":${Mains.jsonString(h.sf)}$skip$deg$miss}"""
    }
    val n = medians.size
    val top = (30 to 5 by -5).iterator.map(k =>
      line(medians.sortBy(-_._2).take(k).sortBy(_._1), s"top$k-of-$n-by-median"))
    (Iterator(line(medians, "")) ++ top ++ Iterator(line(Nil, s"none-of-$n")))
      .find(_.length <= 2000).getOrElse(line(Nil, s"none-of-$n", 0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // a stale or generated-then-reaped data dir must fail, not bench air
    require(new java.io.File(s"$sfDir/region.parquet").exists(),
      s"SPARK_GRAFT_SF_DIR=$sfDir has no region.parquet — not a testdata dir")
    // Shuffle and spill files go to RAM: page-writeback stalls from
    // accumulated shuffle files on the root disk showed up as random 3-4×
    // single-rep outliers with flat GC time. The benched shuffles are MBs.
    val localDir = graft.core.Fs.ramScratch("graft-bench-local").toString
    val spark = Mains.localSession("spark.local.dir" -> localDir)
    val cpus = Mains.cpus
    // untimed warm-up: JVM, codegen and parquet-reader init belong to no query
    try spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count()
    catch { case _: Throwable => () }

    // The environment probe: constant work at every sf, one full shuffle.
    def shufOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 16L * 1000 * 1000, 1, cpus)
        .selectExpr("id", "(id * 2654435761) % 65536 AS k")
        .repartition(cpus, col("k"))
        .groupBy("k").agg(sum("id").as("s"))
        .selectExpr("sum(s)").collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    val runSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probe(n: Int): Double = {
      val p = medianOf((1 to n).map(_ => shufOnce()).sorted)
      runSamples += p
      p
    }
    // the run's start and end probes: two untimed runs, then a median of 5
    def runProbe(): Double = { (1 to 2).foreach(_ => shufOnce()); probe(5) }
    def loopGate: Gate = Gate(None, runSamples.min)
    val shufStart = runProbe()

    // cached-RDD bytes resident in memory (MB): the storage high-water
    // that per-family release is there to bound
    @annotation.nowarn("cat=deprecation")
    def storageMb(): Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024L * 1024L)

    // SPARK_GRAFT_BENCH_FAMILIES=text,rel restricts the run to families;
    // SPARK_GRAFT_BENCH_SKIP=q1,q2 drops named queries (a documented kill
    // at some scale). Unknown names fail the run, and skipped names are
    // stamped, so a reduced run never reads as full coverage.
    def envSet(k: String): Option[Set[String]] =
      sys.env.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val onlyFams = envSet("SPARK_GRAFT_BENCH_FAMILIES")
    val allFams = SparkEntry.queries.keysIterator.map(Mains.familyOf).toSet
    onlyFams.foreach { fams =>
      val unknown = fams -- allFams
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_FAMILIES has unknown families: ${unknown.toSeq.sorted.mkString(",")}; " +
          s"known: ${allFams.toSeq.sorted.mkString(",")}")
    }
    val skip = envSet("SPARK_GRAFT_BENCH_SKIP").getOrElse(Set.empty[String])
    locally {
      val unknown = skip -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_SKIP has unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val families = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => !skip.contains(n) }
      .groupBy { case (n, _) => Mains.familyOf(n) }.toSeq.sortBy(_._1)
      .filter { case (f, _) => onlyFams.forall(_.contains(f)) }
    val timed = families.flatMap(_._2.map(_._1)).toSet

    val warms: Map[String, (SparkSession, String) => Unit] = Map(
      "dedup" -> graft.queries.DedupQueries.warmIndexes,
      "text" -> graft.queries.TextQueries.warmIndexes,
      "ann" -> ((s, d) => graft.queries.AnnQueries.warmIndexes(s, d, timed)),
      "mm" -> graft.queries.MultimodalQueries.warmIndexes,
      "stream" -> graft.queries.StreamingQueries.warmIndexes)

    var indexBuild = 0.0
    val warmDetail = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // a throwing warm is stamped: its build would otherwise move, unseen,
    // into the first consumer's untimed warm rep
    val warmFailed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    type Query = (SparkSession, String) => DataFrame
    // the recovery pass may replace the median with one from fresh reps;
    // those stay in their own window and medianSource names the window
    // the median (and its spread) came from
    final class QRow(val name: String, val fn: Query, val times: IndexedSeq[Double],
      var median: Double, val nExchanges: Int, val storageHw: Long,
      val ccStats: Option[graft.dedup.Cluster.CcStats], val compiles: Long,
      var envDegraded: Boolean = false, var remeasured: Boolean = false,
      var freshTimes: IndexedSeq[Double] = IndexedSeq.empty,
      var allFresh: IndexedSeq[Double] = IndexedSeq.empty,
      var medianSource: String = "original") {
      def statReps: IndexedSeq[Double] = if (medianSource == "fresh") freshTimes else times
    }
    def timeOne(fn: Query): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    def timeReps(fn: Query): IndexedSeq[Double] = (1 to reps).map(_ => timeOne(fn)).sorted
    final case class FamRec(w: Window, degraded: Boolean, requeue: String, attempts: Int)
    val famRecs = scala.collection.mutable.LinkedHashMap.empty[String, FamRec]
    val detail: Seq[QRow] = families.flatMap { case (fam, qs) =>
      val pre = probe(3)
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
        // CC-consuming queries leave their regime/rounds stats from the
        // untimed run; cleared first so no earlier query's stats stick.
        // A failing query fails the run instead of recording a ~0 s row.
        graft.dedup.Cluster.clearStats()
        val nExchanges = try {
          val d = fn(spark, sfDir); d.count()
          countShuffles(d.queryExecution.executedPlan)
        } catch {
          case e: Throwable => throw new RuntimeException(
            s"bench query '$name' failed on $sfDir: ${e.getMessage}", e)
        }
        val ccStats = graft.dedup.Cluster.lastStats
        val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        var times = timeReps(fn)
        // a transient stall hits 1-2 reps of a random query: extra reps
        // while the spread is bad outvote it (every rep stays in the artifact)
        var extra = 0
        while (extra < 4 && {
          val m = medianOf(times)
          m > 0 && (times.last - times.head) / m > 0.5 && times.last - times.head > 0.25
        }) { times = (times :+ timeOne(fn)).sorted; extra += 1 }
        new QRow(name, fn, times, medianOf(times), nExchanges, storageMb(), ccStats,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0)
      }
      // the recovery pass runs before the family's indexes are released,
      // so a re-measure costs only timed reps
      val post = probe(3)
      val windowDegraded = loopGate.window(Window(pre, post))
      if (windowDegraded) rows.foreach(_.envDegraded = true)
      val rec = recover(() => rows.exists(_.envDegraded), () => probe(3),
        p => !loopGate.degraded(p, 1.3),
        remeasure = () => rows.filter(_.envDegraded).foreach { q =>
          val fresh = timeReps(q.fn)
          val m = medianOf(fresh)
          if (m < q.median) { q.median = m; q.medianSource = "fresh"; q.freshTimes = fresh }
          q.allFresh = q.allFresh ++ fresh
          q.remeasured = true
        },
        recovered = () => rows.foreach(_.envDegraded = false))
      famRecs(fam) = FamRec(Window(pre, post, rec.pre, rec.post), windowDegraded, rec.requeue,
        rec.attempts)
      graft.core.Memo.invalidate(spark, fam)
      System.gc()
      rows
    }
    val shufEnd = runProbe()
    // the final judgment: the run's complete probe record sets the band
    val gate = Gate.of(runSamples.toSeq)
    detail.foreach(q =>
      q.envDegraded = gate.flags(famRecs(Mains.familyOf(q.name)).w, q.remeasured))

    val total = indexBuild + detail.map(_.median).sum
    // total_certified sums index_build and the certified medians only, so
    // an interference day cannot pass its stalls off as the headline
    val certifiedRows = detail.filter(!_.envDegraded)
    val totalCertified = indexBuild + certifiedRows.map(_.median).sum
    // the audit queries' cost is a deliberately enumerated counterfactual
    // (governed recall, the uncapped *_allpairs twins), reported apart so
    // a new audit never reads as a regression of the production surface
    def isAudit(n: String): Boolean =
      n == "dedup_governed_recall" || n == "mm_neardup_recall" || n.contains("_allpairs")
    val totalExAudits = indexBuild + detail.filterNot(q => isAudit(q.name)).map(_.median).sum
    // per-query min over every rep: the most stall-robust point estimate
    // a run carries, a floor under the median headline
    val totalFloor = indexBuild + detail.map(q => (q.times ++ q.allFresh).min).sum
    def quart(ts: IndexedSeq[Double], f: Double): Double = {
      val pos = (ts.size - 1) * f
      val lo = pos.toInt
      if (lo + 1 < ts.size) ts(lo) + (pos - lo) * (ts(lo + 1) - ts(lo)) else ts(lo)
    }
    def spreadOf(q: QRow): Double =
      if (q.median > 0) (q.statReps.last - q.statReps.head) / q.median else 0.0
    // IQR over the sorted reps drops the tails the way the median does:
    // a tight IQR beside a wide spread is a stable query with one stall
    def iqrSpread(q: QRow): Double =
      if (q.median > 0) (quart(q.statReps, 0.75) - quart(q.statReps, 0.25)) / q.median else 0.0
    val maxSpread = detail.map(spreadOf).foldLeft(0.0)(math.max)
    val maxIqrSpread = detail.map(iqrSpread).foldLeft(0.0)(math.max)
    val qDetail = detail.map { q =>
      val sr = q.statReps
      val ccJson = q.ccStats.map(c =>
        s""","cc":{"regime":"${c.regime}","rounds":${c.rounds},""" +
          s""""contracted_edges":${c.contractedEdges}}""").getOrElse("")
      // fresh_reps: the median's window when fresh won, else every recovery rep
      val freshShown = if (q.freshTimes.nonEmpty) q.freshTimes else q.allFresh
      val flagJson = (if (q.envDegraded) ""","env_degraded":true""" else "") +
        (if (q.remeasured)
          s""","remeasured":true,"median_source":"${q.medianSource}",""" +
            s""""fresh_reps":[${freshShown.map(fmt).mkString(",")}]"""
         else "")
      s""""${q.name}":{"reps":[${q.times.map(fmt).mkString(",")}],"median":${fmt(q.median)},""" +
        s""""min":${fmt(sr.head)},"max":${fmt(sr.last)},"spread":${fmt(spreadOf(q))},""" +
        s""""iqr_spread":${fmt(iqrSpread(q))},""" +
        s""""n_exchanges":${q.nExchanges},"storage_mb":${q.storageHw},""" +
        s""""compiles":${q.compiles}$ccJson$flagJson}"""
    }.mkString("{", ",", "}")
    val warmJson = warmDetail.map { case (f, s) => s""""$f":${fmt(s)}""" }.mkString("{", ",", "}")
    val warmFailedJson = if (warmFailed.isEmpty) "" else
      warmFailed.map { case (f, m) => s""""$f":${Mains.jsonString(m)}""" }
        .mkString(""","warm_failed":{""", ",", "}")
    val famProbesJson = famRecs.map { case (f, r) =>
      val rec = (r.w.recPre.map(p => s""","rec_pre":${fmt(p)}""") ++
        r.w.recPost.map(p => s""","rec_post":${fmt(p)}""")).mkString
      val retro = if (gate.window(r.w) && !r.degraded) ""","degraded_retro":true""" else ""
      val att = if (r.attempts > 0) s""","recovery_attempts":${r.attempts}""" else ""
      s""""$f":{"pre":${fmt(r.w.pre)},"post":${fmt(r.w.post)},""" +
        s""""degraded":${r.degraded},"requeue":"${r.requeue}"$rec$retro$att}"""
    }.mkString("{", ",", "}")
    // "method" names the measurement semantics behind the same "total"
    // name; "runband": each run is judged by the band over its own probes
    val method = s"warm+median-of-$reps+adaptive+memo-truth+envprobe+runband"
    val skipped = skip.toSeq.sorted
    val skippedJson = skipped.map(Mains.jsonString).mkString("[", ",", "]")
    // measured ∪ skipped must be the whole surface, or the artifact says
    // complete:false with the missing names (a family-restricted run too)
    val missing = (SparkEntry.queries.keySet -- detail.map(_.name) -- skip).toSeq.sorted
    val missingJson = missing.map(Mains.jsonString).mkString("[", ",", "]")
    val runMin = runSamples.min
    val bandJson =
      s"""{"active":${gate.band.isDefined},"source":"${if (gate.band.isDefined) "run" else "none"}",""" +
        s""""spread":${gate.band.map(b => fmt(b.spread)).getOrElse("null")},""" +
        s""""value":${gate.band.map(b => fmt(b.value)).getOrElse("null")},""" +
        s""""run_min":${fmt(runMin)},"n_run_samples":${runSamples.size}}"""
    val artifact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_certified":${fmt(totalCertified)},""" +
        s""""total_ex_audits":${fmt(totalExAudits)},"total_floor":${fmt(totalFloor)},""" +
        s""""n_certified":${certifiedRows.size},"n_rows":${detail.size},""" +
        s""""method":"$method","index_build":${fmt(indexBuild)},""" +
        s""""warm":$warmJson$warmFailedJson,"max_spread":${fmt(maxSpread)},"max_iqr_spread":${fmt(maxIqrSpread)},""" +
        s""""n_reps":$reps,"cpus":$cpus,"sf":${Mains.jsonString(sfDir)},""" +
        s""""complete":${missing.isEmpty},"missing":$missingJson,""" +
        s""""calibration":{"shuffle_start":${fmt(shufStart)},"shuffle_end":${fmt(shufEnd)},""" +
        s""""band":$bandJson},"family_probes":$famProbesJson,""" +
        s""""skipped":$skippedJson,"queries":$qDetail}"""
    try {
      val p = java.nio.file.Paths.get(outPath)
      // a stale artifact must not survive a failed write as if fresh
      java.nio.file.Files.deleteIfExists(p)
      java.nio.file.Files.write(p, (artifact + "\n").getBytes("UTF-8"))
    } catch {
      case t: Throwable => System.err.println(s"WARN Bench: failed to write $outPath: $t")
    }
    println(stdoutLine(Headline(total, totalCertified, totalExAudits, totalFloor,
      certifiedRows.size, method, indexBuild, (shufStart, shufEnd), sfDir, skipped, missing,
      detail.count(_.envDegraded)), detail.map(q => (q.name, q.median))))
    spark.stop()
  }
}
