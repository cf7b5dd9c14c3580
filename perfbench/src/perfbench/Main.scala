package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}

/** The benchmark's JVM: one closed-loop client, one job at a time.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --launched <epoch seconds> --work <dir> --spans <file>
  * }}}
  *
  * Set-up (timed as `setup_s`): JVM and session start, input
  * generation (run three times; the median counts) and one warm-up job.
  * Then jobs run back to back until `--seconds` have passed (at least
  * one; in the traced run, pairs of an untraced and a traced job), and
  * the traced run ends with one layer pass. The last stdout line is the result
  * object. */
object Main {
  val GenRounds = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val launched = args("launched").toDouble
    val work = new File(args("work"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getPath)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSeconds = System.currentTimeMillis() / 1000.0 - launched

    val workload = Workload(workloadName, spark)

    var attempted = 0
    var failed = 0
    val digests = mutable.LinkedHashSet.empty[String]
    val problems = mutable.ArrayBuffer.empty[String]
    var jobNo = 0

    /** Run one job in a fresh work directory; failures and check
      * failures are counted, never thrown. */
    def runJob(input: File, tracer: Option[Tracer]): Option[JobResult] = {
      jobNo += 1
      attempted += 1
      val dir = new File(work, s"job-$jobNo")
      dir.mkdirs()
      val res = try {
        val r = workload.job(input, dir, tracer)
        System.err.println(f"job $jobNo%d${if (tracer.isDefined) " (traced)" else ""}: ${r.seconds}%.3f s")
        digests += r.outcome.digest
        if (!r.outcome.ok) {
          failed += 1
          problems ++= r.outcome.problems.map(p => s"job $jobNo: $p")
        }
        Some(r)
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"job $jobNo: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
      } finally Workload.deleteTree(dir)
      System.gc() // lets the context cleaner drop the job's checkpoints before the next one
      res
    }

    // --- set-up: input generation (median of the rounds) + one warm-up job
    val input = new File(work, "input")
    val genRounds = (1 to GenRounds).map { _ =>
      Workload.deleteTree(input)
      input.mkdirs()
      val t0 = System.nanoTime()
      workload.generate(input, seed)
      Workload.seconds(t0)
    }
    val warm0 = System.nanoTime()
    runJob(input, None)
    val setupSeconds = sessionSeconds + Stats.median(genRounds) + Workload.seconds(warm0)

    // --- measured loop
    val untraced = mutable.ArrayBuffer.empty[JobResult]
    val tracedJobs = mutable.ArrayBuffer.empty[(JobResult, SparkTotals)]
    val tracer = new Tracer
    val listener = new TaskListener
    val start = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || Workload.seconds(start) < seconds) {
      rounds += 1
      runJob(input, None).foreach(untraced += _)
      if (traced) {
        listener.bucket = new SparkTotals
        spark.sparkContext.addSparkListener(listener)
        val r = tracer.span("job")(runJob(input, Some(tracer)))._1
        org.apache.spark.PerfBenchBridge.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        r.foreach(x => tracedJobs += ((x, listener.bucket)))
      }
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val jobSeconds = Stats.median(untraced.map(_.seconds).toSeq)
    if (!traced) {
      val batch = untraced.flatMap(_.batchMs).toSeq
      val scored = untraced.headOption.map(_.outcome)
      metrics("setup_s") = (setupSeconds, "s")
      metrics("job_s") = (jobSeconds, "s")
      metrics("batch_ms") = (Stats.median(batch), "ms")
      metrics("pair_precision") = (scored.map(_.precision).getOrElse(0.0), "ratio")
      metrics("pair_recall") = (scored.map(_.recall).getOrElse(0.0), "ratio")
      println(s"samples: jobs=${untraced.length} batches=${batch.length} " +
        s"fail_ratio=${failed.toDouble / attempted}")
    } else {
      val layerDir = new File(work, "layers")
      layerDir.mkdirs()
      listener.bucket = new SparkTotals
      spark.sparkContext.addSparkListener(listener)
      val (layerMetrics, onPath) = tracer.span("layers")(workload.layers(tracer, input, layerDir))._1
      org.apache.spark.PerfBenchBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      Workload.deleteTree(layerDir)

      // Spark totals of the traced job with the median wall time
      val byTime = tracedJobs.sortBy(_._1.seconds)
      val mid = byTime.lift(byTime.length / 2).map(_._2).getOrElse(new SparkTotals)
      val computed = layerMetrics ++ Map(
        "spark.jobs" -> mid.jobs.toDouble,
        "spark.stages" -> mid.stages.toDouble,
        "spark.tasks" -> mid.tasks.toDouble,
        "spark.task_s" -> mid.taskNs / 1e9,
        "spark.gc_s" -> mid.gcMs / 1e3,
        "spark.shuffle_write_mb" -> mid.shuffleWriteBytes / 1e6,
        "spark.spill_mb" -> mid.spillBytes / 1e6,
        "spark.max_task_share" -> mid.maxTaskShare,
        "spark.failed_tasks" -> mid.failedTasks.toDouble,
        "jvm.peak_rss_mb" -> peakRssMb(),
        "trace.coverage" -> onPath / jobSeconds,
        "trace.overhead_s" -> (Stats.median(tracedJobs.map(_._1.seconds).toSeq) - jobSeconds))
      // a layer the workload does not exercise reports 0
      for ((name, unit) <- PerLayer.Units) metrics(name) = (computed.getOrElse(name, 0.0), unit)
      tracer.write(new File(args("spans")))
    }
    if (digests.size > 1) {
      failed += 1
      problems += s"output digest differs across jobs: ${digests.mkString(", ")}"
    }
    problems.take(10).foreach(p => System.err.println(s"check failed: $p"))
    spark.stop()

    val body = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
  }

  /** The JVM's peak resident set (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Every per-layer metric with its unit, in report order. */
object PerLayer {
  val Units: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.rows" -> "count",
    "normalize.derive_s" -> "s", "normalize.rows_per_s" -> "1/s",
    "matching.index_s" -> "s", "matching.names" -> "count", "matching.blocks" -> "count",
    "matching.max_block_names" -> "count", "matching.implied_pairs" -> "count",
    "matching.pairs_s" -> "s", "matching.qualifying_pairs" -> "count",
    "matching.pair_yield" -> "ratio", "matching.jw_passes" -> "count",
    "functions.jw_pairs_per_s" -> "1/s",
    "cluster.cc_s" -> "s", "cluster.edges" -> "count", "cluster.components" -> "count",
    "cluster.rounds" -> "count",
    "pipeline.run_s" -> "s", "pipeline.run_derived_s" -> "s",
    "outputs.write_s" -> "s", "outputs.bytes" -> "bytes",
    "streaming.input_write_s" -> "s", "streaming.start_s" -> "s",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB", "streaming.batches" -> "count",
    "streaming.batch_ms_p90" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.max_task_share" -> "ratio", "spark.failed_tasks" -> "count",
    "jvm.peak_rss_mb" -> "MB",
    "trace.coverage" -> "ratio", "trace.overhead_s" -> "s")
}
