package perfbench

import graft.dedup.{Cluster, Matching, Normalize, Outputs, Pipeline}
import graft.functions.JaroWinklerAlgo
import graft.sources.Sources
import graft.streaming.StreamDedup
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** One job's wall time (call → outputs written or collected), its check
  * and its batch latencies: the per-micro-batch `triggerExecution`
  * times of a stream, the job itself for a batch workload. */
final case class JobResult(seconds: Double, outcome: Checks.Outcome, batchMs: Seq[Double])

/** A workload: seeded inputs, a job the user would run on them, and the
  * traced decomposition of that job into layer calls. */
trait Workload {
  /** Write the inputs for `seed` into `dir`. */
  def generate(dir: File, seed: Long): Unit
  /** Run one job on the inputs in `dir`, writing only under `work`.
    * With a tracer, spans are recorded inside the job. */
  def job(dir: File, work: File, tracer: Option[Tracer]): JobResult
  /** The traced layer pass: per-layer metrics, plus the seconds of the
    * spans that lie on the job's own path (for `trace.coverage`). */
  def layers(tr: Tracer, dir: File, work: File): (Map[String, Double], Double)
}

object Workload {
  def apply(name: String, spark: SparkSession): Workload = name match {
    case "company_reports" => new CompanyReports(spark)
    case "stream_dedup" => new StreamDedupWorkload(spark)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum else f.length

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** A company master file in CSV through `Sources.runFile` to the five
  * reports. */
final class CompanyReports(spark: SparkSession) extends Workload {
  import Workload._
  /** Ground-truth entities; each has one to four rows. 3,700 entities
    * make about 4.3k distinct base names, above the 4,096-name driver
    * fast path, so the name stage runs distributed. */
  val Entities = 3700

  val NameCol = "company_name"
  val OrderCol = "record_id"
  private def csv(dir: File): String = new File(dir, "companies.csv").getPath

  def generate(dir: File, seed: Long): Unit = Gen.companies(dir, seed, Entities)

  def job(dir: File, work: File, tracer: Option[Tracer]): JobResult = {
    val out = new File(work, "reports")
    val t0 = System.nanoTime()
    def call(): Unit = Sources.runFile(spark, csv(dir), out.getPath, Some(NameCol), Some(OrderCol))
    tracer.fold(call())(_.span("sources.runFile")(call()))
    val secs = seconds(t0)
    val rows = toOut(spark.read.parquet(new File(out, "company_duplicates_final").getPath))
    val base = Checks.batch(rows, Checks.readTruth(dir))
    val outcome = base.copy(problems = base.problems ++ checkReports(out, rows))
    deleteTree(out)
    JobResult(secs, outcome, Seq(secs * 1000))
  }

  private val OutCols = Seq("row_order", "base_name", "cluster_id", "canonical_name", "confidence")

  private def toOut(df: DataFrame): Seq[Checks.Out] =
    df.select(OutCols.map(col): _*).collect().toSeq.map(r => Checks.Out(r.getLong(0),
      r.getString(1), r.getLong(2), r.getString(3), r.getDouble(4)))

  /** The five reports, written as `Sources.runFile` writes them. */
  private def writeReports(full: DataFrame, out: File): Unit = {
    def save(d: DataFrame, sub: String): Unit =
      d.coalesce(1).write.mode("overwrite").parquet(new File(out, sub).getPath)
    save(Outputs.clusters(full), "company_duplicates_final")
    save(Outputs.summary(full), "canonical_summary")
    save(Outputs.settingsEcho(spark, graft.dedup.DedupSettings()), "settings")
    save(Outputs.mapping(full), "golden_mapping")
    save(Outputs.review(full), "high_confidence_review")
  }

  /** The reports beyond the cluster table agree with it. */
  private def checkReports(out: File, rows: Seq[Checks.Out]): Seq[String] = {
    def read(sub: String) = spark.read.parquet(new File(out, sub).getPath)
    val problems = mutable.ArrayBuffer.empty[String]
    val n = rows.length.toLong
    val mapping = read("golden_mapping").count()
    if (mapping != n) problems += s"golden_mapping has $mapping rows for $n"
    val summed = read("canonical_summary").agg(sum("count")).head().getLong(0)
    if (summed != n) problems += s"canonical_summary counts $summed rows for $n"
    val review = read("high_confidence_review").count()
    val sizes = rows.groupBy(_.clusterId).map { case (k, v) => k -> v.length }
    val expected = rows.count(r => r.confidence >= 0.95 && sizes(r.clusterId) >= 2)
    if (review != expected) problems += s"high_confidence_review has $review rows, expected $expected"
    if (read("settings").count() != 6) problems += "settings report is not six rows"
    problems.toSeq
  }

  def layers(tr: Tracer, dir: File, work: File): (Map[String, Double], Double) = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val (raw, read) = tr.span("sources.read") {
      val df = Sources.read(spark, csv(dir)); df.count(); df
    }
    val rows = raw.count()
    m("sources.read_s") = read.seconds
    m("sources.rows") = rows.toDouble

    val (derived, derive) = tr.span("normalize.derive") {
      Normalize.withDerived(raw, NameCol, OrderCol).localCheckpoint(true)
    }
    m("normalize.derive_s") = derive.seconds
    m("normalize.rows_per_s") = rows / derive.seconds

    val (stats, index) = tr.span("matching.index") {
      Matching.nameStats(derived.select("row_order", "original_name", "normalized_name",
        "base_name", "block_key")).localCheckpoint(true)
    }
    val blocks = stats.groupBy("block_key").count().collect().map(_.getLong(1))
    val implied = blocks.map(n => n * (n - 1) / 2).sum
    m("matching.index_s") = index.seconds
    m("matching.names") = blocks.sum.toDouble
    m("matching.blocks") = blocks.length.toDouble
    m("matching.max_block_names") = if (blocks.isEmpty) 0 else blocks.max.toDouble
    m("matching.implied_pairs") = implied.toDouble
    Seq("names", "blocks", "max_block_names", "implied_pairs")
      .foreach(k => tr.count(index, k, m(s"matching.$k")))

    val (pairs, pairSpan) = tr.span("matching.pairs") {
      Matching.qualifyingPairsPrepared(stats)
        .select(col("a_min_row").as("src"), col("b_min_row").as("dst")).localCheckpoint(true)
    }
    val qualifying = pairs.count()
    m("matching.pairs_s") = pairSpan.seconds
    m("matching.qualifying_pairs") = qualifying.toDouble
    m("matching.pair_yield") = if (implied == 0) 0 else qualifying.toDouble / implied
    tr.count(pairSpan, "qualifying_pairs", qualifying.toDouble)

    Cluster.clearStats()
    val (comps, cc) = tr.span("cluster.cc") {
      Cluster.connectedComponents(pairs, edgesMaterialized = true).localCheckpoint(true)
    }
    m("cluster.cc_s") = cc.seconds
    m("cluster.edges") = qualifying.toDouble
    m("cluster.components") = comps.select("component").distinct().count().toDouble
    m("cluster.rounds") = Cluster.lastStats.map(_.rounds.toDouble).getOrElse(0.0)
    tr.count(cc, "components", m("cluster.components"))

    val (full, runDerived) = tr.span("pipeline.run_derived") {
      Pipeline.runDerived(derived).localCheckpoint(true)
    }
    m("pipeline.run_derived_s") = runDerived.seconds
    m("matching.jw_passes") = Matching.lastStageStats.map(_.jwPasses.toDouble).getOrElse(0.0)
    tr.count(runDerived, "jw_passes", m("matching.jw_passes"))

    val (run0, run) = tr.span("pipeline.run") {
      Pipeline.run(raw, NameCol, OrderCol).localCheckpoint(true)
    }
    m("pipeline.run_s") = run.seconds

    val out = new File(work, "layer-reports")
    val (_, write) = tr.span("outputs.write")(writeReports(full, out))
    m("outputs.write_s") = write.seconds
    m("outputs.bytes") = dirBytes(out).toDouble
    tr.count(write, "bytes", m("outputs.bytes"))
    deleteTree(out)
    val onPath = read.seconds + derive.seconds + runDerived.seconds + write.seconds

    m("functions.jw_pairs_per_s") = jwRate(stats)
    Seq(run0, full, comps, pairs, stats, derived).foreach(graft.core.Frames.release)
    (m.toMap, onPath)
  }

  /** Single-thread `JaroWinklerAlgo.similarity` throughput over a fixed
    * sample of the workload's same-block name pairs. */
  private def jwRate(stats: DataFrame): Double = {
    val names = stats.select("block_key", "base_name").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    val sample = mutable.ArrayBuffer.empty[(UTF8String, UTF8String)]
    val Cap = 50000
    names.groupBy(_._1).toSeq.sortBy(_._1).iterator.takeWhile(_ => sample.length < Cap).foreach {
      case (_, block) =>
        val b = block.map(x => UTF8String.fromString(x._2))
        var i = 0
        while (i < b.length && sample.length < Cap) {
          var j = i + 1
          while (j < b.length && sample.length < Cap) { sample += ((b(i), b(j))); j += 1 }
          i += 1
        }
    }
    if (sample.isEmpty) return 0.0
    val a = sample.map(_._1).toArray
    val b = sample.map(_._2).toArray
    var evaluated = 0L
    var sink = 0.0
    val t0 = System.nanoTime()
    while (evaluated < 2000000L || seconds(t0) < 0.2) {
      var i = 0
      while (i < a.length) { sink += JaroWinklerAlgo.similarity(a(i), b(i)); i += 1 }
      evaluated += a.length
    }
    val rate = evaluated / seconds(t0)
    if (sink < 0) println(sink) // keeps the loop live
    rate
  }
}

/** Arrival files drained by one AvailableNow run of
  * `StreamDedup.exactDedup`, one micro-batch per file. */
final class StreamDedupWorkload(spark: SparkSession) extends Workload {
  import Workload._
  val Files = 8
  val RowsPerFile = 300

  private val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType),
    StructField("ts", TimestampType)))
  private var events: Seq[Gen.Event] = Nil

  private def arrivals(dir: File) = new File(dir, "arrivals")

  def generate(dir: File, seed: Long): Unit = {
    events = Gen.events(dir, seed, Files, RowsPerFile)
    writeArrivals(arrivals(dir))
  }

  /** One parquet file per arrival, modification times in arrival order
    * so `maxFilesPerTrigger = 1` reads them in sequence. */
  private def writeArrivals(to: File): Unit = {
    import spark.implicits._
    to.mkdirs()
    val staging = new File(to.getParentFile, to.getName + ".staging")
    events.groupBy(_.file).toSeq.sortBy(_._1).foreach { case (f, es) =>
      val tmp = new File(staging, f.toString)
      es.map(e => (e.id, e.text, new java.sql.Timestamp(e.tsMillis))).toDF("id", "text", "ts")
        .coalesce(1).write.parquet(tmp.getPath)
      val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
      val dest = new File(to, f"arrival-$f%03d.parquet")
      if (!part.renameTo(dest)) throw new IllegalStateException(s"cannot move $part")
      dest.setLastModified(1767225600000L + f * 1000L)
    }
    deleteTree(staging)
  }

  private var lastProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil

  def job(dir: File, work: File, tracer: Option[Tracer]): JobResult = {
    val ck = new File(work, "checkpoint")
    val sink = new File(work, "sink")
    def traced[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body)._1)
    val t0 = System.nanoTime()
    val q = traced("streaming.start") {
      val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1L)
        .parquet(arrivals(dir).getPath)
      StreamDedup.exactDedup(src, "text", "ts").select("id", "text", "ts")
        .writeStream.format("parquet").outputMode("append")
        .option("path", sink.getPath).option("checkpointLocation", ck.getPath)
        .trigger(Trigger.AvailableNow()).start()
    }
    traced("streaming.drain")(q.awaitTermination())
    val secs = seconds(t0)
    lastProgress = q.recentProgress.toSeq
    val batchMs = lastProgress.flatMap(p => Option(p.durationMs.get("triggerExecution")))
      .map(_.toDouble)
    val survivors = spark.read.parquet(sink.getPath).select("id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val outcome = Checks.stream(survivors, events)
    deleteTree(ck); deleteTree(sink)
    JobResult(secs, outcome, batchMs)
  }

  def layers(tr: Tracer, dir: File, work: File): (Map[String, Double], Double) = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val (_, write) = tr.span("streaming.input_write")(writeArrivals(new File(work, "rewrite")))
    deleteTree(new File(work, "rewrite"))
    m("streaming.input_write_s") = write.seconds
    tr.span("streaming.job")(job(dir, work, Some(tr)))
    m("streaming.start_s") = tr.last("streaming.start").get.seconds
    def phase(key: String): Double = {
      val v = lastProgress.flatMap(p => Option(p.durationMs.get(key))).map(_.toDouble)
      Stats.median(v)
    }
    m("streaming.add_batch_ms") = phase("addBatch")
    m("streaming.wal_commit_ms") = phase("walCommit")
    m("streaming.commit_offsets_ms") = phase("commitOffsets")
    m("streaming.query_planning_ms") = phase("queryPlanning")
    val state = lastProgress.reverseIterator.find(_.stateOperators.nonEmpty)
    m("streaming.state_rows") = state.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
    m("streaming.state_mb") = state.map(_.stateOperators.map(_.memoryUsedBytes).sum / 1e6).getOrElse(0.0)
    m("streaming.batches") = lastProgress.length.toDouble
    m("streaming.batch_ms_p90") = Stats.quantile(
      lastProgress.flatMap(p => Option(p.durationMs.get("triggerExecution"))).map(_.toDouble), 0.9)
    val onPath = Seq("streaming.start", "streaming.drain").map(n => tr.last(n).get.seconds).sum
    (m.toMap, onPath)
  }
}
