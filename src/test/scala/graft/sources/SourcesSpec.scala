package graft.sources

import graft.core.Frames
import graft.dedup.{DedupSettings, Outputs, Pipeline, SparkTest}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** E2-style end-to-end: CSV in → auto-detected column → pipeline →
  * five report sinks on disk (the reference's engine_test.py flow,
  * offline). */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private object Plans extends AdaptiveSparkPlanHelper

  test("csv in, reports out, column auto-detection") {
    val dir = Files.createTempDirectory("graft_src").toFile
    val csv = new java.io.File(dir, "companies.csv")
    val w = new java.io.PrintWriter(csv)
    w.println("Company Name")
    Seq("IBM India Pvt Ltd", "IBM", "TCS", "Tata Consultancy Services Limited",
      "Google LLC", "Alphabet Inc", "Microsoft", "Ltd").foreach(w.println)
    w.close()

    val df = Sources.readCsv(spark, csv.getAbsolutePath)
    assert(Sources.detectNameColumn(df).contains("Company Name"))
    assert(Sources.peekSchema(spark, csv.getAbsolutePath).fields.length == 1)

    val out = new java.io.File(dir, "out").getAbsolutePath
    val full = Sources.runFile(spark, csv.getAbsolutePath, out)
    assert(full.count() == 8)

    val clusters = spark.read.parquet(s"$out/company_duplicates_final")
    assert(clusters.count() == 8)
    val mapping = spark.read.parquet(s"$out/golden_mapping").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mapping("TCS") == "TATA CONSULTANCY SERVICES")
    assert(mapping("IBM India Pvt Ltd") == "IBM")
    val review = spark.read.parquet(s"$out/high_confidence_review")
    assert(review.count() == 2)
  }

  test("xlsx report format reproduces the reference's three workbooks") {
    val dir = Files.createTempDirectory("graft_xlsx_e2e").toFile
    val csv = new java.io.File(dir, "c.csv")
    val w = new java.io.PrintWriter(csv)
    w.println("Company Name"); Seq("IBM India Pvt Ltd", "IBM", "Ltd").foreach(w.println)
    w.close()
    val out = new java.io.File(dir, "out").getAbsolutePath
    Sources.runFile(spark, csv.getAbsolutePath, out, format = "xlsx")
    for (f <- Seq("company_duplicates_final.xlsx", "golden_mapping.xlsx",
        "high_confidence_review.xlsx")) {
      assert(new java.io.File(out, f).exists(), f)
    }
    val mapping = Xlsx.read(spark, s"$out/golden_mapping.xlsx").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mapping("IBM India Pvt Ltd") == "IBM")
    assert(mapping("Ltd") == "LTD")
  }

  test("jsonl write -> read round-trip, schema-pinned and inferred") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toFile
    val path = new java.io.File(dir, "docs.jsonl").getAbsolutePath
    val df = Seq((0L, "alpha beta", "en"), (1L, "gamma", "es"))
      .toDF("doc_id", "text", "lang")
    Sources.writeJsonl(df, path)
    // inferred
    val back = Sources.readJsonl(spark, path)
      .select("doc_id", "text", "lang").orderBy("doc_id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((0L, "alpha beta", "en"), (1L, "gamma", "es")))
    // schema-pinned (single-pass at scale) + extension dispatch
    val pinned = Sources.read(spark, path)
    assert(pinned.count() == 2)
    val typed = Sources.readJsonl(spark, path, Some(df.schema))
    // JSON columns are always nullable on read — compare names+types
    assert(typed.schema.map(f => f.name -> f.dataType) ==
      df.schema.map(f => f.name -> f.dataType))
  }

  test("SQL surface: registered jaro_winkler and dot_product") {
    graft.Graft.install(spark)
    val r = spark.sql(
      "SELECT jaro_winkler('IBM', 'IBM INDIA') AS jw, " +
        "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp").collect()(0)
    assert(r.getDouble(0) == 0.8444444444444443)
    assert(r.getDouble(1) == 11.0)
  }

  private val Stems = Seq("Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay",
    "Stark", "Wayne", "Wonka", "Tyrell", "Cyberdyne", "Soylent", "Oscorp", "Sterling")
  private val Seconds = Seq("Industries", "Trading", "Systems", "Holdings", "Foods")
  private val Tails = Seq("Ltd", "Limited", "Inc", "Pvt Ltd", "LLC", "Corporation", "")

  /** Company `i` of a deterministic master file: stems x second words x
    * legal tails, with case variants and a dropped-letter typo on every
    * eleventh row, so clusters hold several surface forms. */
  private def company(i: Int): String = {
    val stem = Stems(i % Stems.size)
    val typo = if (i % 11 == 0) stem.dropRight(1) else stem
    val n = s"$typo ${Seconds(i / Stems.size % Seconds.size)} " +
      Tails(i / (Stems.size * Seconds.size) % Tails.size)
    (i % 3 match {
      case 0 => n
      case 1 => n.toUpperCase
      case _ => n.toLowerCase
    }).trim
  }

  /** A CSV of `rows` companies, with an `id` key column or without. */
  private def companiesCsv(rows: Int, withId: Boolean): String = {
    val dir = Files.createTempDirectory("graft_runfile").toFile
    val csv = new java.io.File(dir, "companies.csv")
    val w = new java.io.PrintWriter(csv)
    w.println(if (withId) "id,Company Name" else "Company Name")
    (0 until rows).foreach(i => w.println(if (withId) s"${1000 + i},${company(i)}" else company(i)))
    w.close()
    csv.getAbsolutePath
  }

  private def exchanges(plan: SparkPlan): Seq[Exchange] =
    Plans.collect(plan) { case e: Exchange => e }

  /** `body`'s result and the executed plans of the file writes it ran.
    * Query-execution listeners are called asynchronously, so this
    * waits (up to 30 s) until the writes' plans have arrived. */
  private def writePlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val done = new java.util.concurrent.atomic.AtomicLong
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (Plans.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          plans.add(qe.executedPlan)
        done.incrementAndGet()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        done.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      // a marker query: once its own callback has run, every earlier
      // query's callback has too (the listener bus is ordered)
      val before = done.get
      spark.range(1).collect()
      val deadline = System.nanoTime + 30000000000L
      while (done.get <= before && System.nanoTime < deadline) Thread.sleep(20)
      (result, plans.toArray(Array.empty[SparkPlan]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private def reports(full: DataFrame, settings: DedupSettings): Seq[(String, DataFrame)] = Seq(
    "company_duplicates_final" -> Outputs.clusters(full),
    "canonical_summary" -> Outputs.summary(full),
    "settings" -> Outputs.settingsEcho(spark, settings),
    "golden_mapping" -> Outputs.mapping(full),
    "high_confidence_review" -> Outputs.review(full))

  /** One written report, rows in file order. A csv report is read
    * back with the options the `runFile` scaladoc documents, which
    * keep its empty strings apart from its nulls. */
  private def written(out: String, sub: String, format: String,
      like: DataFrame): Seq[Row] =
    (if (format == "csv")
      spark.read.schema(like.schema).option("header", "true").option("nullValue", "\u0000")
        .csv(s"$out/$sub")
    else spark.read.parquet(s"$out/$sub")).collect().toSeq

  test("runFile reports equal the unmaterialized pipeline's, in every regime and format") {
    val csv = companiesCsv(160, withId = true)
    val regimes = Seq(
      "driver fast path" -> DedupSettings(),
      "materialize" -> DedupSettings(driverFastPathNames = 0L),
      "materialize, reliable checkpoints" -> DedupSettings(driverFastPathNames = 0L,
        checkpointDir = Some(Files.createTempDirectory("graft_runfile_ck").toString)))
    for ((regime, settings) <- regimes) {
      val expected = Pipeline.run(Sources.readCsv(spark, csv), "Company Name", "id", settings)
      val expectedReports = reports(expected, settings).map { case (sub, d) =>
        (sub, d, d.collect().toSeq) }
      val expectedRows = expected.orderBy("row_order").collect().toSeq
      assert(expectedRows.size === 160)
      for (format <- Seq("parquet", "csv")) {
        val out = Files.createTempDirectory("graft_runfile_out").toString
        val (full, writes) = writePlans(Sources.runFile(spark, csv, out, Some("Company Name"),
          Some("id"), settings, format))
        // the five report writes read one partition: none shuffles
        assert(writes.length === 5, s"$regime / $format")
        for (plan <- writes)
          assert(exchanges(plan).isEmpty, s"$regime / $format: an exchange in\n$plan")
        for ((sub, like, rows) <- expectedReports) {
          assert(written(out, sub, format, like) === rows, s"$regime / $format / $sub")
          val parts = new java.io.File(out, sub).list().filter(_.startsWith("part-"))
          assert(parts.length === 1, s"$regime / $format / $sub: ${parts.toSeq}")
        }
        // the same table reports over the checkpoint's own partitions
        // do shuffle, so the check above can see an exchange
        val shuffled = Outputs.clusters(full)
        shuffled.collect()
        assert(exchanges(shuffled.queryExecution.executedPlan).nonEmpty, regime)
        // the returned frame is the checkpoint itself, with the same rows
        full.queryExecution.analyzed match {
          case lr: LogicalRDD =>
            assert(lr.rdd.getCheckpointFile.isDefined === settings.reliableCheckpoints, regime)
          case other => fail(s"$regime: returned plan root is ${other.getClass.getSimpleName}")
        }
        assert(full.orderBy("row_order").collect().toSeq === expectedRows, regime)
        Frames.release(full)
      }
    }
  }

  test("no key column: every report sees the same line ids") {
    // big enough (> 64 KB) that the pipeline spreads the single-split
    // scan across partitions after the ids are assigned
    val n = 3000
    val csv = companiesCsv(n, withId = false)
    val out = Files.createTempDirectory("graft_runfile_nokey").toString
    val full = Sources.runFile(spark, csv, out)
    def read(sub: String) = spark.read.parquet(s"$out/$sub")
    val clusters = read("company_duplicates_final")
    // file order = row_order
    val byRow = clusters.select("row_order", "original_name").collect()
    assert(byRow.map(_.getLong(0)).toSeq === (0L until n.toLong))
    assert(byRow.map(_.getString(1)).toSeq === (0 until n).map(company))

    val pairs = clusters.select("original_name", "canonical_name")
    val mapping = read("golden_mapping")
    assert(mapping.count() === n)
    assert(mapping.exceptAll(pairs).isEmpty && pairs.exceptAll(mapping).isEmpty)

    val summary = read("canonical_summary")
    assert(summary.agg(sum("count")).head().getLong(0) === n)
    val perCluster = clusters.groupBy("cluster_id", "canonical_name").count()
    assert(summary.exceptAll(perCluster).isEmpty && perCluster.exceptAll(summary).isEmpty)

    val review = read("high_confidence_review")
    val expectedReview = clusters.filter(col("confidence") >= 0.95 && col("cluster_size") >= 2)
    assert(review.collect().toSeq === expectedReview.collect().toSeq)
    assert(review.count() > 0)

    assert(full.select(clusters.columns.map(col): _*).orderBy("row_order").collect().toSeq ===
      clusters.collect().toSeq)
    Frames.release(full)
  }

  test("a warm runFile compiles (almost) nothing: one call's generated classes fit the codegen cache") {
    val csv = companiesCsv(160, withId = true)
    def call(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = Files.createTempDirectory("graft_runfile_warm").toString
      Frames.release(Sources.runFile(spark, csv, out, Some("Company Name"), Some("id")))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val cold = call()
    val warm = call()
    assert(warm <= 5, s"cold call compiled $cold classes, the warm call $warm")
  }
}
