package graft.sources

import graft.core.{Frames, Par, Tables}
import graft.dedup.{DedupSettings, Normalize, Outputs, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}

/** Sources and sinks for the dedup pipeline (S1-S4, O1 in SURVEY.md
  * §2.1). The reference reads CSV/XLSX via pandas
  * (/root/reference/app.py:86-88); here CSV and Parquet are native
  * Spark scans (header + schema inference for CSV parity). XLSX has
  * no offline Spark datasource — persist reports as Parquet/CSV
  * instead (SURVEY.md §2.2). */
object Sources {

  /** S1 — CSV scan with pandas-like header/inference behavior. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S2 — XLSX scan (dependency-free, see [[Xlsx]]), with
    * pandas-style dtype inference so [[detectNameColumn]] skips
    * numeric id columns exactly like the reference's pandas read
    * (app.py:88) — an all-string read would misdetect a leading
    * numeric column as the name column. */
  def readXlsx(spark: SparkSession, path: String): DataFrame =
    Xlsx.readTyped(spark, path)

  /** JSONL scan — the standard LLM-corpus interchange format (one
    * JSON object per line). Schema inference needs a full pass; pass
    * an explicit schema at scale so the read is single-pass and
    * pruned columns never parse. */
  def readJsonl(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** JSONL sink (line-delimited JSON, the `spark.write.json` layout). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Generic reader dispatched on extension (S4's per-file loop). */
  def read(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".csv")) readCsv(spark, path)
    else if (path.endsWith(".xlsx")) readXlsx(spark, path)
    else if (path.endsWith(".jsonl") || path.endsWith(".json")) readJsonl(spark, path)
    else spark.read.parquet(path)

  /** S3 — schema peek without scanning data. */
  def peekSchema(spark: SparkSession, path: String): StructType =
    read(spark, path).schema

  /** Reference behavior: auto-detect the name column as the first
    * string column when none is given (engine_test.py:13-16). */
  def detectNameColumn(df: DataFrame): Option[String] =
    df.schema.fields.find(_.dataType == StringType).map(_.name)

  /** Bucketed managed-table sink: pre-partitions (and pre-sorts) by
    * the join key so repeated joins/aggregations on that key read
    * co-located buckets and skip the shuffle entirely — the storage-
    * layout half of the 100 TB join strategy (pair with broadcast for
    * small dims). Both sides of a join must use the same bucket
    * count. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** S4 + E3 + O1 — run the full pipeline on an input file and write
    * the five reports under `outDir`: company_duplicates_final,
    * canonical_summary, settings, golden_mapping and
    * high_confidence_review (parquet or csv; `xlsx` writes the
    * reference's three workbooks instead).
    *
    * The pipeline runs once per call. The derived table (normalize
    * chain) and the result table are each materialized once through
    * [[graft.core.Frames.materialize]] — reliable checkpoint files when
    * `settings.checkpointDir` is set, local checkpoint blocks otherwise
    * — and every report is a projection of the result table, so the
    * CSV scan, the normalize chain and the name-level stage never rerun
    * per report. Each report reads the result table as ONE partition
    * and is sorted (or aggregated) inside it: no report shuffles, and
    * each writes a single file. The parquet/csv writes are independent
    * jobs over that table and run at the same time
    * ([[graft.core.Par]]). Returns the result table, checkpoint-backed:
    * its plan root is the checkpoint, and `Frames.release` on it frees
    * the blocks (or files) once the caller is done with it.
    *
    * CSV reports write a null as an empty unquoted field and an empty
    * string as `""`. Spark's csv reader turns both into null by default
    * (its `nullValue` is the empty string). Read a report back with
    * `.option("header", "true").option("nullValue", "\u0000")` — any
    * `nullValue` that never occurs in the data — to keep them apart:
    * empty fields then read as null and `""` as the empty string
    * (e.g. the settings report's empty `explicit_maps`). */
  def runFile(spark: SparkSession, inPath: String, outDir: String,
      nameCol: Option[String] = None, rowOrderCol: Option[String] = None,
      settings: DedupSettings = DedupSettings(), format: String = "parquet"): DataFrame = {
    val df0 = read(spark, inPath)
    val name = nameCol.orElse(detectNameColumn(df0)).getOrElse(
      throw new IllegalArgumentException(s"no string column in $inPath"))
    // a stable row id: an explicit key column, else a line id for
    // single-partition inputs (documented: file order = row_order).
    // The ids are assigned once, by the derived-table materialization
    // below, so every report sees the same ids.
    val (df, orderCol) = rowOrderCol match {
      case Some(c) => (df0, c)
      case None =>
        (df0.coalesce(1).withColumn("_row_order",
          org.apache.spark.sql.functions.monotonically_increasing_id()), "_row_order")
    }
    settings.engageCheckpoints(spark)
    val reliable = settings.reliableCheckpoints
    // Pipeline.run's own composition, with both tables materialized:
    // the derived table has two readers inside the pipeline (name
    // index, row-level confidence join), the result table five reports
    val derived = Frames.materialize(Normalize.withDerived(
      Tables.spread(df, orderCol), name, orderCol, settings), reliable)
    val full = Frames.materialize(Pipeline.runDerived(derived, settings), reliable)
    Frames.release(derived)
    // every report reads one partition of the checkpoint: a single
    // partition satisfies any required distribution, so the reports'
    // sorts and aggregate plan no exchange (and each writes one file)
    val one = full.coalesce(1)
    if (format == "xlsx") {
      // the reference's exact three-workbook layout (outputs.py:44-58)
      new java.io.File(outDir).mkdirs()
      Xlsx.write(Seq(
        "clusters" -> Outputs.clusters(one),
        "canonical_summary" -> Outputs.summary(one),
        "settings" -> Outputs.settingsEcho(spark, settings)),
        s"$outDir/company_duplicates_final.xlsx")
      Xlsx.write(Seq("mapping" -> Outputs.mapping(one)),
        s"$outDir/golden_mapping.xlsx")
      Xlsx.write(Seq("review" -> Outputs.review(one)),
        s"$outDir/high_confidence_review.xlsx")
    } else {
      def save(d: DataFrame, sub: String): () => Unit = () => {
        val w = d.write.mode("overwrite")
        if (format == "csv") w.option("header", "true").csv(s"$outDir/$sub")
        else w.parquet(s"$outDir/$sub")
      }
      Par.run(Seq(
        save(Outputs.clusters(one), "company_duplicates_final"),
        save(Outputs.summary(one), "canonical_summary"),
        save(Outputs.settingsEcho(spark, settings).coalesce(1), "settings"),
        save(Outputs.mapping(one), "golden_mapping"),
        save(Outputs.review(one), "high_confidence_review")))
    }
    full
  }
}
