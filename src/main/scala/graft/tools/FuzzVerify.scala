package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: the Spark half of the differential fuzzer
  * (tools/fuzz.py, VERDICT r9 item 2). Runs a subset of
  * [[graft.SparkEntry.queries]] over MANY seeded random datasets in
  * ONE JVM (a per-seed `sbt runMain` would pay ~40 s of JVM + Spark
  * + codegen warm-up per seed), dumping each result as parquet for
  * the Python side's DuckDB twin comparison. NOT part of the library
  * surface and never used by SparkEntry.
  *
  * Usage: runMain graft.tools.FuzzVerify ROOT NSEEDS [prefix1,prefix2,...]
  * (each element selects every query NAME starting with it; exact
  * names therefore also work). Reads the parquet tables under
  * ROOT/seed{i}/data (i in 0 until NSEEDS), writes each result to
  * ROOT/seed{i}/out/NAME plus ROOT/oracle_sql.json.
  */
object FuzzVerify {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val nSeeds = args(1).toInt
    val prefixes: Seq[String] =
      if (args.length > 2) args(2).split(",").filter(_.nonEmpty).toSeq
      else Seq.empty
    def selected(name: String): Boolean =
      prefixes.isEmpty || prefixes.exists(name.startsWith)
    val spark = graft.Mains.localSession()

    val queries = graft.SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .toSeq.sortBy(_._1)
    var failures = 0
    for (i <- 0 until nSeeds) {
      val dataDir = s"$root/seed$i/data"
      val outDir = s"$root/seed$i/out"
      new java.io.File(outDir).mkdirs()
      queries.foreach { case (name, fn) =>
        try fn(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failures += 1
          System.err.println(s"[fuzz] seed$i $name failed: ${e.getMessage}")
        }
      }
      // the Memo'd per-dir indexes (derived tables, name stats,
      // signatures, k-means assignments) are keyed by dataDir — dead
      // once the seed's queries are done; release them so 20+ seeds
      // don't accumulate 20 copies in the storage pool
      graft.core.Memo.invalidate(spark)
      println(s"[fuzz] seed$i done (${queries.size} queries)")
    }

    val json = graft.SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${graft.Mains.jsonString(k)}: ${graft.Mains.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$root/oracle_sql.json"), json)
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
