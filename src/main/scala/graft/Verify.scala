package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: names beyond the first two args restrict the dump to
    // those queries (scale-test reruns of single queries)
    val only = args.drop(2).toSet
    val spark = Mains.localSession()
    new java.io.File(outDir).mkdirs()
    // Same family grouping + Memo lifecycle as Bench: queries run in
    // deterministic family order and each family's shared indexes are
    // released before the next family starts. Without the release the
    // dump accumulates EVERY family's cached indexes in one JVM —
    // at sf1 that put the 32g heap within range of the OOM killer
    // (round 11), and at a bigger SF it would be the thing that dies.
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1)
      .groupBy { case (n, _) => Mains.familyOf(n) }.toSeq.sortBy(_._1)
      .foreach { case (fam, qs) =>
        qs.foreach { case (name, fn) =>
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
        graft.core.Memo.invalidate(spark, fam)
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Mains.jsonString(k)}: ${Mains.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the DECLARED query surface, for the sweep's structural-
    // completeness stamp (VERDICT r13 item 3: the bench artifacts are
    // guarded by Bench's measured ∪ skipped == surface check, but the
    // SCALE.md correctness sweep had no equivalent — so "the
    // last-added query trails the sf1 sweep" recurred there; with
    // this dump tools/check.py enforces compared ∪ skipped == queries)
    val declared = SparkEntry.queries.keys.toSeq.sorted
      .map(Mains.jsonString).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), declared)
    spark.stop()
  }
}
