package graft.tools


/** Dump `.explain("formatted")` for named declared queries to files —
  * the optimization rounds' before/after plan evidence
  * (plans/rNN/<query>_{before,after}.txt). Usage:
  *   runMain graft.tools.ExplainDump <outDir> <suffix> <query> [query...]
  * writes <outDir>/<query>_<suffix>.txt for each name. Uses the bench
  * session shape (local[cpus], shuffle.partitions=cpus) so the dumped
  * plan is the one the bench executes. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Mains.localSession()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
