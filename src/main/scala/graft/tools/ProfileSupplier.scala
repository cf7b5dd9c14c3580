package graft.tools

import graft.core.Tables
import graft.dedup.{Cluster, DedupSettings, Matching, Normalize}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: phase-by-phase timing of the supplier dense-clique
  * pipeline (the dedup_clusters_supplier regression bisect, VERDICT
  * r10 item 1). Mirrors Pipeline.run's stages with explicit
  * materialization between phases so each phase's wall is isolated. */
object ProfileSupplier {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/testdata/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val localDir = LocalDirs.ramLocalDir("profile")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()

    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[phase] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    (1 to 2).foreach { rep =>
      println(s"=== rep $rep ===")
      val settings = DedupSettings()
      val derived = phase("derive+rows") {
        Normalize.withDerived(Tables.supplier(spark, sfDir), "s_name", "s_suppkey")
          .select("row_order", "original_name", "normalized_name", "base_name", "block_key")
      }
      val stats = phase("nameStats ckpt") {
        Matching.nameStats(derived).localCheckpoint(true)
      }
      println(s"  names=${stats.count()}")
      phase("pure JW pass (count, no ckpt)") {
        Matching.qualifyingPairsPrepared(stats, settings)
          .select(col("a_min_row"), col("b_min_row"), col("pair_conf"))
          .count()
      }
      phase("pure JW pass again") {
        Matching.qualifyingPairsPrepared(stats, settings)
          .select(col("a_min_row"), col("b_min_row"), col("pair_conf"))
          .count()
      }
      val pairsCompact = phase("pair join ckpt") {
        Matching.qualifyingPairsPrepared(stats, settings)
          .select(col("a_min_row"), col("b_min_row"), col("pair_conf"))
          .localCheckpoint(true)
      }
      println(s"  pairs=${pairsCompact.count()}")
      val edges = pairsCompact
        .select(col("a_min_row").as("src"), col("b_min_row").as("dst"))
      val comps = phase("cc") {
        val c = Cluster.connectedComponents(edges)
        c.count(); c
      }
      val nameByMin = stats.select(col("min_row"), col("base_name"), col("max_row"))
      val crossDist = phase("candidates") {
        val rejoined = pairsCompact
          .join(nameByMin.select(col("min_row").as("a_min_row"),
            col("base_name").as("a_name"), col("max_row").as("a_max_row")), Seq("a_min_row"))
          .join(nameByMin.select(col("min_row").as("b_min_row"),
            col("base_name").as("b_name"), col("max_row").as("b_max_row")), Seq("b_min_row"))
        val c = rejoined.select(col("a_name").as("cand_name"),
            col("pair_conf").as("cand_conf"), col("b_max_row").as("partner_max_row"))
          .union(rejoined.select(col("b_name"), col("pair_conf"), col("a_max_row")))
          .localCheckpoint(true)
        c.count(); c
      }
      phase("full Pipeline.run") {
        graft.dedup.Pipeline.run(Tables.supplier(spark, sfDir), "s_name", "s_suppkey")
          .select("row_order", "cluster_id", "cluster_size", "confidence").count()
      }
    }
    spark.stop()
  }
}
