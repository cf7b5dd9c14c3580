package graft.dedup

import graft.core.Tables
import org.scalatest.funsuite.AnyFunSuite

/** The reliable-checkpoint deployment toggle (VERDICT r18 item 7):
  * `DedupSettings.checkpointDir` switches every pipeline
  * materialization from `localCheckpoint` blocks to durable
  * `checkpoint()` files. Results must be bit-identical — the toggle
  * changes fault tolerance, never semantics — across both name-level
  * regimes (driver fast path, distributed) and the sorted-neighborhood
  * ranking. */
class ReliableCheckpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val dir = "/root/testdata/sf0.001"

  private def ckDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-reliable-ck")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("row_order").collect().map(_.toString).toSeq

  private def runBoth(base: DedupSettings): Unit = {
    val part = Tables.part(spark, dir)
    val local = rows(Pipeline.run(part, "p_name", "p_partkey", base))
    val reliable = rows(Pipeline.run(part, "p_name", "p_partkey",
      base.copy(checkpointDir = Some(ckDir()))))
    assert(local === reliable)
    assert(local.nonEmpty)
  }

  test("driver fast path: identical output with reliable checkpoints") {
    runBoth(DedupSettings())
  }

  test("distributed regime: identical output with reliable checkpoints") {
    // driverFastPathNames=0 forces the distributed name table, whose
    // pair-join fold is the checkpointed frame
    runBoth(DedupSettings(driverFastPathNames = 0L))
  }

  test("sorted-neighborhood governed path honors the toggle") {
    // a tiny cap forces the hot-block policy; same pairs either way
    val s = DedupSettings(maxBlockNames = Some(8L), hotBlockWindow = 4)
    val stats = Matching.nameStats(
      Normalize.withDerived(Tables.part(spark, dir), "p_name", "p_partkey"))
      .localCheckpoint(true)
    val a = Matching.qualifyingPairsPrepared(stats, s)
      .select("a_name", "b_name", "pair_conf")
      .orderBy("a_name", "b_name").collect().toSeq
    // no manual setCheckpointDir: the entry point engages the dir from
    // the settings itself — the real API contract (ADVICE r19)
    val b = Matching.qualifyingPairsPrepared(stats,
      s.copy(checkpointDir = Some(ckDir())))
      .select("a_name", "b_name", "pair_conf")
      .orderBy("a_name", "b_name").collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("reliable CC: identical components on a distributed graph") {
    import spark.implicits._
    // a chain + a star, big enough to pass the local threshold gate
    val edges = ((0L until 200L).map(i => (i, i + 1)) ++
      (300L until 400L).map(i => (250L, i))).toDF("src", "dst")
    spark.sparkContext.setCheckpointDir(ckDir())
    val local = Cluster.connectedComponents(edges, localThreshold = 10)
      .orderBy("id").collect().map(_.toString).toSeq
    val rel = Cluster.connectedComponents(edges, localThreshold = 10,
      reliable = true)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(local === rel)
    assert(local.nonEmpty)
  }
}
