package graft.dedup

import graft.functions.JaroWinklerSimilarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Pins the distributed name table (Matching.distributedNameTable)
  * against the driver fast path: the SAME input through both regimes
  * must produce byte-identical pipeline output — the regimes are
  * execution knobs, never semantics. This is the gate for the sf1
  * supplier clique, whose DuckDB twin is oracle-infeasible (41M
  * qualifying pairs). */
class DistributedRegimeSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val distributed = DedupSettings(driverFastPathNames = 0L)

  /** A supplier-like miniature: pairwise-similar distinct names (one
    * dense block) plus a second disjoint family plus unmatchable
    * noise — multi-component so CC does real merging, multi-conf so
    * the candidate reduction is exercised. */
  private def clique = {
    import spark.implicits._
    val dense = (1 to 120).map(i => (i.toLong, f"Supplier#$i%09d"))
    val other = (201 to 240).map(i => (i.toLong, f"Vendor Corp $i%04d"))
    val noise = Seq((301L, "zzz completely unrelated alpha"),
      (302L, "qqq different thing beta"))
    (dense ++ other ++ noise).toDF("id", "name")
  }

  private def rows(df: DataFrame, settings: DedupSettings): Seq[String] =
    Pipeline.run(df, "name", "id", settings).orderBy("row_order").collect().map(_.mkString("|"))

  test("driver and distributed regimes are bit-identical end-to-end") {
    // the default gate admits 162 names
    val driver = rows(clique, DedupSettings())
    assert(Matching.lastStageStats.exists(_.regime == "driver-fast-path"))
    val dist = rows(clique, distributed)
    // the regime observability must report what actually ran
    assert(Matching.lastStageStats.exists(s => s.regime == "distributed" && s.jwPasses == 1),
      s"expected the distributed regime to have run, got ${Matching.lastStageStats}")
    assert(driver.length == 162)
    assert(dist == driver, "distributed regime diverged from the driver fast path")
  }

  test("a chain of adjacent-only matches merges into one cluster") {
    import spark.implicits._
    // only adjacent names qualify (JW(adjacent) >= 0.90, JW(distant) <
    // 0.85), so the one cluster exists only through transitive edges
    val chain = Seq(
      (1L, "ALPHABETIC NAME ONE AAAA"),
      (2L, "ALPHABETIC NAME ONE AAAB"),
      (3L, "ALPHABETIC NAME ONE AABB"),
      (4L, "ALPHABETIC NAME ONE ABBB"),
      (5L, "ALPHABETIC NAME ONE BBBB")).toDF("id", "name")
    def clusters(settings: DedupSettings) =
      Pipeline.run(chain, "name", "id", settings)
        .select("row_order", "cluster_id").orderBy("row_order").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val driver = clusters(DedupSettings())
    assert(driver.map(_._2).distinct == Seq(1L), driver)
    assert(clusters(distributed) == driver)
  }

  test("a distributed run executes the Jaro-Winkler join once") {
    // every plan a distributed Pipeline.run and its readout execute that
    // contains the JW expression; listener callbacks are asynchronous,
    // so a marker query's callback (after every earlier one's) ends the wait
    val jwPlans = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.atomic.AtomicLong
    def hasJw(qe: QueryExecution): Boolean =
      qe.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[JaroWinklerSimilarity])))
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (hasJw(qe)) jwPlans.incrementAndGet()
        done.incrementAndGet()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        done.incrementAndGet()
    }
    val input = clique
    spark.listenerManager.register(listener)
    try {
      assert(rows(input, distributed).length == 162)
      val before = done.get
      spark.range(1).collect()
      val deadline = System.nanoTime + 30000000000L
      while (done.get <= before && System.nanoTime < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(jwPlans.get == 1, s"${jwPlans.get} executed plans ran the JW join")
  }

  test("a name's candidate maxima merge across pair-join partitions") {
    import spark.implicits._
    // three 0.95 names of one block; Y (row 1) < X (row 2) < Z (row 3)
    val (x, y, z) = ("ACME ROBOTICA", "ACME ROBOTICD", "ACME ROBOTICE")
    val df = Seq((1L, y), (2L, x), (3L, z)).toDF("id", "name")
    // the premise: X-Z, the pair that lifts X to 0.95, is joined in a
    // partition other than X-Y's and Y-Z's, so no one partition's fold
    // holds X's maximum together with its cluster's edges
    val stats = Matching.nameStats(Normalize.withDerived(df, "name", "id")).localCheckpoint(true)
    val where = Matching.qualifyingPairsPrepared(stats, distributed)
      .select(col("a_name"), col("b_name"), col("pair_conf"), spark_partition_id())
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    assert(where.keySet == Set((x, y), (x, z), (y, z)) &&
      where.values.forall(_._1 == Rules.ConfHardRatio), where)
    assert(where((x, z))._2 != where((x, y))._2 && where((x, z))._2 != where((y, z))._2, where)

    val dist = Pipeline.run(df, "name", "id", distributed).orderBy("row_order").collect()
    assert(dist.map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
      r.getAs[String]("canonical_name"), r.getAs[Double]("confidence"))).toSeq ==
      Seq((1L, 3L, x, 0.95), (1L, 3L, x, 0.95), (1L, 3L, x, 0.70)))
    assert(rows(df, distributed) == rows(df, DedupSettings()))
  }
}
