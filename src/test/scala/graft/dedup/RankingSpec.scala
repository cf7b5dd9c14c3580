package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the distributed two-pass per-block ranking (Matching
  * .blockRanked) against the single-window row_number it replaces
  * above DistributedRankThreshold: identical (block_key, base_name,
  * rnk) triples on blocks that genuinely span multiple range
  * partitions — the 100 TB posture fix for hot sorted-neighborhood
  * blocks that would otherwise serialize onto one task. */
class RankingSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("blockRanked == window row_number across multi-partition blocks") {
    import spark.implicits._
    // two blocks, one big enough to span several range partitions
    val stats = ((1 to 5000).map(i => ("B_big", f"NAME $i%06d")) ++
      (1 to 37).map(i => ("A_small", f"OTHER $i%04d")))
      .toDF("block_key", "base_name")
      .withColumn("n_rows", lit(1L))
      .withColumn("min_row", monotonically_increasing_id())
      .withColumn("max_row", col("min_row"))
      .withColumn("token_key", col("base_name"))
      .localCheckpoint(true)

    val byName = org.apache.spark.sql.expressions.Window
      .partitionBy("block_key").orderBy("base_name")
    val expected = stats.withColumn("rnk", row_number().over(byName))
      .select("block_key", "base_name", "rnk")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

    val got = Matching.blockRanked(stats, parts = 8)
      .select("block_key", "base_name", "rnk")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

    assert(got == expected,
      s"diff: ${(got diff expected).take(5)} / ${(expected diff got).take(5)}")
    // ranks are 1..n per block, no gaps
    assert(got.filter(_._1 == "B_big").map(_._3) == (1 to 5000).toSet)
    assert(got.filter(_._1 == "A_small").map(_._3) == (1 to 37).toSet)

    // a numeric key and order (the ANN hot-bucket rank): same ranks
    val byId = stats.select((col("min_row") % 3).as("bucket"), col("min_row").as("vec_id"))
    def ranks(df: org.apache.spark.sql.DataFrame) = df.select("bucket", "vec_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ranks(Matching.blockRanked(byId, parts = 8, key = "bucket", order = "vec_id")) ==
      ranks(byId.withColumn("rnk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy("vec_id")))))
  }

  test("sortedNeighborhoodPairs is rank-path-independent") {
    import spark.implicits._
    // similar names so the window actually emits qualifying pairs
    val names = (1 to 600).map(i => (i.toLong, f"Supplier#$i%09d"))
    val derived = Normalize.withDerived(names.toDF("id", "name"), "name", "id")
    val stats = Matching.nameStats(derived).localCheckpoint(true)
    def pairsVia(f: => org.apache.spark.sql.DataFrame): Set[(String, String)] =
      f.select("a_name", "b_name").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val viaWindow = pairsVia(Matching.sortedNeighborhoodPairs(stats, window = 5))
    assert(viaWindow.nonEmpty)
    // force the distributed ranking: the same neighborhood join and
    // predicate over blockRanked's ranks
    val viaDistributed = pairsVia(Matching.rankedNeighborhoodPairs(
      Matching.blockRanked(stats, parts = 8), window = 5, DedupSettings()))
    assert(viaDistributed == viaWindow)
  }
}
