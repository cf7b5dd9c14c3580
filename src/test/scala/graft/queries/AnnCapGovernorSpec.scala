package graft.queries

import graft.dedup.SparkTest
import graft.ext.Ann
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hot-bucket sorted-neighborhood cap on the ANN pair join
  * (VERDICT r14 item 1). The declared testdata never exceeds the
  * production cap at sf ≤ 0.1 (the cap is an outlier governor, not a
  * steady-state filter), so this spec drives
  * [[Ann.saltedCosinePairs]] directly with a small cap to pin the
  * divergent regime's semantics:
  *
  *  - capped pairs are a strict SUBSET of uncapped pairs (the cap can
  *    only drop candidates, never invent them);
  *  - over-cap buckets pair rank-adjacently: ≤ window−1 forward pairs
  *    per member, all within `window` vec_id ranks;
  *  - a θ-clique family in a hot bucket — the workload the cap exists
  *    for — stays CHAIN-CONNECTED, so connected components recover
  *    the identical clusters from O(n·window) edges;
  *  - when no bucket exceeds the cap, the governed join is
  *    bit-identical to the uncapped join (the cap is a no-op, which
  *    is why the sf0.01 oracle rows of the governed defaults equal
  *    the uncapped audits').
  */
class AnnCapGovernorSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  /** Near-identical unit vectors (a θ-clique under any reasonable
    * threshold): base direction plus a tiny per-id second component,
    * renormalized. Distinct ids, distinct cosines, all ≥ 0.99. */
  private def clique(bucket: Long, ids: Range) = {
    import spark.implicits._
    ids.map { i =>
      val eps = 1e-4 * (i % 17)
      val nrm = math.sqrt(1.0 + eps * eps)
      val u = Seq(1.0 / nrm, eps / nrm) ++ Seq.fill(6)(0.0)
      (bucket, i.toLong, u)
    }.toDF("bucket", "vec_id", "u")
  }

  /** Spread vectors (pairwise cosine well under θ). */
  private def spread(bucket: Long, ids: Range) = {
    import spark.implicits._
    ids.map { i =>
      val u = (0 until 8).map(d => if (d == i % 8) 1.0 else 0.0)
      (bucket, i.toLong, u)
    }.toDF("bucket", "vec_id", "u")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("capped pairs are a strict subset; hot buckets pair rank-adjacently") {
    // bucket 0: 40-member clique (hot under cap=16); bucket 1: 10
    // members (small → full triangular, untouched by the governor)
    val rows = clique(0L, 0 until 40).unionByName(clique(1L, 100 until 110))
    val uncapped = pairSet(Ann.saltedCosinePairs(rows, minCos = 0.5))
    val capped = pairSet(
      Ann.saltedCosinePairs(rows, minCos = 0.5, bucketCap = Some(16), window = 8))
    assert(capped.nonEmpty && capped.subsetOf(uncapped))
    assert(capped.size < uncapped.size)
    // a hot-member count past the rank threshold ranks the hot bucket
    // through the distributed two-pass rank: the same pairs
    assert(pairSet(Ann.saltedCosinePairs(rows, minCos = 0.5, bucketCap = Some(16),
      window = 8, hotMembers = Long.MaxValue)) == capped)
    // the small bucket's pairs survive in full: C(10,2) = 45
    val smallPairs = capped.filter(_._1 >= 100L)
    assert(smallPairs.size == 45)
    // the hot bucket: ids are contiguous so rank order = id order —
    // every pair spans < window ids, ≤ window−1 forward pairs each
    val hotPairs = capped.filter(_._1 < 100L)
    assert(hotPairs.forall { case (a, b) => b - a < 8 })
    assert(hotPairs.groupBy(_._1).values.map(_.size).max <= 7)
    assert(hotPairs.size == uncapped.count { case (a, b) => a < 100L && b - a < 8 })
  }

  test("a θ-clique family in a hot bucket keeps identical connected components") {
    val rows = clique(7L, 0 until 60)
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      graft.dedup.Cluster.connectedComponents(
        pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = comps(Ann.saltedCosinePairs(rows, minCos = 0.5))
    val governed = comps(
      Ann.saltedCosinePairs(rows, minCos = 0.5, bucketCap = Some(16), window = 8))
    assert(full.nonEmpty)
    assert(governed == full,
      "rank-adjacent chains must merge the family into the same single component")
  }

  test("the cap is a bit-exact no-op when no bucket exceeds it") {
    val rows = clique(0L, 0 until 12).unionByName(spread(1L, 20 until 30))
    val uncapped = Ann.saltedCosinePairs(rows, minCos = 0.3)
      .orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
    val capped = Ann.saltedCosinePairs(rows, minCos = 0.3,
        bucketCap = Some(16), window = 8)
      .orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
    assert(capped == uncapped)
  }

  test("production constants: cap = 2× the governed bucket target") {
    assert(AnnQueries.AnnBucketCap == 64)
    assert(AnnQueries.AnnNeighborWindow == 8)
  }

  test("a capped join refuses window < 2 (descending rank range would emit self-pairs)") {
    val rows = clique(0L, 0 until 12)
    val e = intercept[IllegalArgumentException] {
      Ann.saltedCosinePairs(rows, minCos = 0.3, bucketCap = Some(4), window = 1)
    }
    assert(e.getMessage.contains("window"))
    // and the uncapped path never reads the parameter, so it stays legal
    Ann.saltedCosinePairs(rows, minCos = 0.3, window = 1).count(): Unit
  }
}
