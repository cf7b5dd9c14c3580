package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MatchingSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  /** Random name table with collisions and multi-block structure. */
  private lazy val stats = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val names = (1 to 300).map { i =>
      val base = Seq("ACME", "ACMA", "ACNE", "BOLT", "BELT", "BOLD", "CORP X", "CORP Y")(rnd.nextInt(8))
      val suffix = if (rnd.nextBoolean()) s" ${rnd.nextInt(10)}" else ""
      (i.toLong, base + suffix)
    }
    val derived = Normalize.withDerived(names.toDF("id", "name"), "name", "id")
    Matching.nameStats(derived).cache()
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, Double)] =
    df.select("a_name", "b_name", "ratio").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

  test("salted pair join is exactly the plain self-join, any salt") {
    import spark.implicits._
    // plain reference: unsalted equi-join with a<b residual
    val a = stats.select(col("block_key"), col("base_name").as("a_name"),
      col("token_key").as("a_tk"))
    val b = stats.select(col("block_key"), col("base_name").as("b_name"),
      col("token_key").as("b_tk"))
    val plain = a.join(b, Seq("block_key")).where(col("a_name") < col("b_name"))
      .withColumn("ratio", graft.functions.functions.jaro_winkler(col("a_name"), col("b_name")))
      .withColumn("token_match", col("a_tk") === col("b_tk"))
      .where((col("token_match") && col("ratio") >= 0.85) || col("ratio") >= 0.90)
    val expected = pairSet(plain)
    assert(expected.nonEmpty)
    // the ANN caller of the same salted join: cosine pairs within a
    // bucket against the brute-force same-bucket cosine set
    import graft.ext.Ann
    val rnd = new scala.util.Random(11)
    val vecs = Ann.prepared((0L until 90L).map { i =>
      (i, Array.tabulate(4)(_ => rnd.nextFloat()))
    }.toDF("vec_id", "embedding")).withColumn("bucket", col("vec_id") % 3).cache()
    val bruteForce = vecs.as("a").join(vecs.as("b"),
      col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .where(Ann.cosine(col("a.u"), col("b.u")) >= 0.9)
      .select(col("a.vec_id"), col("b.vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bruteForce.nonEmpty)
    for (salt <- Seq(1, 2, 7, 96)) {
      assert(pairSet(Matching.qualifyingPairs(stats, salt = salt)) == expected,
        s"salt=$salt")
      val ann = Ann.saltedCosinePairs(vecs, minCos = 0.9, salt = salt)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(ann.length == ann.toSet.size && ann.toSet == bruteForce, s"ANN salt=$salt")
    }
  }

  test("bucket histogram equals a driver fold of the same keys under every cap policy") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1 to 400).map(_ => (rnd.nextInt(3), rnd.nextInt(40) % (1 + rnd.nextInt(12))))
    val sizes = rows.groupMapReduce(identity)(_ => 1L)(_ + _).values
    val cap = sizes.max - 3
    val df = rows.toDF("band", "val")
    for ((policy, hotPairs) <- Seq("no cap" -> -1L, "drop" -> 0L, "neighborhood" -> 7L)) {
      val c = if (hotPairs < 0) Long.MaxValue else cap
      val got = Matching.BucketHistogram.of(
        Matching.bucketHistogram(df, Seq("band", "val"), c, hotPairs max 0L).head())
      val hot = sizes.filter(_ > c)
      val expected = Matching.BucketHistogram(sizes.sum, sizes.max,
        sizes.map(n => n * (n - 1) / 2).sum,
        sizes.map(n => if (n > c) n * (hotPairs max 0L) else n * (n - 1) / 2).sum,
        hot.sum, sizes.size.toLong, hot.size.toLong)
      assert(got == expected, policy)
      assert((hotPairs < 0) == hot.isEmpty, policy)
      // the driver fold over the same keys gives the same row
      assert(Matching.BucketHistogram.ofBlocks(rows, c, hotPairs max 0L) == got, policy)
    }
    val empty = Matching.BucketHistogram(0, 0, 0, 0, 0, 0, 0)
    assert(Matching.BucketHistogram.of(Matching.bucketHistogram(
      df.limit(0), Seq("band", "val")).head()) == empty)
    assert(Matching.BucketHistogram.ofBlocks(Nil) == empty)
  }

  test("cost governor: drop policy excludes over-cap blocks, keeps the rest intact") {
    val full = pairSet(Matching.qualifyingPairs(stats,
      DedupSettings(maxBlockNames = None)))
    val blockSizes = stats.groupBy("block_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cap = blockSizes.values.max - 1
    val capped = Matching.qualifyingPairs(stats,
      DedupSettings(maxBlockNames = Some(cap), hotBlockWindow = 0))
    assert(pairSet(capped).subsetOf(full))
    assert(pairSet(capped).size < full.size)
    // no pair from an over-cap block survives
    val bigBlocks = blockSizes.filter(_._2 > cap).keySet
    val cappedBlocks = capped.select("block_key").distinct().collect()
      .map(_.getString(0)).toSet
    assert(cappedBlocks.intersect(bigBlocks).isEmpty)
  }

  test("cost governor default: over-cap blocks switch to sorted-neighborhood") {
    val blockSizes = stats.groupBy("block_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cap = blockSizes.values.max - 1
    val bigBlocks = blockSizes.filter(_._2 > cap).keySet
    val governed = pairSet(Matching.qualifyingPairs(stats,
      DedupSettings(maxBlockNames = Some(cap), hotBlockWindow = 10)))
    // expected = full pairing on under-cap blocks + SNP(10) on the rest
    val isHot = col("block_key").isin(bigBlocks.toSeq: _*)
    val expected =
      pairSet(Matching.qualifyingPairs(stats.filter(!isHot),
        DedupSettings(maxBlockNames = None))) ++
        pairSet(Matching.sortedNeighborhoodPairs(stats.filter(isHot), 10))
    assert(governed == expected)
    assert(governed.nonEmpty)
  }

  test("sorted-neighborhood pairs are a subset of full pairs and adjacent-complete") {
    val full = pairSet(Matching.qualifyingPairs(stats))
    val sn = pairSet(Matching.sortedNeighborhoodPairs(stats, window = 3))
    assert(sn.nonEmpty && sn.subsetOf(full))
    // window = max block size  ⇒  identical to full pairing
    val maxBlock = stats.groupBy("block_key").count().agg(max("count")).collect()(0).getLong(0)
    val snAll = pairSet(Matching.sortedNeighborhoodPairs(stats, window = maxBlock.toInt + 1))
    assert(snAll == full)
  }

  test("pair profile equals the aggregate of the qualifying pairs under every governor policy") {
    val cap = stats.groupBy("block_key").count().agg(max("count")).head().getLong(0) - 1
    val policies = Seq(
      "no cap" -> DedupSettings(maxBlockNames = None),
      "drop" -> DedupSettings(maxBlockNames = Some(cap), hotBlockWindow = 1),
      "sorted-neighborhood" -> DedupSettings(maxBlockNames = Some(cap), hotBlockWindow = 10))
    for ((policy, settings) <- policies) {
      val profile = Matching.pairProfile(stats, settings).head()
      val expected = Matching.qualifyingPairsPrepared(stats, settings)
        .agg(count(lit(1)), sum(col("token_match").cast("long")),
          round(avg(col("ratio")), 6))
        .head()
      assert(expected.getLong(0) > 0, policy)
      assert(profile.getAs[Long]("n_pairs") == expected.getLong(0), policy)
      assert(profile.getAs[Long]("n_token_matches") == expected.getLong(1), policy)
      assert(profile.getAs[Double]("avg_ratio") == expected.getDouble(2), policy)
    }
  }
}
