package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge inputs through the full pipeline + randomized properties of
  * the normalization chain. */
class RobustnessSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("nulls, empties, whitespace, unicode survive the pipeline") {
    import spark.implicits._
    val input = Seq(
      (0L, null.asInstanceOf[String]),
      (1L, ""),
      (2L, "   "),
      (3L, "!!!"),
      (4L, "Ltd"),                 // suffix-only -> empty base
      (5L, "Café München GmbH"),   // unicode word chars survive (?U)
      (6L, "NORMAL NAME"))
      .toDF("id", "name")
    val full = Pipeline.run(input, "name", "id")
      .orderBy("row_order").collect()

    assert(full.length == 7)
    // null/empty/whitespace/punct-only/suffix-only all become empty
    // base -> singleton, confidence 0.50 (engine.py:270-273)
    for (i <- 0 to 4) {
      assert(full(i).getAs[String]("base_name") == "", s"row $i")
      assert(full(i).getAs[Double]("confidence") == 0.50)
      assert(full(i).getAs[Long]("cluster_size") == 1L)
      assert(full(i).getAs[Long]("cluster_id") == i.toLong)
    }
    // canonical of an empty-base singleton = its normalized name
    assert(full(4).getAs[String]("canonical_name") == "LTD")
    // unicode letters are word chars: kept, uppercased, GMBH stripped
    assert(full(5).getAs[String]("base_name") == "CAFÉ MÜNCHEN")
    assert(full(6).getAs[String]("base_name") == "NORMAL NAME")

    // a repeated key keeps both rows: one output row per input row
    val repeated = Pipeline.run(
      Seq((1L, "Acme Ltd"), (1L, "Acme Ltd"), (2L, "Acme"), (3L, "Beta")).toDF("id", "name"),
      "name", "id").orderBy("row_order").collect()
    assert(repeated.length == 4)
    assert(repeated.map(r => (r.getAs[Long]("row_order"), r.getAs[Long]("cluster_id"),
      r.getAs[Long]("cluster_size"))).toSeq == Seq((1L, 1L, 3L), (1L, 1L, 3L), (2L, 1L, 3L),
      (3L, 3L, 1L)))
  }

  test("normalize is idempotent and base_name is suffix-free (randomized)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val tokens = Seq("ACME", "global", "Störe", "ltd", "Pvt", "Ltd", "&", "co",
      "India", "9", "x-y", "a/b", ".", ",", "!!", "Limited", "private")
    val names = (1 to 400).map { i =>
      (i.toLong, (0 until rnd.nextInt(6)).map(_ => tokens(rnd.nextInt(tokens.size))).mkString(" "))
    }
    val df = names.toDF("id", "name")
      .withColumn("norm", Normalize.normalizeName(col("name")))
      .withColumn("norm2", Normalize.normalizeName(col("norm")))
      .withColumn("stripped", Normalize.stripSuffixes(col("norm")))
      .withColumn("stripped2", Normalize.stripSuffixes(col("stripped")))
      .withColumn("folded", Normalize.foldSubsidiaries(col("stripped")))
      .withColumn("folded2", Normalize.foldSubsidiaries(col("folded")))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getAs[String]("norm") == r.getAs[String]("norm2"),
        s"normalize not idempotent on '${r.getAs[String]("name")}'")
      // each strip stage individually reaches its own fixpoint (the
      // F5 COMPOSITION is deliberately not idempotent: countries fold
      // after suffixes and are never re-interleaved, so "X LTD INDIA"
      // -> "X LTD" keeps its suffix — reference semantics,
      // engine.py:185-192, SURVEY.md Appendix A.8)
      assert(r.getAs[String]("stripped") == r.getAs[String]("stripped2"),
        s"stripSuffixes not a fixpoint on '${r.getAs[String]("name")}'")
      assert(r.getAs[String]("folded") == r.getAs[String]("folded2"),
        s"foldSubsidiaries not a fixpoint on '${r.getAs[String]("name")}'")
    }
  }

  test("driver fast path == distributed pipeline on random corpora (3 seeds)") {
    import spark.implicits._
    val tokens = Seq("ACME", "GLOBAL", "WIDGET", "WIDGETS", "INITECH",
      "INITEC", "UMBRELLA", "UMBRELA", "SYSTEMS", "SISTEMS", "LTD",
      "PVT LTD", "INC", "INDIA", "&", "9")
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      val names = (0 until 150).map { i =>
        (i.toLong,
          (0 until (1 + rnd.nextInt(4)))
            .map(_ => tokens(rnd.nextInt(tokens.size))).mkString(" "))
      }
      val df = names.toDF("id", "name")
      val fast = Pipeline.run(df, "name", "id").orderBy("row_order").collect()
      val dist = Pipeline.run(df, "name", "id",
        DedupSettings(driverFastPathNames = 0L)).orderBy("row_order").collect()
      assert(fast.toSeq == dist.toSeq, s"paths diverge for seed $seed")
    }
  }

  test("driver fast path == distributed pipeline above 4,096 names; the stage record explains the regime") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def word(syllables: Int): String = (0 until syllables).map(_ =>
      s"${"BDFGKLMNPRSTVZ".charAt(rnd.nextInt(14))}${"AEIOU".charAt(rnd.nextInt(5))}").mkString
    // 700 first tokens × 7 second tokens: ~4.9k distinct base names;
    // every 5th name also appears once more verbatim and once with its
    // last two letters swapped (self and cross candidates), so blocks
    // hold ≤ 9 names — plus one 12-name block
    val heads = Iterator.continually(word(3)).distinct.take(700).toSeq
    val names = heads.flatMap(h => (0 until 7).map(_ => s"$h ${word(3)}"))
    val variants = names.indices.filter(_ % 5 == 0).flatMap { i =>
      val n = names(i)
      Seq(n, n.dropRight(2) + n.takeRight(1) + n.takeRight(2).head)
    }
    val big = Iterator.continually(word(3)).distinct.take(12).map(w => s"BIGBLOCK $w").toSeq
    val df = (names ++ variants ++ big).zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "name")

    def run(settings: DedupSettings) = {
      val rows = Pipeline.run(df, "name", "id", settings).orderBy("row_order").collect()
      (rows.toSeq, Matching.lastStageStats.get)
    }
    val (fast, fastStage) = run(DedupSettings())
    val (dist, distStage) = run(DedupSettings(driverFastPathNames = 0L))
    assert(fast == dist, "driver fast path diverges from the materialize regime")
    assert(fastStage.regime == "driver-fast-path")
    assert(distStage.regime == "materialize")

    // the recorded sizing is the index's own: names, Σ C(b,2), max block
    val blocks = Matching.nameStats(Normalize.withDerived(df, "name", "id"))
      .groupBy("block_key").count().collect().map(_.getLong(1))
    val expected = Matching.StageSizing(blocks.sum, blocks.map(b => b * (b - 1) / 2).sum, blocks.max)
    assert(expected.names > 4096L && expected.maxBlockNames == 12L, expected)
    assert(fastStage.sizing == expected && distStage.sizing == expected)

    // a block over the governor cap keeps the index off the driver
    val (_, cappedStage) = run(DedupSettings(maxBlockNames = Some(10L)))
    assert(cappedStage.regime == "materialize", cappedStage)
    assert(cappedStage.sizing == expected)
  }
}
