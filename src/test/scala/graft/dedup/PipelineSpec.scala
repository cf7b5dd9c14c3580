package graft.dedup

import graft.functions.JaroWinklerAlgo
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden test: the reference's 8-row fixture
  * (/root/repo/FIXTURES.md §1, engine_test.py:33-47) through the full
  * pipeline, with our deterministic re-specs (cluster_id =
  * min(row_order): 0 and 2 instead of the union-find artifacts 1/3;
  * offline — no web-verified reason suffixes). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  private lazy val fullDf = {
    import spark.implicits._
    val input = Seq(
      (0L, "IBM India Pvt Ltd"),
      (1L, "IBM"),
      (2L, "TCS"),
      (3L, "Tata Consultancy Services Limited"),
      (4L, "Google LLC"),
      (5L, "Alphabet Inc"),
      (6L, "Microsoft"),
      (7L, "Ltd")).toDF("id", "company_name")
    Pipeline.run(input, "company_name", "id").cache()
  }

  private lazy val full = Outputs.clusters(fullDf).collect()

  test("golden clusters sheet") {
    val expected = Seq(
      Row(0L, "IBM India Pvt Ltd", "IBM INDIA PVT LTD", "IBM", 0L, 2L, "IBM",
        0.98, "token-sorted match AND ratio >= 0.90"),
      Row(1L, "IBM", "IBM", "IBM", 0L, 2L, "IBM", 0.70, "Isolated or weak match"),
      Row(2L, "TCS", "TCS", "TATA CONSULTANCY SERVICES", 2L, 2L,
        "TATA CONSULTANCY SERVICES", 0.98, "token-sorted match AND ratio >= 0.90"),
      Row(3L, "Tata Consultancy Services Limited", "TATA CONSULTANCY SERVICES LIMITED",
        "TATA CONSULTANCY SERVICES", 2L, 2L, "TATA CONSULTANCY SERVICES", 0.70,
        "Isolated or weak match"),
      Row(4L, "Google LLC", "GOOGLE LLC", "GOOGLE", 4L, 1L, "GOOGLE", 0.70,
        "Isolated or weak match"),
      Row(5L, "Alphabet Inc", "ALPHABET INC", "ALPHABET", 5L, 1L, "ALPHABET", 0.70,
        "Isolated or weak match"),
      Row(6L, "Microsoft", "MICROSOFT", "MICROSOFT", 6L, 1L, "MICROSOFT", 0.70,
        "Isolated or weak match"),
      Row(7L, "Ltd", "LTD", "", 7L, 1L, "LTD", 0.50,
        "No base name after cleaning; kept as singleton"))
    assert(full.toSeq == expected)
  }

  test("typed Dataset facade carries the contract") {
    import spark.implicits._
    val recs = Pipeline.runTyped(
      Seq((0L, "IBM"), (1L, "IBM")).toDF("id", "n"), "n", "id")
      .collect().sortBy(_.row_order)
    assert(recs.map(_.canonical_name).toSeq == Seq("IBM", "IBM"))
    assert(recs.map(_.cluster_size).toSeq == Seq(2L, 2L))
    assert(recs(0).confidence == 0.98 && recs(1).confidence == 0.70)
  }

  test("stats match the reference fixture") {
    val s = Outputs.stats(fullDf).collect()(0)
    assert(s.getLong(0) == 8) // total_rows
    assert(s.getLong(1) == 6) // total_clusters
    assert(s.getLong(2) == 4) // rows in multi-record clusters
    assert(s.getLong(3) == 2) // review rows
  }

  test("summary and review match the reference fixture") {
    val summary = Outputs.summary(fullDf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(summary == Seq(
      (0L, "IBM", 2L), (2L, "TATA CONSULTANCY SERVICES", 2L), (4L, "GOOGLE", 1L),
      (5L, "ALPHABET", 1L), (6L, "MICROSOFT", 1L), (7L, "LTD", 1L)))
    val review = Outputs.review(fullDf).collect().map(_.getLong(0)).toSeq
    assert(review == Seq(0L, 2L))
  }

  /** 60 rows engineered for near-dup structure: shared stems with
    * typos (soft/hard matches), duplicated rows, empty names, and
    * multi-block spread. */
  private lazy val nearDupRows = {
    import spark.implicits._
    val stems = Seq("GLOBEX CORP", "GLOBEX CORPS", "INITECH LTD", "INITECH INC",
      "ACME WIDGETS", "ACME WIDGET", "UMBRELLA PHARMA", "UMBRELA PHARMA",
      "STARK INDUSTRIES", "STARK INDUSTRIE", "WAYNE ENTERPRISES", "")
    (0 until 60).map { i =>
      (i.toLong, stems(i % stems.length) + (if (i % 5 == 0) "" else s" ${i % 3}"))
    }.toDF("id", "nm")
  }

  test("driver fast path and distributed path agree bit-for-bit") {
    val df = nearDupRows
    val fast = Pipeline.run(df, "nm", "id").orderBy("row_order").collect()
    val dist = Pipeline.run(df, "nm", "id",
      DedupSettings(driverFastPathNames = 0L)).orderBy("row_order").collect()
    assert(fast.length == 60 && fast.toSeq == dist.toSeq)
  }

  /** `body`'s result and whether any query it ran planned an aggregate
    * grouped by `block_key` alone — the shape of the stage-sizing and
    * governor aggregates over a name index. Query-execution listeners
    * are called asynchronously, so this waits (up to 30 s) for a marker
    * query's callback, which comes after every earlier query's. */
  private def withBlockKeyAggregates[T](body: => T): (T, Boolean) = {
    val seen = new java.util.concurrent.atomic.AtomicBoolean
    val done = new java.util.concurrent.atomic.AtomicLong
    def blockKeyOnly(qe: QueryExecution): Boolean = qe.optimizedPlan.exists {
      case a: Aggregate => a.groupingExpressions.map {
        case r: AttributeReference => r.name
        case other => other.sql
      } == Seq("block_key")
      case _ => false
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (blockKeyOnly(qe)) seen.set(true)
        done.incrementAndGet()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        done.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      val before = done.get
      spark.range(1).collect()
      val deadline = System.nanoTime + 30000000000L
      while (done.get <= before && System.nanoTime < deadline) Thread.sleep(20)
      (result, seen.get)
    } finally spark.listenerManager.unregister(listener)
  }

  test("at the driver gate's boundary: same rows and sizing, and no sizing query below it") {
    val df = nearDupRows
    val n = Matching.nameStats(Normalize.withDerived(df, "nm", "id")).count()
    def run(gate: Long) = withBlockKeyAggregates {
      val rows = Pipeline.run(df, "nm", "id", DedupSettings(driverFastPathNames = gate))
        .orderBy("row_order").collect().toSeq
      (rows, Matching.lastStageStats.get)
    }
    val ((atGate, atStage), atGateAggregates) = run(n)
    val ((below, belowStage), belowAggregates) = run(n - 1)
    assert(atGate.length == 60 && atGate == below)
    assert(atStage.regime == "driver-fast-path" && belowStage.regime == "distributed")
    // the driver fold over the collected index and the aggregate agree
    assert(atStage.sizing == belowStage.sizing && atStage.sizing.names == n, atStage)
    // the fast path sized the index from its rows; above the gate the
    // sizing aggregate ran (which also shows the listener sees it)
    assert(!atGateAggregates)
    assert(belowAggregates)
  }

  /** The Appendix A row rules computed directly on rows, independently
    * of the name-level plan: union-find over qualifying name pairs
    * (the same Jaro-Winkler doubles, predicate and confidence ladder),
    * per row the highest candidate confidence with a strictly larger
    * partner row_order, and the vote/length/name election run on the
    * cluster's rows. Input: (row_order, original_name, normalized_name,
    * base_name, block_key) rows with unique row_order. */
  private def modelRows(derived: Seq[(Long, String, String, String, String)],
      settings: DedupSettings): Seq[Row] = {
    def utf8(s: String) = UTF8String.fromString(s)
    def byteOrder(a: String, b: String) = utf8(a).compareTo(utf8(b)) < 0
    val blockOf = derived.map(r => r._4 -> r._5).toMap
    val names = derived.map(_._4).filter(_.nonEmpty).distinct.sortWith(byteOrder)
    def tokenKey(n: String) = n.split(" ").sortWith(byteOrder).mkString

    val parent = scala.collection.mutable.Map(names.map(n => n -> n): _*)
    def find(n: String): String = if (parent(n) == n) n else find(parent(n))
    val pairConf = scala.collection.mutable.Map.empty[(String, String), Double]
    for (i <- names.indices; j <- i + 1 until names.length
        if blockOf(names(i)) == blockOf(names(j))) {
      val (a, b) = (names(i), names(j))
      val ratio = JaroWinklerAlgo.similarity(utf8(a), utf8(b))
      val tok = tokenKey(a) == tokenKey(b)
      if ((tok && ratio >= settings.softThreshold) || ratio >= settings.hardThreshold) {
        val conf =
          if (tok && ratio >= 0.90) Rules.ConfTokenAndRatio
          else if (ratio >= 0.90) Rules.ConfHardRatio
          else if (ratio >= 0.85) Rules.ConfSoftRatio
          else Rules.ConfDefault
        pairConf((a, b)) = conf
        pairConf((b, a)) = conf
        parent(find(a)) = find(b)
      }
    }

    val reasons = Map(Rules.ConfTokenAndRatio -> Rules.ReasonTokenAndRatio,
      Rules.ConfHardRatio -> Rules.ReasonHardRatio, Rules.ConfSoftRatio -> Rules.ReasonSoftRatio,
      Rules.ConfDefault -> Rules.ReasonDefault, Rules.ConfEmptyBase -> Rules.ReasonEmptyBase)
    derived.sortBy(_._1).map { case (row, original, normalized, base, block) =>
      if (base.isEmpty)
        Row(row, original, normalized, base, block, row, 1L, normalized,
          Rules.ConfEmptyBase, Rules.ReasonEmptyBase)
      else {
        val members = derived.filter(r => r._4.nonEmpty && find(r._4) == find(base))
        val votes = members.groupBy(_._4).map { case (n, rs) => n -> rs.length }
        val elected = votes.keys.toSeq.sortWith { (a, b) =>
          val (la, lb) = (a.codePointCount(0, a.length), b.codePointCount(0, b.length))
          if (votes(a) != votes(b)) votes(a) > votes(b)
          else if (la != lb) la < lb
          else byteOrder(a, b)
        }.head
        val conf = (Rules.ConfDefault +: derived.collect {
          case (partner, _, _, other, _) if partner > row && other == base =>
            Rules.ConfTokenAndRatio
          case (partner, _, _, other, _) if partner > row && pairConf.contains((base, other)) =>
            pairConf((base, other))
        }).max
        Row(row, original, normalized, base, block, members.map(_._1).min,
          members.length.toLong, elected, conf, reasons(conf))
      }
    }
  }

  test("every regime equals a row-level model of the Appendix A rules") {
    import spark.implicits._
    val fixed = Seq(
      "Quorra CorpX", "Quorra CorpY",                 // election tie: votes and length
      "Zenith Motors Ltd", "Zenith Motors", "Zenith Motor", // votes beat length
      "Globalstar Tours \uD835\uDC00", "Globalstar Tours XY", // code points, not UTF-16 units
      "Northwind \uD835\uDC00\uFF21", "Northwind \uFF21\uD835\uDC00", // UTF-8, not UTF-16 order
      null, "", "Ltd", "!!!", "Pvt Ltd")            // empty base names
    val rnd = new scala.util.Random(11)
    val tokens = Seq("ACME", "ACMEE", "GLOBEX", "GLOBEXX", "INITECH", "INITEK", "HOOLI",
      "HOOLIE", "SYSTEMS", "SYSTEM", "TRADING", "TRADERS", "LTD", "INDIA")
    val random = (0 until 60).map(_ =>
      (0 until 1 + rnd.nextInt(3)).map(_ => tokens(rnd.nextInt(tokens.size))).mkString(" "))
    val names = fixed ++ random
    val ids = rnd.shuffle((0 until names.length).map(_ * 3L + 5L))
    val df = ids.zip(names).toDF("id", "name")

    val derived = Normalize.withDerived(df, "name", "id")
      .select("row_order", "original_name", "normalized_name", "base_name", "block_key")
      .as[(Long, String, String, String, String)].collect().toSeq
    val clusterCounts = for (thresholds <- Seq(DedupSettings(),
        DedupSettings(hardThreshold = 0.80, softThreshold = 0.75))) yield {
      val expected = modelRows(derived, thresholds)
      for ((regime, settings) <- Seq(
          "driver fast path" -> thresholds,
          "distributed" -> thresholds.copy(driverFastPathNames = 0L))) {
        val got = Pipeline.run(df, "name", "id", settings).orderBy("row_order").collect().toSeq
        assert(got == expected, s"$regime at ${thresholds.hardThreshold}/${thresholds.softThreshold}")
      }
      def canonical(name: String) =
        expected.find(_.getString(1) == name).get.getString(7)
      assert(canonical("Quorra CorpY") == "QUORRA CORPX")
      assert(canonical("Zenith Motor") == "ZENITH MOTORS")
      assert(canonical("Globalstar Tours XY") == "GLOBALSTAR TOURS \uD835\uDC00")
      assert(canonical("Northwind \uD835\uDC00\uFF21") == "NORTHWIND \uFF21\uD835\uDC00")
      expected.map(_.getLong(5)).distinct.size
    }
    // the lowered thresholds merge clusters the defaults keep apart
    assert(clusterCounts(1) < clusterCounts(0), clusterCounts)
  }
}
