package graft

import graft.dedup.SparkTest
import org.scalatest.funsuite.AnyFunSuite

/** The engine's SQL surface: registered graft functions + temp views
  * let a SQL-only user run the matching stage with spark.sql. */
class SqlApiSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("blocking + matching expressed in pure SQL") {
    import spark.implicits._
    Graft.install(spark)
    Seq("IBM", "IBM INDIA", "MICROSOFT", "MICROSUFT", "ACME CORP")
      .toDF("base_name").createOrReplaceTempView("names")
    val out = spark.sql(
      """SELECT a.base_name AS a_name, b.base_name AS b_name,
        |       round(jaro_winkler(a.base_name, b.base_name), 4) AS ratio
        |FROM names a JOIN names b ON a.base_name < b.base_name
        |WHERE jaro_winkler(a.base_name, b.base_name) >= 0.90
        |ORDER BY a_name, b_name""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("MICROSOFT", "MICROSUFT", 0.9556)))

    val dp = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(1.0d, 1.0d, 1.0d))")
      .collect()(0).getDouble(0)
    assert(dp == 6.0)

    assert(spark.sql("SELECT unicode_norm('café', 'strip_accents')")
      .collect()(0).getString(0) == "cafe")
    assert(spark.sql(
      "SELECT top_k_by(id, s, 1)[0].id FROM VALUES (1L, 1.0d), (2L, 9.0d) AS t(id, s)")
      .collect()(0).getLong(0) == 2L)
  }

  test("GraftExtensions (the spark.sql.extensions class) registers the full function set") {
    val base = spark // force-create the shared context first
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      // same class a cluster user names in --conf spark.sql.extensions;
      // withExtensions() because that static conf is fixed at
      // SparkContext creation and tests share one context
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        """SELECT round(jaro_winkler('MICROSOFT', 'MICROSUFT'), 4) AS jw,
          |       unicode_norm('café', 'strip_accents') AS u,
          |       dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp""".stripMargin)
        .collect()(0)
      assert(r.getDouble(0) == 0.9556 && r.getString(1) == "cafe" &&
        r.getDouble(2) == 11.0)
      val k = s2.sql(
        "SELECT top_k_by(id, s, 1)[0].id FROM VALUES (1L, 1.0d), (2L, 9.0d) AS t(id, s)")
        .collect()(0).getLong(0)
      assert(k == 2L)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("custom aggregate via SQL: top_k_by") {
    import spark.implicits._
    Graft.install(spark)
    Seq((1L, 10L, 5.0), (1L, 11L, 9.0), (1L, 12L, 7.0), (2L, 20L, 1.0))
      .toDF("grp", "id", "score").createOrReplaceTempView("scores")
    val rows = spark.sql(
      """SELECT grp, t.rk, t.id FROM (
        |  SELECT grp, top_k_by(id, score, 2) AS top FROM scores GROUP BY grp
        |) LATERAL VIEW explode(top) AS t
        |ORDER BY grp, t.rk""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 1L, 11L), (1L, 2L, 12L), (2L, 1L, 20L)))
  }
}
