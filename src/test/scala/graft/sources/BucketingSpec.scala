package graft.sources

import graft.dedup.SparkTest
import org.scalatest.funsuite.AnyFunSuite

/** Plan-level proof of the bucketing claim: equi-joining two tables
  * bucketed on the join key runs as a sort-merge join with NO
  * exchange on either side (data is co-located at write time). */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("bucketed join has no shuffle exchange") {
    import spark.implicits._
    val db = "graft_bucket_test"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force a merge join so the missing Exchange is attributable to
    // bucketing, not to a broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val dir = java.nio.file.Files.createTempDirectory("bucketing")
    try {
      val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
      Bucketed.write(a, s"$db.ta", s"$dir/ta", 4, Seq("k"))
      Bucketed.write(b, s"$db.tb", s"$dir/tb", 4, Seq("k"))
      val joined = spark.table(s"$db.ta").join(spark.table(s"$db.tb"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(1500))
      assert(joined.count() == 1000)

      // control: the same join from unbucketed data DOES shuffle
      val control = a.join(b, "k")
      assert(control.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
