package graft.core

import graft.dedup.SparkTest
import org.scalatest.funsuite.AnyFunSuite

class MemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("two sessions never cross-hit the same key") {
    import spark.implicits._
    val s2 = spark.newSession()
    val a = Memo.cached(spark, "memo-spec-x") { Seq(1).toDF("v") }
    val b = Memo.cached(s2, "memo-spec-x") {
      import s2.implicits._
      Seq(2).toDF("v")
    }
    assert(a.head().getInt(0) === 1)
    assert(b.head().getInt(0) === 2) // not spark's cached build
    Memo.invalidate(spark)
    Memo.invalidate(s2)
  }

  test("invalidate releases only the target session's entries") {
    import spark.implicits._
    val s2 = spark.newSession()
    val before = Memo.size
    Memo.cached(spark, "memo-spec-y") { Seq(1).toDF("v") }
    Memo.cached(s2, "memo-spec-y") {
      import s2.implicits._
      Seq(2).toDF("v")
    }
    assert(Memo.size === before + 2)
    Memo.invalidate(spark)
    assert(Memo.size === before + 1)
    // the surviving entry still answers from s2
    assert(Memo.cached(s2, "memo-spec-y") {
      fail("should have been cached")
    }.head().getInt(0) === 2)
    Memo.invalidate(s2)
    assert(Memo.size === before)
  }

  test("same session + key returns the memoized frame, not a rebuild") {
    import spark.implicits._
    var builds = 0
    def build = { builds += 1; Seq(1).toDF("v") }
    Memo.cached(spark, "memo-spec-z")(build)
    Memo.cached(spark, "memo-spec-z")(build)
    assert(builds === 1)
    Memo.invalidate(spark)
  }

  test("builds for DIFFERENT keys overlap; SAME key builds once under contention") {
    import spark.implicits._
    import java.util.concurrent.CountDownLatch
    // different keys: each build blocks until BOTH have started — only
    // possible if neither holds a global lock while building
    val bothStarted = new CountDownLatch(2)
    def slowBuild(v: Int) = {
      bothStarted.countDown()
      assert(bothStarted.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "builds serialized: the second never started while the first ran")
      Seq(v).toDF("v")
    }
    val t1 = new Thread(() => Memo.cached(spark, "memo-conc-a")(slowBuild(1)))
    val t2 = new Thread(() => Memo.cached(spark, "memo-conc-b")(slowBuild(2)))
    t1.start(); t2.start(); t1.join(60000); t2.join(60000)
    assert(Memo.cached(spark, "memo-conc-a")(fail("rebuilt")).head().getInt(0) === 1)
    assert(Memo.cached(spark, "memo-conc-b")(fail("rebuilt")).head().getInt(0) === 2)

    // same key raced by two threads: exactly one build runs, the
    // loser blocks on the winner's future and gets the same frame
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def counted = { builds.incrementAndGet(); Thread.sleep(100); Seq(7).toDF("v") }
    val ts = (1 to 2).map(_ => new Thread(() =>
      results.add(Memo.cached(spark, "memo-conc-c")(counted).head().getInt(0))))
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    assert(builds.get === 1)
    assert(results.size === 2 && results.stream().allMatch(_ == 7))
    Memo.invalidate(spark)
  }

  test("a FATAL build error fails waiting callers instead of hanging, and clears the key") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val waiterRegistered = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // Builder: waits until a second caller is blocked on its future,
    // then dies with a fatal (non-NonFatal) error that Try won't catch.
    val before = Memo.size
    val builder = new Thread(() =>
      try Memo.cached(spark, "memo-fatal") {
        assert(waiterRegistered.await(30, TimeUnit.SECONDS))
        Thread.sleep(200) // let the waiter reach Await
        throw new LinkageError("fatal-test")
      } catch { case _: LinkageError => () })
    builder.start()
    val waiter = new Thread(() =>
      try Memo.cached(spark, "memo-fatal")(fail("waiter must not build"))
      catch { case t: Throwable => failures.add(t) })
    // Start the waiter only after the builder owns the key, so the
    // waiter lands on the Await path.
    while (Memo.size == before && builder.isAlive) Thread.sleep(10)
    waiter.start(); waiterRegistered.countDown()
    builder.join(60000); waiter.join(60000)
    assert(!waiter.isAlive, "waiter hung on a fatally-failed build")
    assert(failures.size === 1, s"waiter should fail, got: $failures")
    // and the key is clear: the next caller rebuilds successfully
    val ok = Memo.cached(spark, "memo-fatal") { Seq(9).toDF("v") }
    assert(ok.head().getInt(0) === 9)
    Memo.invalidate(spark)
  }

  test("invalidate during an in-flight build unpersists the frame once it materializes") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val buildStarted = new CountDownLatch(1)
    val invalidated = new CountDownLatch(1)
    @volatile var built: org.apache.spark.sql.DataFrame = null
    val builder = new Thread(() => {
      built = Memo.cached(spark, "memo-inflight") {
        buildStarted.countDown()
        assert(invalidated.await(30, TimeUnit.SECONDS))
        Seq(5).toDF("v")
      }
    })
    builder.start()
    assert(buildStarted.await(30, TimeUnit.SECONDS))
    Memo.invalidate(spark) // entry is in-flight: dropped now, unpersist deferred
    invalidated.countDown()
    builder.join(60000)
    assert(built != null)
    // the deferred onComplete unpersist fires on the global EC — poll
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (built.storageLevel.useMemory && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(!built.storageLevel.useMemory,
      "in-flight build's cache survived invalidate")
    // the entry itself was dropped at invalidate time: next call rebuilds
    var rebuilt = false
    Memo.cached(spark, "memo-inflight") { rebuilt = true; Seq(6).toDF("v") }
    assert(rebuilt, "invalidate left the in-flight entry registered")
    Memo.invalidate(spark)
  }

  test("a failing build evicts only its OWN entry, never a racing rebuild's") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    // Race pinned (ADVICE r8): builder A is invalidated mid-build, a
    // fresh builder B registers a new in-flight entry for the same
    // key, THEN A's build fails. A's failure-path evict must leave
    // B's entry alone — an unconditional memo.remove(k) here would
    // orphan B's cached frame (persisted but unreachable to
    // invalidate until session stop).
    val aStarted = new CountDownLatch(1)
    val aMayFail = new CountDownLatch(1)
    val aFailed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val aT = new Thread(() =>
      try Memo.cached(spark, "memo-race") {
        aStarted.countDown()
        assert(aMayFail.await(30, TimeUnit.SECONDS))
        throw new RuntimeException("a-fails")
      } catch { case _: RuntimeException => aFailed.set(true) })
    aT.start()
    assert(aStarted.await(30, TimeUnit.SECONDS))
    Memo.invalidate(spark, "memo-race") // drops A's in-flight entry
    @volatile var bResult: org.apache.spark.sql.DataFrame = null
    val bT = new Thread(() => {
      bResult = Memo.cached(spark, "memo-race") {
        // B's entry is now registered and in-flight: release A and
        // wait for its failure path (including the finally's evict)
        // to run to completion before B's own build returns
        aMayFail.countDown()
        aT.join(30000)
        Seq(11).toDF("v")
      }
    })
    bT.start(); bT.join(60000)
    assert(aFailed.get, "builder A should have failed")
    assert(bResult != null && bResult.head().getInt(0) === 11)
    // B's entry survived A's failure-evict: the next call is a hit
    assert(Memo.cached(spark, "memo-race")(fail("rebuilt: A evicted B's entry"))
      .head().getInt(0) === 11)
    Memo.invalidate(spark)
  }

  test("a failed build is retried, not cached") {
    import spark.implicits._
    var attempts = 0
    intercept[RuntimeException] {
      Memo.cached(spark, "memo-fail") {
        attempts += 1; throw new RuntimeException("boom")
      }
    }
    val ok = Memo.cached(spark, "memo-fail") { attempts += 1; Seq(3).toDF("v") }
    assert(attempts === 2 && ok.head().getInt(0) === 3)
    Memo.invalidate(spark)
  }

  test("invalidate frees a persisted entry built over a truncated one without a WARN") {
    import spark.implicits._
    val base = Memo.cached(spark, "memo-warn:base", truncate = true) {
      (1 to 10).toDF("v")
    }
    val agg = Memo.cached(spark, "memo-warn:agg") { base.groupBy().count() }
    assert(agg.head().getLong(0) === 10)
    // the persisted entry's plan embeds the truncated entry's
    // checkpoint as a leaf: Frames.release would call it a violation
    assert(agg.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr }.size === 1)
    val rddId = base.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    assert(agg.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)

    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try Memo.invalidate(spark, "memo-warn:")
    finally System.setErr(saved)
    assert(!err.toString.contains("Frames.release"), err.toString)
    // both entries are still freed: the cache entry and the blocks
    assert(agg.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }
}
