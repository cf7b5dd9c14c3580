package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Per-session memoization of expensive shared intermediates (the
  * dedup pipeline table, LSH signature index, …). Reports over the
  * same pipeline then cost one materialization instead of N — the
  * DataFrame analogue of a materialized view. Entries are keyed by
  * session IDENTITY (reference equality, not a hash that could
  * collide after GC), so two sessions can never cross-hit, and cached
  * via Spark's storage layer, so memory pressure falls back to
  * recompute, never OOM. Entries owned by a stopped session are
  * pruned on the next access from ANY session — cached()/size/
  * invalidate all sweep first — their cached blocks are already gone
  * with the context, so the sweep only drops driver-side references.
  * [[invalidate]] releases a live session's entries eagerly;
  * long-lived hosts that stop sessions should call
  * `Memo.invalidate(spark)` before `spark.stop()` so the driver-side
  * references go with the session rather than waiting for the next
  * Memo access. */
object Memo {
  /** Session key with reference equality — unlike
    * System.identityHashCode alone, equal hash never conflates two
    * distinct live sessions. */
  private final class SessionKey(val s: SparkSession) {
    override def hashCode: Int = System.identityHashCode(s)
    override def equals(o: Any): Boolean = o match {
      case k: SessionKey => k.s eq s
      case _ => false
    }
  }
  /** A registered build and its flavor: `truncate` entries are
    * checkpoint-rooted and freed by `Frames.release`, the others are
    * persisted and freed by `unpersist`. */
  private final case class Entry(f: scala.concurrent.Future[DataFrame], truncate: Boolean) {
    def free(df: DataFrame): Unit =
      if (truncate) graft.core.Frames.release(df) else df.unpersist()
  }
  private val memo = mutable.Map.empty[(SessionKey, String), Entry]

  private def prune(): Unit =
    memo.filterInPlace { case ((k, _), _) => !k.s.sparkContext.isStopped }

  /** Per-key build execution: the global lock covers only the map
    * lookup/registration, never the build itself, so DIFFERENT keys
    * build as genuinely concurrent Spark jobs (Bench's warm-index
    * threads rely on this); concurrent callers of the SAME key block
    * on its future instead of re-building. A failed build is removed
    * so the next caller retries rather than caching the failure. */
  /** `truncate = true` materializes the build through an EAGER
    * `localCheckpoint` instead of a lazy `persist`, cutting the
    * frame's lineage to a single leaf. For a memo whose build plan is
    * deep and whose consumers re-reference it many times (the IVF-PQ
    * index embeds the prepared-vector tree ~16×), the full-lineage
    * plan grows multiplicatively and every consumer ACTION re-pays
    * analysis/optimization over it — measured 2.2 s/rep of pure
    * driver-side planning on a 2000-row cached frame (guide §7.3);
    * truncated, the same rep is 0.1 s. The blocks spill to disk like
    * the persisted flavor (localCheckpoint's MEMORY_AND_DISK), and
    * [[invalidate]] releases checkpoint blocks through
    * `Frames.release`. Trade-off: the build runs eagerly at memo
    * time, and evicted blocks cannot recompute (truncated lineage) —
    * use for bounded index-sized frames only. */
  def cached(spark: SparkSession, key: String,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      truncate: Boolean = false)(
      build: => DataFrame): DataFrame = {
    val k = (new SessionKey(spark), key)
    val owned = synchronized {
      prune()
      memo.get(k) match {
        case Some(e) => Right(e.f)
        case None =>
          val p = scala.concurrent.Promise[DataFrame]()
          memo.update(k, Entry(p.future, truncate))
          Left(p)
      }
    }
    owned match {
      case Left(p) =>
        // scala.util.Try only catches NonFatal: a fatal error (OOM,
        // LinkageError) or InterruptedException in the build would
        // propagate past it, leaving the promise registered but never
        // completed — every later caller of this key would then hang
        // forever at Await. The finally completes the promise with a
        // placeholder failure and removes the entry in ALL exit paths,
        // so fatal build failures can't wedge the key (ADVICE r7).
        var res: scala.util.Try[DataFrame] = scala.util.Failure(
          new IllegalStateException(
            s"Memo build for '$key' terminated abnormally (fatal error?)"))
        try {
          // Explicit storage level (default MEMORY_AND_DISK): memory
          // pressure SPILLS cached blocks to local disk instead of
          // dropping them, so an expensive index (LSH signatures, the
          // dedup pipeline) can degrade to disk reads but never
          // silently falls back to a full recompute mid-bench — at
          // 100× scale an evicted signature index rebuild is a full
          // corpus re-shingle (VERDICT r8).
          res = scala.util.Try(
            if (truncate) build.localCheckpoint(true) else build.persist(level))
          res.get
        } finally {
          // Remove-before-complete so a waiter that observes the
          // failure can immediately retry against a clean map. The
          // remove is (a) conditional on the entry still being OUR
          // promise — an invalidate racing mid-build may have already
          // dropped it and a fresh builder registered a new in-flight
          // entry we must not evict (ADVICE r8) — and (b) wrapped so a
          // throw during an OOM cascade can't skip tryComplete and
          // re-wedge the waiters the finally exists to free.
          try {
            if (res.isFailure) synchronized {
              if (memo.get(k).exists(_.f eq p.future)) memo.remove(k)
            }
          } finally p.tryComplete(res)
        }
      case Right(f) =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
    }
  }

  /** Unpersist and drop every entry owned by `spark`. Safe to call on
    * a stopped session (entries are just dropped). */
  def invalidate(spark: SparkSession): Unit = invalidate(spark, "")

  /** Unpersist and drop `spark`'s entries whose key starts with
    * `keyPrefix` ("" = all). Lets a multi-family workload (Bench)
    * release one family's indexes before the next family runs,
    * bounding the storage-memory high-water instead of accumulating
    * every index for the whole pass. */
  def invalidate(spark: SparkSession, keyPrefix: String): Unit = synchronized {
    prune()
    memo.filterInPlace { case ((k, key), e) =>
      if ((k.s eq spark) && key.startsWith(keyPrefix)) {
        if (!spark.sparkContext.isStopped) e.f.value match {
          // persisted entries unpersist; truncated entries release
          // their checkpoint blocks. A persisted entry built over a
          // truncated one embeds its checkpoint as a leaf, so routing
          // it through Frames.release would only print that call's
          // contract-violation WARN for a correct no-op.
          case Some(v) => v.foreach(e.free)
          case None =>
            // in-flight build: the entry is dropped now, so when the
            // build finishes its cached DataFrame would stay persisted
            // but unreachable through Memo until session stop (ADVICE
            // r7) — unpersist it the moment it materializes instead.
            e.f.onComplete(_.foreach { df =>
              // Try: the context can stop between the isStopped check
              // and unpersist; a throw here would only spam the global
              // EC's uncaught reporter (ADVICE r8).
              scala.util.Try {
                if (!spark.sparkContext.isStopped) e.free(df)
              }
            })(scala.concurrent.ExecutionContext.global)
        }
        false
      } else true
    }
  }

  /** Number of live entries (test hook). */
  def size: Int = synchronized { prune(); memo.size }
}
