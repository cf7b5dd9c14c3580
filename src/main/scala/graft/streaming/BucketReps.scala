package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.ClassTag

/** The keyed-state loop the three near-duplicate streams share
  * ([[StreamNearDup]], [[StreamAnnDedup]], [[StreamMmDedup]]): one
  * state bucket per block key keeps a bounded list of representatives,
  * and each arriving item is compared only against its bucket's reps —
  * the batch engine's compare-only-inside-a-block rule, kept as a
  * continuously maintained candidate index.
  *
  * An operator supplies its item layout and its score; the loop owns
  * the rest:
  *  - in-batch order by (ts, id), whatever the shuffle's arrival order;
  *  - no self-pair (an id never scores against itself);
  *  - rep admission: an unmatched item becomes a rep while the bucket
  *    holds fewer than `maxReps`; `addMatchedReps` (audit mode) admits
  *    matched items too, so the emitted pairs are every same-bucket
  *    pair that clears the threshold;
  *  - a timed-out bucket is removed; the event-time timeout (`delay`
  *    after the newest item) is set only on streams — a batch run has
  *    no watermark to time out against.
  *
  * State layout — PACKED PRIMITIVE ARRAYS, not an object graph: an id
  * array plus one flat `Array[T]` (Long, Double or Int) holding the
  * reps' payloads back to back (rep r at [r·w, (r+1)·w), the width w
  * fixed by the bucket's first rep; an item of another width fails).
  * Keyed state pays an encoder round-trip on every read and write;
  * Catalyst's (de)serializer walks nested collections of case classes
  * element by element, while primitive arrays copy as single blocks.
  * Each operator keeps its own state case class `S` (ids, payloads),
  * so its persisted schema, and every existing checkpoint, stays. */
private[streaming] abstract class BucketReps[K, V, T: ClassTag, S, C](
    what: String, delay: String, maxReps: Int, addMatchedReps: Boolean)
    extends Serializable {

  def id(x: V): Long
  def ts(x: V): Long
  /** Payload elements of `x`. */
  def width(x: V): Int
  /** Writes `x`'s payload into `reps` at `off`. */
  def put(x: V, reps: Array[T], off: Int): Unit
  /** The candidate between `x` and the rep packed at `off` (the pair's
    * ids are `lo` < `hi`), or None below the threshold. This is the
    * compare loop: it reads the concrete primitive array, unboxed. */
  def pair(reps: Array[T], off: Int, x: V, key: K, lo: Long, hi: Long): Option[C]
  def unpack(s: S): (Array[Long], Array[T])
  def pack(ids: Array[Long], reps: Array[T]): S

  /** Candidate pairs of `items`, one state bucket per `keyOf`. */
  def candidates(items: Dataset[V], keyOf: V => K)(
      implicit ek: Encoder[K], es: Encoder[S], ec: Encoder[C]): Dataset[C] = {
    val isStreaming = items.isStreaming
    items.groupByKey(keyOf)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: K, xs: Iterator[V], state: GroupState[S]) => bucket(key, xs, state, isStreaming)
      }
  }

  private def bucket(key: K, xs: Iterator[V], state: GroupState[S],
      isStreaming: Boolean): Iterator[C] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val (priorIds, priorReps) =
        state.getOption.map(unpack).getOrElse((Array.emptyLongArray, Array.empty[T]))
      var nReps = priorIds.length
      var w = if (nReps > 0) priorReps.length / nReps else -1
      // grow-in-place scan buffers (capacity doubling): appends are
      // amortized O(1) and the live prefix is scanned directly — no
      // per-append copying in hot buckets
      var ids = java.util.Arrays.copyOf(priorIds, math.max(4, nReps))
      var reps = Array.copyOf(priorReps, math.max(w, 0) * ids.length)
      val out = List.newBuilder[C]
      var maxTs = Long.MinValue
      xs.toSeq.sortBy(x => (ts(x), id(x))).foreach { x =>
        val xId = id(x)
        maxTs = math.max(maxTs, ts(x))
        // schema drift must error, not truncate a score
        require(w < 0 || width(x) == w, s"$what dimension mismatch: ${width(x)} vs $w")
        var matched = false
        var r = 0
        while (r < nReps) {
          if (ids(r) != xId) {
            pair(reps, r * w, x, key, math.min(ids(r), xId), math.max(ids(r), xId)) match {
              case Some(c) => matched = true; out += c
              case None =>
            }
          }
          r += 1
        }
        // near-dups of an existing rep add no recall as reps
        // themselves; distinct items become reps up to the cap
        if ((addMatchedReps || !matched) && nReps < maxReps) {
          if (w < 0) {
            w = width(x)
            reps = Array.copyOf(reps, w * ids.length)
          }
          if (nReps == ids.length) {
            ids = java.util.Arrays.copyOf(ids, ids.length * 2)
            reps = Array.copyOf(reps, w * ids.length)
          }
          ids(nReps) = xId
          put(x, reps, nReps * w)
          nReps += 1
        }
      }
      state.update(pack(java.util.Arrays.copyOf(ids, nReps),
        Array.copyOf(reps, nReps * math.max(w, 0))))
      if (isStreaming && maxTs != Long.MinValue)
        state.setTimeoutTimestamp(maxTs, delay)
      out.result().iterator
    }
}
