package perfbench

import java.io.{File, PrintWriter}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** In-memory spans: one per layer call the benchmark makes. A span has
  * a name, start and end (seconds since the tracer was made), the id
  * of its parent, and the counts recorded at the same boundary. */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
      counts: mutable.LinkedHashMap[String, Double]) {
    def seconds: Double = end - start
  }

  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)

  /** Run `body` inside a span named `name`, a child of the innermost
    * open span. Returns the body's result and the span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val s = Span(spans.length + 1, stack.head, name, now, 0.0, mutable.LinkedHashMap.empty)
    stack = s.id :: stack
    val result = try body finally stack = stack.tail
    val done = s.copy(end = now)
    spans += done
    (result, done)
  }

  def count(s: Span, key: String, value: Double): Unit = s.counts(key) = value

  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  /** Write every span as one JSON object per line. */
  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      val c = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start":${Json.num(s.start)},"end":${Json.num(s.end)},"counts":{$c}}""")
    } finally w.close()
  }
}

/** Spark-side totals for one stretch of work, filled by [[TaskListener]]. */
final class SparkTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** The largest share one task took of its stage's total run time,
    * over stages with more than one task: 1/tasks when even, → 1 when
    * one task carries the stage. */
  var maxTaskShare = 0.0
}

/** Listener the traced run attaches: job, stage and task totals into
  * the current [[SparkTotals]] bucket. */
final class TaskListener extends SparkListener {
  @volatile var bucket = new SparkTotals
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { bucket.jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val b = bucket
    b.tasks += 1
    if (!e.taskInfo.successful) b.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      b.taskNs += m.executorRunTime * 1000000L
      b.gcMs += m.jvmGCTime
      b.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      b.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val b = bucket
    b.stages += 1
    stageTaskMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ms =>
      val total = ms.sum
      if (ms.length > 1 && total > 0)
        b.maxTaskShare = math.max(b.maxTaskShare, ms.max.toDouble / total)
    }
  }
}
