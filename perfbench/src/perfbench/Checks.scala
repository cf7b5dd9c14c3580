package perfbench

import java.io.File
import scala.collection.mutable

/** Output checks for one job. A failed check is returned, never thrown:
  * the caller counts it as a failed job. */
object Checks {

  final case class Outcome(problems: Seq[String], digest: String,
      precision: Double, recall: Double) {
    def ok: Boolean = problems.isEmpty
  }

  /** One row of the pipeline's output table. */
  final case class Out(rowOrder: Long, baseName: String, clusterId: Long,
      canonicalName: String, confidence: Double)

  def readTruth(dir: File): Map[Long, Int] = {
    val src = scala.io.Source.fromFile(new File(dir, "truth.csv"), "UTF-8")
    try src.getLines().drop(1).map { l =>
      val i = l.indexOf(','); l.take(i).toLong -> l.drop(i + 1).toInt
    }.toMap
    finally src.close()
  }

  def sha256(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  private def c2(n: Long): Long = n * (n - 1) / 2

  /** Pair precision and recall of a clustering against the truth, from
    * the contingency table: a row pair is predicted when both rows
    * share a cluster, true when both share an entity. */
  def pairScores(cluster: Map[Long, Any], truth: Map[Long, Int]): (Double, Double) = {
    val cells = mutable.HashMap.empty[(Any, Int), Long]
    val byCluster = mutable.HashMap.empty[Any, Long]
    val byEntity = mutable.HashMap.empty[Int, Long]
    cluster.foreach { case (row, c) =>
      val e = truth(row)
      cells((c, e)) = cells.getOrElse((c, e), 0L) + 1
      byCluster(c) = byCluster.getOrElse(c, 0L) + 1
    }
    truth.values.foreach(e => byEntity(e) = byEntity.getOrElse(e, 0L) + 1)
    val tp = cells.values.map(c2).sum.toDouble
    val predicted = byCluster.values.map(c2).sum.toDouble
    val actual = byEntity.values.map(c2).sum.toDouble
    (if (predicted == 0) 1.0 else tp / predicted, if (actual == 0) 1.0 else tp / actual)
  }

  /** The batch pipeline's row contract, checked against the input ids
    * and the truth:
    *  - every input row appears exactly once;
    *  - `cluster_id` is the smallest `row_order` of its cluster;
    *  - `canonical_name` is one of its cluster's base names (rows with
    *    an empty base name are singletons named by their normalized
    *    name, so they are only checked for being alone). */
  def batch(rows: Seq[Out], truth: Map[Long, Int]): Outcome = {
    val problems = mutable.ArrayBuffer.empty[String]
    val ids = rows.map(_.rowOrder)
    if (ids.length != truth.size || ids.toSet != truth.keySet)
      problems += s"rows: ${ids.length} output (${ids.toSet.size} distinct) for ${truth.size} input rows"
    rows.groupBy(_.clusterId).foreach { case (cid, members) =>
      val minRow = members.map(_.rowOrder).min
      if (cid != minRow && problems.length < 5) problems += s"cluster $cid: min row_order is $minRow"
      val bases = members.map(_.baseName).toSet
      members.find(m => m.baseName.nonEmpty && !bases.contains(m.canonicalName)).foreach { m =>
        if (problems.length < 5) problems += s"cluster $cid: canonical '${m.canonicalName}' is not a base name"
      }
      if (members.exists(_.baseName.isEmpty) && members.length > 1 && problems.length < 5)
        problems += s"cluster $cid: empty base name in a multi-row cluster"
    }
    val known = rows.filter(r => truth.contains(r.rowOrder))
    val (p, r) = pairScores(known.map(o => o.rowOrder -> (o.clusterId: Any)).toMap, truth)
    val digest = sha256(rows.sortBy(_.rowOrder).iterator.map(o =>
      s"${o.rowOrder}|${o.clusterId}|${o.canonicalName}|${o.confidence}"))
    Outcome(problems.toSeq, digest, p, r)
  }

  /** The stream's survivors against the generated arrivals: one
    * survivor per distinct content, as many as the generator expects.
    * Each input event is credited to the survivor carrying its text
    * when exactly one does; pair scores follow from that. */
  def stream(survivors: Seq[(Long, String)], events: Seq[Gen.Event]): Outcome = {
    val problems = mutable.ArrayBuffer.empty[String]
    val expected = events.map(_.text).distinct
    if (survivors.length != expected.length)
      problems += s"survivors: ${survivors.length}, expected ${expected.length}"
    val byText = survivors.groupBy(_._2).map { case (t, s) => t -> s.length }
    val missing = expected.count(t => !byText.contains(t))
    if (missing > 0) problems += s"$missing contents have no survivor"
    val repeated = byText.count(_._2 > 1)
    if (repeated > 0) problems += s"$repeated contents have more than one survivor"
    val cluster: Map[Long, Any] = events.map { e =>
      e.id -> (if (byText.getOrElse(e.text, 0) == 1) e.text else s"alone-${e.id}")
    }.toMap
    val (p, r) = pairScores(cluster, events.map(e => e.id -> e.content).toMap)
    Outcome(problems.toSeq, sha256(survivors.map(_._2).sorted.iterator), p, r)
  }
}
