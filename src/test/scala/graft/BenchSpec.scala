package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  import Bench.{Gate, Headline, Window, derive}

  test("derive needs MinSamples positive samples") {
    assert(derive(Seq.empty).isEmpty)
    assert(derive(Seq.fill(Bench.MinSamples - 1)(0.6)).isEmpty)
    assert(derive(Seq.fill(Bench.MinSamples)(0.6)).isDefined)
    // non-positive / non-finite samples don't count toward the minimum
    val junk = Seq.fill(Bench.MinSamples - 1)(0.6) ++
      Seq(0.0, -1.0, Double.NaN, Double.PositiveInfinity)
    assert(derive(junk).isEmpty)
  }

  test("derive: band = healthy-cluster max * headroom, anchored on the min") {
    // a lucky 0.51 min, healthy cluster up to 0.76, incidents at 0.82+:
    // incidents must NOT lift the band, and NaN/negative samples neither
    // anchor the cluster nor count
    val samples = Seq(0.51, 0.56, 0.61, 0.70, 0.76, 0.82, 1.9, 3.4, 0.66, 0.58)
    val b = derive(samples ++ Seq(Double.NaN, -0.3)).get
    assert(b.sampleMin === 0.51)
    // cluster cutoff 0.51*1.5=0.765 keeps 0.76, drops 0.82
    assert(math.abs(b.value - 0.76 * Bench.Headroom) < 1e-9)
    assert(b.value < 0.82)
    assert(b.nSamples === samples.size)
  }

  test("derive widens the spread to cover a wide healthy mode") {
    // lucky 0.42 floor, healthy mode up to ~0.85, episodic incidents
    // 1.2+: a fixed 1.5x cluster (cutoff 0.63) covers under 60% of the
    // samples and would flag half the healthy mode
    val healthyMode = Seq(0.42, 0.48, 0.52, 0.55, 0.58, 0.62, 0.66, 0.70,
      0.74, 0.78, 0.82, 0.85)
    val incidents = Seq(1.2, 1.6, 3.4, 6.5)
    val b = derive(healthyMode ++ incidents).get
    assert(b.sampleMin === 0.42)
    // spread 2.0 → cutoff 0.84 → cluster max 0.82
    assert(math.abs(b.value - 0.82 * Bench.Headroom) < 1e-9)
    assert(incidents.forall(_ > b.value))
  }

  test("derive anchors a bimodal sample set on the healthy floor") {
    val degraded = Seq.fill(10)(2.5)
    val healthy = Seq(0.9, 0.95, 1.0, 0.92, 0.88, 0.97, 0.91, 0.94)
    // with only degraded samples there is nothing to contrast against
    assert(derive(degraded).get.value > 2.0)
    val b = derive(degraded ++ healthy).get
    assert(b.sampleMin === 0.88)
    assert(b.value < 1.1)
    assert(degraded.forall(_ > b.value))
  }

  test("derive stamps the spread that formed the cluster") {
    val tight = Seq(0.51, 0.56, 0.61, 0.70, 0.76, 0.82, 1.9, 3.4, 0.66, 0.58)
    assert(derive(tight).get.spread === 1.5)
    val wide = Seq(0.42, 0.48, 0.52, 0.55, 0.58, 0.62, 0.66, 0.70,
      0.74, 0.78, 0.82, 0.85, 1.2, 1.6, 3.4, 6.5)
    assert(derive(wide).get.spread === 2.0)
  }

  // a run's probe medians: start, end and pre/post of seven families
  private val healthyRun = Seq(0.60, 0.62, 0.58, 0.61, 0.63, 0.59, 0.60,
    0.64, 0.62, 0.61, 0.60, 0.65, 0.63, 0.62, 0.61, 0.60)

  test("a family whose bracketing probe exceeds the band flags all its rows") {
    val gate = Gate.of(healthyRun :+ 1.4)
    val band = gate.band.get.value
    assert(band < 0.7)
    val rows = Seq(false, false, false) // three rows, none remeasured
    val clean = Window(pre = 0.61, post = 0.63)
    val hitPre = Window(pre = 1.4, post = 0.62)
    val hitPost = Window(pre = 0.62, post = band + 0.01)
    assert(rows.map(gate.flags(clean, _)) === Seq(false, false, false))
    assert(rows.map(gate.flags(hitPre, _)) === Seq(true, true, true))
    assert(rows.map(gate.flags(hitPost, _)) === Seq(true, true, true))
    // a probe at the band is still healthy
    assert(!gate.flags(Window(band, band), remeasured = false))
  }

  test("a remeasured row is certified only if both recovery probes pass") {
    val gate = Gate.of(healthyRun)
    val degradedWindow = Window(pre = 0.62, post = 1.5)
    // its median came from the recovery window: the family window is moot
    assert(!gate.flags(degradedWindow.copy(recPre = Some(0.6), recPost = Some(0.61)), true))
    assert(gate.flags(degradedWindow.copy(recPre = Some(0.6), recPost = Some(0.9)), true))
    assert(gate.flags(degradedWindow.copy(recPre = Some(0.9), recPost = Some(0.6)), true))
    assert(gate.flags(degradedWindow.copy(recPre = Some(0.6)), true))
    // a row that was not remeasured keeps its window's verdict
    assert(gate.flags(degradedWindow.copy(recPre = Some(0.6), recPost = Some(0.61)), false))
  }

  test("fewer than 8 probe medians fall back to the relative gate") {
    val gate = Gate.of(Seq(0.5, 0.7, 0.55, Double.NaN, 0.6, 0.65, 0.58, 0.62))
    assert(gate.band.isEmpty)
    assert(gate.best === 0.5)
    // windows at 1.6x the run's best, recovery probes at 1.3x
    assert(!gate.flags(Window(0.79, 0.79), remeasured = false))
    assert(gate.flags(Window(0.79, 0.81), remeasured = false))
    assert(!gate.flags(Window(0.9, 0.9, Some(0.64), Some(0.64)), remeasured = true))
    assert(gate.flags(Window(0.5, 0.5, Some(0.64), Some(0.66)), remeasured = true))
  }

  test("the recovery pass keeps the probe pair of the attempt that took fresh reps") {
    // attempt 1: pre-probe passes, fresh reps, post-probe fails; attempts
    // 2 and 3: the pre-probe fails, so no fresh reps
    val probes = Iterator(0.60, 0.95, 0.97, 0.99)
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val rec = Bench.recover(
      pending = () => true,
      probe = () => { val p = probes.next(); events += s"probe $p"; p },
      healthy = _ < 0.8,
      remeasure = () => events += "fresh",
      recovered = () => events += "recovered",
      sleep = ms => events += s"sleep $ms")
    assert(events.toSeq === Seq("sleep 2000", "probe 0.6", "fresh", "probe 0.95",
      "sleep 10000", "probe 0.97", "sleep 30000", "probe 0.99"))
    assert(rec === Bench.Recovery("still_degraded", 3, Some(0.60), Some(0.95)))
    // the kept pair is attempt 1's, and its failed post-probe flags the row
    val gate = Gate.of(healthyRun)
    assert(gate.flags(Window(0.62, 1.5, rec.pre, rec.post), remeasured = true))

    // a recovery that succeeds stops there, with its own pair
    val ok = Iterator(0.95, 0.61, 0.62)
    var pending = true
    val rec2 = Bench.recover(() => pending, () => ok.next(), _ < 0.8, () => (),
      () => pending = false, _ => ())
    assert(rec2 === Bench.Recovery("recovered", 2, Some(0.61), Some(0.62)))
    assert(!gate.flags(Window(0.62, 1.5, rec2.pre, rec2.post), remeasured = true))
  }

  private val mapper = new ObjectMapper()
  private def headline(skipped: Seq[String], missing: Seq[String]) = Headline(
    total = 66.831, totalCertified = 60.2, totalExAudits = 50.1, totalFloor = 55.5,
    nCertified = 120, method = "warm+median-of-3+adaptive+memo-truth+envprobe+runband",
    indexBuild = 9.82, shuf = (0.612, 0.598), sf = "/data/testdata/sf0.1",
    skipped = skipped, missing = missing, nDegraded = 15)

  test("the stdout line fits 2,000 chars and parses for long inputs") {
    for (len <- Seq(20, 60, 120, 300)) {
      def names(prefix: String, n: Int) =
        (0 until n).map(i => f"$prefix$i%03d_" + "x" * len)
      val medians = names("query_", 135).zipWithIndex.map { case (q, i) => (q, i * 0.37) }
      val line = Bench.stdoutLine(headline(names("skip_", 60), names("miss_", 80)), medians)
      assert(line.length <= 2000, s"name length $len: ${line.length} chars")
      val js = mapper.readTree(line)
      for (k <- Seq("metric", "value", "queries", "index_build", "n_certified"))
        assert(js.has(k), s"name length $len: no $k in $line")
      assert(js.get("metric").asText === "total")
      assert(js.get("value").asDouble === 66.831)
      assert(js.get("n_certified").asInt === 120)
      assert(js.get("n_missing").asInt === 80)
      assert(js.get("queries_shown").asText.endsWith("-full-map-in-artifact"))
    }
  }

  test("the stdout line keeps the full query map for short inputs") {
    val medians = (0 until 10).map(i => (s"rel_q$i", i + 0.5))
    val line = Bench.stdoutLine(headline(Seq("ann_a", "ann_b"), Nil), medians)
    val js = mapper.readTree(line)
    assert(!js.has("queries_shown") && !js.has("complete"))
    assert(js.get("queries").size === 10)
    assert(js.get("queries").get("rel_q3").asDouble === 3.5)
    assert(js.get("skipped").size === 2)
  }

  test("jsonString round-trips quotes, backslashes and control chars") {
    val s = "a\"b\\c\nd\re\tf\u0000g\u001fhé /\\\"end"
    val lit = Mains.jsonString(s)
    assert(lit.forall(_ >= ' '))
    assert(mapper.readTree(lit).asText === s)
  }
}
