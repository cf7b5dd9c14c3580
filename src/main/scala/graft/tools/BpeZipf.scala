package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool (VERDICT r13 item 6): measure BPE merge batching on a
  * REALISTIC count distribution instead of the synthetic tie-heavy
  * fixture. The "32k merges ≈ minutes, not hours" extrapolation in
  * SCALE.md rests on the claim that real corpora have mostly-distinct
  * pair counts (so the batch guard rarely truncates); this tool
  * builds a zipfian word distribution — the shape natural language
  * actually has (Zipf 1949) — and reports pcRounds (pair-count Spark
  * jobs actually paid) vs merges learned, at a merge budget big
  * enough to reach the flat tail where ties live.
  *
  * Corpus construction is fully deterministic (no RNG): word ranks
  * 1..V get frequency max(1, C/rank) — integer-division zipf s=1 —
  * and the word STRING for rank r is its base-26 letter encoding, so
  * words share character structure (prefix/suffix overlap) the way
  * real vocabulary does and BPE has real merge structure to learn.
  *
  * {{{
  *   sbt -batch "runMain graft.tools.BpeZipf 50000 100000 256 8 relaxed"
  *   // vocabSize, topWordFreq, merge rounds, batch, mode(exact|relaxed)
  *   sbt -batch "runMain graft.tools.BpeZipf 50000 100000 4096 8 parity"
  *   // mode=parity (VERDICT r15 item 4): train BOTH an exact and a
  *   // relaxed vocab at `rounds` merges on a 10/11 train split (word
  *   // ranks with rank % 11 != 7), apply both merge lists to the
  *   // HELD-OUT split (rank % 11 == 7 — unseen words, same zipfian
  *   // distribution), and report tokens/byte each: the downstream-
  *   // quality number merge-set overlap only proxies. Application
  *   // replicates Bpe.segment's greedy left-to-right fold per merge,
  *   // driver-side over the (tiny) held-out distinct-word table.
  * }}}
  *
  * Prints one JSON line: rounds, batch, pcRounds, merges, wall
  * seconds, corpus shape. NOT part of the library surface. */
object BpeZipf {
  /** English letters in frequency order — the naturalistic letter
    * marginal the generator skews toward. */
  private val Letters = "etaoinshrdlcumwfgypbvkjxqz"

  /** splitmix64 finalizer — deterministic position/rank mixing with
    * no RNG state. */
  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  /** rank → deterministic pseudo-word with naturalistic statistics:
    * length 3-8, each letter drawn from a quadratically-skewed
    * frequency-ordered alphabet (u² over the ranked letters ≈ the
    * Zipfian letter marginal of English). Unlike a dense base-26 rank
    * encoding — whose top pair counts ALL involve 'a'/'b' and force
    * the batch conflict rule to stop at one merge per round — this
    * gives the digraph diversity real text has, so the measurement
    * exercises the distribution the extrapolation claims to hold on.
    * Rank collisions just merge two frequency masses (Bpe.train
    * groups by word anyway). */
  private def wordOf(rank: Long): String = {
    val len = 3 + (mix(rank, 0) % 6).toInt
    (1 to len).map { pos =>
      val u = (mix(rank, pos) % 100003).toDouble / 100003.0
      Letters(math.min(25, (u * u * 26).toInt))
    }.mkString
  }

  /** Replica of [[graft.ext.Bpe.applyMerge]]'s greedy left-to-right
    * fold for ONE merge, plain Scala: the merged symbol no longer
    * compares equal to l, so "a a a" under (a,a) leaves the tail. */
  private def applyOne(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      val x = syms(i)
      if (out.nonEmpty && out.last == l && x == r) out(out.length - 1) = l + r
      else out += x
      i += 1
    }
    out.toArray
  }

  /** Token count of `word` under an ordered merge list — exactly
    * Bpe.segment's semantics (rank-order application, one greedy pass
    * each), driver-side. */
  private def tokenCount(word: String, merges: Array[(String, String)]): Int = {
    var syms = word.map(_.toString).toArray
    var i = 0
    while (i < merges.length && syms.length > 1) {
      val (l, r) = merges(i)
      // cheap containment pre-check before paying the fold allocation
      var j = 0
      var hit = false
      while (!hit && j < syms.length - 1) {
        if (syms(j) == l && syms(j + 1) == r) hit = true
        j += 1
      }
      if (hit) syms = applyOne(syms, l, r)
      i += 1
    }
    syms.length
  }

  def main(args: Array[String]): Unit = {
    val vocab = args.lift(0).map(_.toLong).getOrElse(50000L)
    val topFreq = args.lift(1).map(_.toLong).getOrElse(100000L)
    val rounds = args.lift(2).map(_.toInt).getOrElse(256)
    val batch = args.lift(3).map(_.toInt).getOrElse(8)
    val mode = args.lift(4).getOrElse("exact")
    require(mode == "exact" || mode == "relaxed" || mode == "parity",
      s"bad mode: $mode")
    val spark = graft.Mains.localSession()
    import spark.implicits._

    val word = udf(wordOf _)
    // one doc per word occurrence: rank r contributes max(1, C/r)
    // single-word docs — Bpe.train immediately groups to (word, freq),
    // so the explode is the honest way in without bypassing its API
    val ranked = spark.range(1, vocab + 1)
      .select(col("id"), word(col("id")).as("w"),
        greatest(lit(1L), lit(topFreq) / col("id")).cast("int").as("freq"))

    if (mode == "parity") {
      // COMPRESSION PARITY (VERDICT r15 item 4): rank % 11 == 7 is
      // held out (≈9% of ranks, every frequency stratum — unseen
      // words from the same zipfian shape); both vocabs train on the
      // remaining 10/11 and are applied to the held-out occurrences.
      val trainCorpus = ranked.filter(col("id") % 11 =!= 7)
        .select(explode(array_repeat(col("w"), col("freq"))).as("text"))
      val nTrain = trainCorpus.count()
      val held = ranked.filter(col("id") % 11 === 7)
        .select("w", "freq").collect()
        .map(r => (r.getString(0), r.getInt(1).toLong))
      def trainList(exact: Boolean): (Array[(String, String)], Int, Double) = {
        val t0 = System.nanoTime()
        val m = graft.ext.Bpe.train(trainCorpus, "text", rounds,
          batch = batch, exact = exact)
        val list = m.orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2)))
        val wall = (System.nanoTime() - t0) / 1e9
        (list, graft.ext.Bpe.lastTrainStats.map(_._1).getOrElse(-1), wall)
      }
      def tokensPerByte(merges: Array[(String, String)]): (Double, Long, Long) = {
        // ASCII corpus: bytes = chars. Freq-weighted over held-out
        // occurrences; the distinct-word table is tiny (~vocab/11).
        var toks = 0L
        var bytes = 0L
        held.foreach { case (w, f) =>
          toks += f * tokenCount(w, merges).toLong
          bytes += f * w.length.toLong
        }
        (toks.toDouble / bytes, toks, bytes)
      }
      val (exList, exRounds, exWall) = trainList(exact = true)
      val (rxList, rxRounds, rxWall) = trainList(exact = false)
      val (exTpb, exToks, bytes) = tokensPerByte(exList)
      val (rxTpb, rxToks, _) = tokensPerByte(rxList)
      val overlap = rxList.toSet.intersect(exList.toSet).size.toDouble /
        math.max(1, exList.length)
      println(f"""{"tool":"bpe_zipf","mode":"parity","vocab":$vocab,""" +
        f""""top_freq":$topFreq,"rounds":$rounds,"batch":$batch,""" +
        f""""train_occurrences":$nTrain,"held_words":${held.length},"held_bytes":$bytes,""" +
        f""""exact":{"merges":${exList.length},"pc_rounds":$exRounds,"wall_sec":$exWall%.1f,"tokens":$exToks,"tokens_per_byte":$exTpb%.5f},""" +
        f""""relaxed":{"merges":${rxList.length},"pc_rounds":$rxRounds,"wall_sec":$rxWall%.1f,"tokens":$rxToks,"tokens_per_byte":$rxTpb%.5f},""" +
        f""""relaxed_vs_exact_tpb":${rxTpb / exTpb}%.4f,"merge_set_overlap":$overlap%.3f}""")
      spark.stop()
      return
    }

    val corpus = ranked
      .select(explode(array_repeat(col("w"), col("freq"))).as("text"))
    val nDocs = corpus.count()

    val t0 = System.nanoTime()
    val merges = graft.ext.Bpe.train(corpus, "text", rounds, batch = batch,
      exact = mode == "exact")
    val nMerges = merges.count()
    val wall = (System.nanoTime() - t0) / 1e9
    val (pcRounds, learned) = graft.ext.Bpe.lastTrainStats.getOrElse((-1, -1))

    println(f"""{"tool":"bpe_zipf","vocab":$vocab,"top_freq":$topFreq,""" +
      f""""word_occurrences":$nDocs,"rounds":$rounds,"batch":$batch,"mode":"$mode",""" +
      f""""pc_rounds":$pcRounds,"merges":$learned,"merge_rows":$nMerges,""" +
      f""""wall_sec":$wall%.1f}""")
    spark.stop()
  }
}
