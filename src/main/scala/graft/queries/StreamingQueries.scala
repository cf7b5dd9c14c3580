package graft.queries

import graft.core.Tables
import graft.streaming.{EventStreams, StreamAnnDedup, StreamDedup, StreamMmDedup, StreamNearDup}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming operators under the DuckDB correctness gate (VERDICT r9
  * item 4): where a streaming path's FINAL STATE is expressible as a
  * batch query, it is declared here and graded like every batch
  * operator — closing the "streaming siblings are spec-only" gap.
  * Each query drives the REAL machinery end-to-end: a file source,
  * two `Trigger.AvailableNow` runs ("yesterday's ingest", "today's")
  * sharing one checkpoint, so run 2 resumes run 1's offsets and
  * state exactly as a restarted production job would.
  *
  * The other streaming ops (watermark-dropped late data, funnels,
  * the anomaly monitor) have no batch-equal final state by nature
  * (drops are arrival-order-dependent); they stay under their
  * batch-parity specs in graft/streaming. */
object StreamingQueries {

  /** Scratch tree for a two-run streaming query; best-effort removed
    * after the result is materialized. RAM-backed when /dev/shm
    * exists: the harness writes input files + checkpoint + state +
    * output per REP, and on-disk page writeback is pure measurement
    * noise for MB-scale scratch (same rationale as Bench's tmpfs
    * shuffle dirs). A real deployment supplies its own durable
    * checkpoint path through the graft.streaming APIs — this scratch
    * only exists for the graded two-run harness. */
  private def scratch(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm)) {
      // reap stale scratch from SIGKILLed runs (the try/finally below
      // can't fire on a kill, and RAM-backed leaks shrink usable
      // memory for everything after — the LocalDirs lesson). Any
      // graft_stream/graft_rocks scratch older than 2h is dead: a
      // single two-run harness lives for seconds.
      val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
      val kids = shm.toFile.listFiles()
      if (kids != null) kids.foreach { f =>
        if ((f.getName.startsWith("graft_stream") ||
             f.getName.startsWith("graft_rocks")) &&
            f.lastModified() < cutoff) rmTree(f)
      }
      java.nio.file.Files.createTempDirectory(shm, prefix)
    } else java.nio.file.Files.createTempDirectory(prefix)
  }

  private def rmTree(f: java.io.File): Unit = graft.core.Fs.rmTree(f)

  /** Run `body` with a scratch tree, deleting it even on failure —
    * the scratch lives in RAM (/dev/shm) when available, so a leak on
    * a crashed run would cost memory, not just disk. `body` must
    * materialize its result (localCheckpoint) before returning. */
  private def withScratch(prefix: String)(
      body: java.nio.file.Path => DataFrame): DataFrame = {
    val tmp = scratch(prefix)
    try body(tmp) finally rmTree(tmp.toFile)
  }

  /** Child session (own SQLConf over the shared SparkContext) the
    * streaming machinery runs under. Stateful operators keep one
    * state store PER SHUFFLE PARTITION per stateful op (a
    * stream-stream join keeps four), each writing delta + snapshot +
    * metadata files every micro-batch — so the state partition count
    * must be sized to the DATA, like any shuffle. A static constant
    * is wrong in both directions: 32 (= cores) paid ~128 store-file
    * round-trips per batch on MB-scale state (stream_interval_join
    * 16.8 s → 5.4 s at 8), while a pinned 8 starved the sf1
    * embedding workload's quadratic in-state pair scoring
    * (stream_incremental_ann 6.2 s → 14.6 s — VERDICT r11). So the
    * count is DERIVED from the query's own input volume:
    * one partition per `targetBytesPerPart` of source bytes
    * (plan-stats estimate), clamped to [8, cores]. The target
    * encodes the state operator's per-byte compute density — a
    * quadratic pair-scoring state fn saturates a partition on KBs of
    * vectors (small target → more partitions as volume grows), while
    * pure keyed storage (joins, windowed aggs) is store-file-IO
    * bound and wants few, fat partitions (large target). A real
    * deployment sizes the same knob (spark.sql.shuffle.partitions at
    * first checkpoint) to ITS volume — thousands of partitions at
    * 100 TB. Checkpoint file checksums are off for the harness's
    * RAM-backed scratch (corruption detection for durable storage;
    * pure file-IO doubling here). Results are
    * partition-count-independent — the DuckDB twins grade that. */
  private def harnessSession(s: SparkSession, input: DataFrame,
      targetBytesPerPart: Long): SparkSession = {
    val ss = s.newSession()
    val cores = s.sparkContext.defaultParallelism
    val bytes = input.queryExecution.optimizedPlan.stats.sizeInBytes
    val derived = (bytes / targetBytesPerPart).min(BigInt(cores)).toInt
    val parts = math.max(8, math.min(cores, derived))
    ss.conf.set("spark.sql.shuffle.partitions", parts.toString)
    ss.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // AvailableNow drains all new files in ONE data batch; the trailing
    // NO-DATA batch Spark appends by default exists to advance the
    // watermark and fire event-time timers — for these queries that is
    // a pure state-store round-trip (reload + commit per partition per
    // stateful op; the interval join keeps four stores) that nothing
    // observes: inner joins emit on arrival, complete-mode aggs re-emit
    // per data batch, and the flatMapGroupsWithState fns emit only in
    // the data branch (their timers just evict state the run is about
    // to drop; constant event time ⇒ no timer ever fires before the
    // data anyway). Measured on the interval-join harness: 0.8-1.9 s
    // per run of addBatch on zero rows (per-batch durationMs, recorded
    // in OPTIMIZATION_r21.md and VERDICT.md) — per RUN, so every rep
    // pays it twice. Scale-independent: the cost removed is
    // a whole micro-batch, not a local[32] tuning artifact. The DuckDB
    // twins grade that the final state is unchanged.
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // SPARK_GRAFT_STREAM_PROVIDER=rocksdb: run the harness on the
    // RocksDB state store — the provider a production job uses once
    // keyed state outgrows executor heap. Results are provider-
    // independent (RocksDbStateSpec pins equality at spec scale);
    // this knob exists so the SCALE.md sweep can MEASURE the
    // biggest-state query on the off-heap provider instead of
    // asserting the story (VERDICT r13 item 7). Unset = Spark's
    // default HDFS-backed in-memory provider.
    sys.env.get("SPARK_GRAFT_STREAM_PROVIDER").foreach {
      case "rocksdb" => ss.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      case "default" => ()
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_STREAM_PROVIDER: unknown provider '$other' (rocksdb|default)")
    }
    ss
  }

  /** Per-byte state-compute density targets for harnessSession.
    * QuadraticState: the state function scores each arrival against
    * every resident bucket member (cosine/signature matching) — KBs
    * of input saturate a core, so partitions scale up fast with
    * volume. KeyedStorage: state is a keyed store the operator only
    * reads/writes point-wise — per-partition store-file round-trips
    * dominate, so partitions stay few until state is genuinely
    * large. */
  private val QuadraticStateTarget = 256L << 10 // 256 KB / partition
  private val KeyedStorageTarget = 8L << 20 // 8 MB / partition

  /** File fan-out for the harness's input writes. The file source
    * assigns small files one read task each, so the input file count
    * bounds the micro-batch's PRE-shuffle parallelism — everything
    * computed before the state exchange (minhash/signature columns,
    * filters) runs on at most this many cores. A single-file input
    * serialized the sf1 neardup run's md5-heavy column work onto one
    * task (7 s of its 15 s wall); production jobs get this for free
    * because real ingest is many files. Like the state partitions,
    * the count is DERIVED from input volume (one file per ~128 KB,
    * clamped [8, cores]): a fixed fan-out of 32 paid ~1 s/query of
    * per-file open/footer/commit overhead at sf0.1 where the whole
    * input is ~1 MB (the r12 sf0.1 streaming creep), while 8 files
    * still saturate the per-row column work there. */
  private def writeParts(s: SparkSession, input: DataFrame): Int = {
    val cores = s.sparkContext.defaultParallelism
    val bytes = input.queryExecution.optimizedPlan.stats.sizeInBytes
    // clamp in BigInt space BEFORE toInt: sizeInBytes defaults to
    // a huge sentinel for non-estimable plans, and BigInt.toInt
    // keeps only the low 32 bits — an unclamped conversion could
    // silently truncate to an arbitrary (even negative) fan-out
    (bytes / (128L << 10)).min(BigInt(cores)).max(BigInt(8)).toInt
  }

  /** Memo'd 1-row bounds aggregate (max id / ts span) — the mid-split
    * point and watermark delay are deterministic functions of the
    * input table, recomputed by every bench repetition as a full
    * scan+agg job before the harness even starts; Memo them like
    * every other shared derived frame (the family invalidation in
    * Bench releases them with the rest of the stream family). */
  private def memoBounds(s: SparkSession, key: String)(
      df: => DataFrame): org.apache.spark.sql.Row =
    graft.core.Memo.cached(s, key)(df).head()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Cross-RUN incremental exact dedup, END-TO-END through the real
    // streaming machinery: the documents table is split into two
    // id-ordered halves, each shipped through
    // StreamDedup.incrementalDedup as its own Trigger.AvailableNow
    // run over a file source with a shared checkpoint + persistent
    // hash index — run 2 resumes the checkpoint, reads only the new
    // files, and dedups against the on-disk index of everything run
    // 1 shipped. With the deterministic min-id in-batch survivor and
    // the id-ordered split, the union of both runs' survivors must
    // equal the BATCH exact-dedup answer (min doc_id per content
    // hash) — which is exactly what the DuckDB twin grades. Scale:
    // the per-batch anti-join shuffles by hash like any equi-join
    // and the index is a parquet table — O(distinct history) on
    // disk, not in executor memory.
    "stream_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val mid = memoBounds(s, s"stream_bounds:docs:$dir")(
        docs.agg(max(col("doc_id")))).getLong(0) / 2
      val ss = harnessSession(s, docs, KeyedStorageTarget)
      withScratch("graft_stream_dedup") { tmp =>
        val in = s"$tmp/in"
        val idx = s"$tmp/idx"
        val ck = s"$tmp/ck"
        val out = s"$tmp/out"
        def runOnce(batch: DataFrame): Unit = {
          // one micro-batch per run (AvailableNow with no file cap
          // drains every new file in a single batch), so the in-batch
          // min-id survivor — a deterministic window, partition-
          // independent — is the run-wide survivor. The input is
          // written MULTI-FILE on purpose: the file source assigns
          // one read task per small file, and a coalesce(1) input
          // used to serialize the whole per-row compute of the
          // micro-batch into a single task (measured 7 s → 2.4 s on
          // the sf1 neardup run — the 100 TB lesson in miniature:
          // source parallelism bounds stateful-stream throughput).
          batch.repartition(writeParts(s, batch)).write.mode("append").parquet(in)
          val stream = ss.readStream.schema(docs.schema).parquet(in)
          StreamDedup.incrementalDedup(stream, "text", idx, ck, idCol = Some("doc_id")) {
            (fresh, _) => fresh.write.mode("append").parquet(out)
          }.awaitTermination()
        }
        runOnce(docs.filter(col("doc_id") <= mid))
        runOnce(docs.filter(col("doc_id") > mid))
        s.read.parquet(out)
          .select(col("doc_id"), md5(col("text").cast("string")).as("content_hash"))
          .orderBy("doc_id")
          .localCheckpoint(true) // materialize before the tmp dir is deleted
      }
    }),

    // Cross-RUN incremental NEAR-dup detection through the same
    // two-run checkpoint-resume harness: MinHash-LSH band buckets
    // live in flatMapGroupsWithState keyed state, which the shared
    // checkpoint carries across runs — run 2's docs pair against the
    // reps run 1 left in every bucket. Grading needs relational
    // semantics, so the state function runs in its audit mode
    // (addMatchedReps=true, uncapped): the emitted stream is then
    // exactly "all same-band-bucket pairs with signature agreement
    // ≥ minEst", independent of arrival order — the DuckDB twin's
    // self-join. Parameters mirror the batch text_lsh family
    // (12 sigs, 6 bands × 2 rows, 2-shingles) over a deterministic
    // md5-bucketed 25% sample (first hex digit of md5(doc_id) in 0-3
    // — id-pattern-independent, reproduced verbatim by the twin; the
    // same sampling-commutes argument as text_lsh_pairs_sample).
    // Audit mode makes EVERY doc a bucket representative, so state
    // and comparisons grow with the SQUARE of the hottest band
    // bucket — the r12 50% id-parity sample still ran 14.9 s at sf1,
    // the most expensive query in the suite. Quadratic cost scales
    // with sample-rate², so 25% bounds the audit ~4× below that
    // while the gate stays non-trivial at sf0.01 (verified pairs
    // exist); production mode (rep suppression + maxReps) remains
    // the full-volume path and is spec-gated for semantics.
    // The readout converts the agreement estimate
    // back to its exact integer numerator (est·12) so no
    // double-rounding can diverge cross-engine.
    "stream_incremental_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3"))
        .select(col("doc_id"), col("text"))
        // constant event time: nothing is late, nothing times out —
        // the batch-equal final state the gate requires
        .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      val mid = memoBounds(s, s"stream_bounds:docs25:$dir")(
        docs.agg(max(col("doc_id")))).getLong(0) / 2
      implicit val ss: SparkSession =
        harnessSession(s, docs, QuadraticStateTarget)
      withScratch("graft_stream_neardup") { tmp =>
        val in = s"$tmp/in"
        val ck = s"$tmp/ck"
        val out = s"$tmp/out"
        def runOnce(batch: DataFrame): Unit = {
          batch.repartition(writeParts(s, batch)).write.mode("append").parquet(in)
          val stream = ss.readStream.schema(docs.schema).parquet(in)
          val pairs = StreamNearDup.candidatePairs(stream, "doc_id", "text",
            tsCol = "ts", delay = "1 hour",
            numSigs = TextQueries.NumSigs, bands = TextQueries.Bands,
            shingleK = TextQueries.ShingleK, minEst = 0.5,
            maxReps = Int.MaxValue, addMatchedReps = true)
          pairs.toDF().writeStream
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("append").parquet(out)
            }
            .start().awaitTermination()
        }
        runOnce(docs.filter(col("doc_id") <= mid))
        runOnce(docs.filter(col("doc_id") > mid))
        // explicit schema: a pairless corpus appends no parquet files
        s.read
          .schema(Encoders.product[StreamNearDup.Candidate].schema)
          .parquet(out)
          // est = n_agree/12 exactly; ·12 + round restores the integer
          .select(col("a_id"), col("b_id"),
            round(col("est_jaccard") * TextQueries.NumSigs).cast("long").as("n_agree"))
          // one row per agreeing band → pair-level uniqueness here
          .dropDuplicates("a_id", "b_id")
          .orderBy("a_id", "b_id")
          .localCheckpoint(true)
      }
    }),

    // Cross-RUN incremental EMBEDDING near-dup — the sign-LSH
    // sibling of stream_incremental_neardup: each vector lands in
    // ONE keyed-state bucket (its hyperplane signature, computed by
    // the same column expressions as the batch join), and run 2's
    // vectors score exact cosines against the unit vectors run 1
    // left in state. In audit mode the emitted pairs are EXACTLY the
    // batch Ann.lshPairs relation at the fixed 6-plane geometry, so
    // the twin is the ann_lsh_pairs_fixed oracle — the strongest gate:
    // the streaming path must reproduce the batch sign-LSH join
    // bit-for-bit, including the in-state Scala cosine matching the
    // codegen'd DotProduct + Round to the last ulp.
    "stream_incremental_ann" -> ((s, dir) => {
      // md5-bucketed 25% sample, the stream_incremental_neardup
      // precedent: audit mode retains EVERY vector as a bucket rep
      // and there are only 2^|planes| = 64 sign-LSH buckets, so audit
      // state per bucket grows linearly with the corpus and the
      // in-state cosine scoring quadratically — measured 32 s at sf10
      // (200k vectors) where production mode's maxReps cap stays
      // flat. Sample-rate² bounds the audit; the twin (the proven
      // ann_lsh_pairs relation) is sampled identically.
      val emb = Tables.embeddings(s, dir)
        .filter(substring(md5(col("vec_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3"))
        .select(col("vec_id"), col("embedding"))
        .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      val mid = memoBounds(s, s"stream_bounds:emb25:$dir")(
        emb.agg(max(col("vec_id")))).getLong(0) / 2
      implicit val ss: SparkSession =
        harnessSession(s, emb, QuadraticStateTarget)
      withScratch("graft_stream_ann") { tmp =>
        val in = s"$tmp/in"
        val ck = s"$tmp/ck"
        val out = s"$tmp/out"
        def runOnce(batch: DataFrame): Unit = {
          batch.repartition(writeParts(s, batch)).write.mode("append").parquet(in)
          val stream = ss.readStream.schema(batch.schema).parquet(in)
          StreamAnnDedup.candidatePairs(stream, "vec_id", "embedding",
            planes = AnnQueries.Planes, tsCol = "ts", delay = "1 hour",
            minCos = 0.20, maxReps = Int.MaxValue, addMatchedReps = true)
            .toDF().writeStream
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("append").parquet(out)
            }
            .start().awaitTermination()
        }
        runOnce(emb.filter(col("vec_id") <= mid))
        runOnce(emb.filter(col("vec_id") > mid))
        s.read
          .schema(Encoders.product[StreamAnnDedup.Candidate].schema)
          .parquet(out)
          // one bucket per vector → each pair emitted exactly once
          .select("a_id", "b_id", "bucket", "cos")
          .orderBy("a_id", "b_id")
          .localCheckpoint(true)
      }
    }),

    // Streaming image near-dup — the modality symmetry completed:
    // text streams through MinHash state, embeddings through sign-LSH
    // cosine state, images through dHash band buckets with exact
    // XOR-popcount verification in keyed state. The stream reads the
    // PRE-computed dHash index (decode runs upstream at ingest, as in
    // production; the state path is what's under audit) across two
    // checkpoint-resumed runs split at the id midpoint — run 2's
    // images match run 1's in-state reps. Audit mode retains every
    // image as a rep in each of its 4 band buckets; hamming is the
    // identical integer computation the batch join codegens, so the
    // distinct readout equals the batch mm_neardup relation and is
    // graded by its twin VERBATIM. The twin mirrors the batch
    // hot-bucket cap unconditionally, so the readout ENFORCES it too
    // (ADVICE r17): candidates emitted in over-cap band buckets are
    // anti-joined away — a no-op whenever the corpus's hottest bucket
    // fits the cap (every bucket under it at sf<=1; sf10 has 5 over),
    // and exactly the batch governor's dropped-bucket set otherwise.
    "stream_incremental_mmdedup" -> ((s, dir) => {
      // pin once per session (Memo), not per repetition: the pinned
      // frame (Memo'd decode + constant ts) and its max-id bound are
      // deterministic per dir
      val idx = graft.core.Memo.cached(s, s"stream_mmidx:$dir", truncate = true) {
        MultimodalQueries.dhashIndex(s, dir)
          .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      }
      val mid = memoBounds(s, s"stream_bounds:mmidx:$dir")(
        idx.agg(max(col("media_id")))).getLong(0) / 2
      implicit val ss: SparkSession =
        harnessSession(s, idx, QuadraticStateTarget)
      withScratch("graft_stream_mm") { tmp =>
        val in = s"$tmp/in"
        val ck = s"$tmp/ck"
        val out = s"$tmp/out"
        def runOnce(batch: DataFrame): Unit = {
          batch.repartition(writeParts(s, batch)).write.mode("append").parquet(in)
          val stream = ss.readStream.schema(batch.schema).parquet(in)
          StreamMmDedup.candidatePairs(stream, "media_id",
            tsCol = "ts", delay = "1 hour", maxHamming = 3,
            maxReps = Int.MaxValue, addMatchedReps = true)
            .toDF().writeStream
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("append").parquet(out)
            }
            .start().awaitTermination()
        }
        runOnce(idx.filter(col("media_id") <= mid))
        runOnce(idx.filter(col("media_id") > mid))
        val emitted = s.read
          .schema(Encoders.product[StreamMmDedup.Candidate].schema)
          .parquet(out)
        // over-cap band buckets mirror the batch governor (see the
        // query comment above); bucket keys broadcast — the over-cap
        // set is bounded by |bands|/cap
        val capped = MultimodalQueries.overCapBucketKeys(s, dir) match {
          case Some(over) => emitted.join(broadcast(over), Seq("bkey"), "left_anti")
          case None => emitted
        }
        capped
          // a pair sharing k bands emits in k buckets → distinct
          .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
          .distinct()
          .orderBy("a_id", "b_id")
          .localCheckpoint(true)
      }
    }),

    // Cross-RUN stream-stream interval join — the last stateful
    // streaming primitive under the gate: clicks and views are two
    // watermarked branches of the same file source, joined on
    // (user_id, view_ts ∈ [click_ts - 1800s, click_ts]) by the
    // stream-stream join operator, whose two-sided state the shared
    // checkpoint carries across runs — run 2's views match run 1's
    // buffered clicks AND vice versa (the event_id mid-split
    // interleaves event time arbitrarily, so cross-run matches flow
    // both directions). The watermark delay is DERIVED from the data
    // (observed ts span + one day of margin) so no state is ever
    // evicted regardless of how the events table is regenerated — a
    // fixed constant silently drops run-2 rows the moment the span
    // grows past it. With nothing evicted the emitted match set is
    // the complete join — aggregated in the readout to exactly the
    // batch events_range_join relation, graded by its twin verbatim.
    "stream_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val bounds = memoBounds(s, s"stream_bounds:events:$dir")(
        ev.agg(max(col("event_id")), min(col("ts")), max(col("ts"))))
      require(!bounds.isNullAt(0) && !bounds.isNullAt(1) && !bounds.isNullAt(2),
        "stream_interval_join: events table is empty — no ts span to derive a watermark from")
      val mid = bounds.getLong(0) / 2
      val spanSec = (bounds.getTimestamp(2).getTime -
        bounds.getTimestamp(1).getTime) / 1000L
      val delay = s"${spanSec + 86400L} seconds"
      val ss = harnessSession(s, ev, KeyedStorageTarget)
      withScratch("graft_stream_ij") { tmp =>
        val in = s"$tmp/in"
        val ck = s"$tmp/ck"
        val out = s"$tmp/out"
        def runOnce(batch: DataFrame): Unit = {
          batch.repartition(writeParts(s, batch)).write.mode("append").parquet(in)
          def src() = ss.readStream.schema(batch.schema).parquet(in)
          val clicks = EventStreams.withEventTimeWatermark(
            src().filter(col("event_type") === "click")
              .select(col("event_id"), col("user_id"), col("ts")),
            delay = delay)
          val views = EventStreams.withEventTimeWatermark(
            src().filter(col("event_type") === "view"), delay = delay)
            .select(col("user_id"), col("ts").as("view_ts"),
              col("value").as("view_value"))
          EventStreams.intervalJoin(clicks, views, "user_id",
            "ts", "view_ts", lowerSec = 1800L)
            .writeStream
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("append").parquet(out)
            }
            .start().awaitTermination()
        }
        runOnce(ev.filter(col("event_id") <= mid))
        runOnce(ev.filter(col("event_id") > mid))
        s.read.parquet(out)
          .groupBy("event_id")
          .agg(count(lit(1)).as("n_views"),
            sum(col("view_value").cast("decimal(18,2)")).cast("double")
              .as("view_value_sum"))
          .orderBy("event_id")
          .localCheckpoint(true)
      }
    }),

    // Cross-RUN stateful windowed aggregation: tumbling 1-hour
    // counts/sums per event type in COMPLETE output mode — the
    // aggregation state (one row per window × type, bounded by the
    // time span, not the event volume) lives in the checkpoint state
    // store, so run 2 folds today's events into yesterday's windows
    // and the final complete table equals the batch events_tumbling
    // answer on the union — the twin grades it with the identical
    // SQL. foreachBatch overwrites the sink per trigger (complete
    // mode's contract), so the last write IS the final state.
    "stream_tumbling_counts" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val mid = memoBounds(s, s"stream_bounds:events:$dir")(
        ev.agg(max(col("event_id")), min(col("ts")), max(col("ts")))).getLong(0) / 2
      val ss = harnessSession(s, ev, KeyedStorageTarget)
      withScratch("graft_stream_tumbling") { tmp =>
        val in = s"$tmp/in"
        val ck = s"$tmp/ck"
        val out = s"$tmp/out"
        def runOnce(batch: DataFrame): Unit = {
          batch.repartition(writeParts(s, batch)).write.mode("append").parquet(in)
          val stream = ss.readStream.schema(batch.schema).parquet(in)
          EventStreams.tumblingCounts(stream).writeStream
            .option("checkpointLocation", ck)
            .outputMode("complete")
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("overwrite").parquet(out)
            }
            .start().awaitTermination()
        }
        runOnce(ev.filter(col("event_id") <= mid))
        runOnce(ev.filter(col("event_id") > mid))
        s.read.parquet(out)
          .select(
            date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("event_type"), col("n"), col("total_value"))
          .orderBy("window_start", "event_type")
          .localCheckpoint(true)
      }
    })
  )

  private def agreeSql: String =
    (0 until TextQueries.NumSigs)
      .map(i => s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")

  val oracle: Map[String, String] = Map(
    // the batch twin of the two-run incremental state: first-seen
    // (lowest doc_id) survivor per exact content hash
    "stream_incremental_dedup" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS content_hash
        |FROM documents GROUP BY md5(text)
        |ORDER BY doc_id""".stripMargin,

    // the batch twin of the audit-mode band-bucket state: all pairs
    // sharing ≥1 LSH band whose signature agreement clears
    // minEst = 0.5 ⟺ n_agree ≥ 6 of 12 (exact integer compare —
    // no double threshold can straddle an engine boundary)
    "stream_incremental_neardup" ->
      s"""${TextQueries.shingleCte.replace("FROM documents",
             "FROM documents WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')")}, ${TextQueries.bandsCte}, cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |), agree AS (
         |  SELECT c.a_id, c.b_id, CAST($agreeSql AS BIGINT) AS n_agree
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc_id = c.a_id
         |  JOIN sigs sb ON sb.doc_id = c.b_id
         |)
         |SELECT a_id, b_id, n_agree FROM agree
         |WHERE n_agree >= ${TextQueries.NumSigs / 2}
         |ORDER BY a_id, b_id""".stripMargin,

    // audit-mode streaming sign-LSH == the batch bucketed join at the
    // FIXED 6-plane geometry (streaming state keys must stay stable
    // across runs, so the stream pins its plane count — a
    // volume-governed key would re-bucket in-state vectors as the
    // corpus grows), so the twin is the ann_lsh_pairs_fixed oracle
    // over the SAME md5-bucketed 25% sample the stream query reads
    // (per-vector bucketing/cosine commute with corpus restriction —
    // the stream_incremental_neardup sampling argument)
    "stream_incremental_ann" -> AnnQueries.oracle("ann_lsh_pairs_fixed")
      .replace("FROM embeddings",
        "FROM embeddings WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')"),

    // audit-mode streaming dHash banding == the batch hamming-LSH
    // join: the distinct readout over band buckets is exactly the
    // mm_neardup relation (integer hamming — no rounding contract to
    // worry about), so the twin is the mm_neardup oracle VERBATIM
    "stream_incremental_mmdedup" -> MultimodalQueries.oracle("mm_neardup"),

    // the complete stream-stream join match set aggregates to the
    // batch range join — same twin, verbatim
    "stream_interval_join" -> EventQueries.oracle("events_range_join"),

    // the final complete-mode table must equal the batch tumbling
    // aggregation on the union of both runs — same twin, verbatim
    "stream_tumbling_counts" -> EventQueries.oracle("events_tumbling")
  )
}
