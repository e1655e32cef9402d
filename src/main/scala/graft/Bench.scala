package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.schema.AvroSchemaGen
import graft.sink.AvroSink
import graft.sources.ParquetSource
import graft.streaming.EventStream

/** Benchmark main — runs the FULL query catalog on
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints the metrics JSON twice:
  * the full per-query line first, then a COMPACT line (same totals,
  * headline queries only) last, so a driver that captures a bounded tail
  * of the output always retains one intact parseable line (the r5 full
  * line outgrew the tail and parsed as null).
  *
  * The first entry is the engine's core capability (parquet→Avro export of
  * the full lineitem table) reported with the reference's own metric names
  * inside the `export` sub-object, so BENCH_r{N}.json is comparable with
  * BASELINE.md run over run.
  *
  * Coverage contract (round 5): every `SparkEntry.queries` entry is timed —
  * the `headline` vector keeps its round-4 order so cross-round deltas on
  * those names stay directly comparable, and the remaining catalog follows
  * in sorted order. Two genuine Structured Streaming rows
  * (`stream_export_avro`, `stream_sessionize`) time the streaming path —
  * file-source micro-batches under `Trigger.AvailableNow()`, fresh
  * checkpoint per run — so streaming regressions are visible per-round,
  * not just batch.
  *
  * Estimator note: EVERY row reports best-of-2 (see `time2`): catalog
  * queries since round 4, export rows since round 7, and — since round 8 —
  * the streaming rows too. Each streaming run creates a FRESH checkpoint
  * and output dir inside the timed body, so both runs execute the complete
  * cold micro-batch protocol (source listing, state store init, commit
  * log); only JVM-level warmth (codegen, FS cache) carries over, exactly
  * as for the batch rows. Measured motivation: single-shot streaming rows
  * wandered 0.76–2.52 s across identical code (DESIGN.md), swamping real
  * regressions. The JSON carries `"estimator"` so snapshots from rounds ≤7
  * (single-shot streaming) aren't misread as regressions.
  */
object Bench {

  /** Machine load at capture time (VERDICT r9 #8): the documented 15-45%
    * bench drift on identical code is machine-load noise; recording
    * 1/5/15-min loadavg into every snapshot turns drift adjudication from
    * archaeology into a field comparison. Best-effort: absent /proc (non-
    * Linux) reports "n/a" rather than failing the bench.
    */
  private[graft] def readLoadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: Throwable => "n/a" }

  /** Idle gate (VERDICT r10 #6 / r11 #6, tightened r13 #2): the drift
    * ledger shows numbers captured above ~1.5 1-min loadavg are dominated
    * by foreign load, and r13's one `weak` row started at loadavg 1.49 —
    * AT the old gate — so the default is now 0.8: runs start on a truly
    * quiet box or carry a load stamp explaining why not. Wait — bounded —
    * for the machine to drain before the first timed section.
    * `SPARK_GRAFT_MAX_LOAD` overrides the threshold (`0` disables the
    * gate); the wait is capped at `maxWaitSec` so a busy driver host
    * still gets a (load-stamped) number instead of a hang.
    */
  private def awaitIdle(maxLoad: Double, maxWaitSec: Int = 180): Unit = {
    if (maxLoad <= 0) return
    val deadline = System.nanoTime() + maxWaitSec * 1000000000L
    while (System.nanoTime() < deadline &&
        readLoadAvg().split(" ").headOption.flatMap(_.toDoubleOption)
          .exists(_ > maxLoad)) {
      Thread.sleep(5000)
    }
  }

  /** Host-speed calibration canary (VERDICT r16 #2): a pinned pure-JVM
    * xxhash-style loop over a constant 4 MiB buffer, timed at snapshot
    * start and end. Unlike loadavg (which reports queue length, not how
    * much the queue actually slows THIS process), calib_ms measures how
    * fast the host runs a fixed deterministic workload — so a suspect
    * bench row can be adjudicated as a measured ratio (row_time / calib)
    * instead of the r14→r16 "the day is slow" canary-inference chain.
    * `single` pins per-core speed (frequency scaling, steal); `multi`
    * runs the same loop on every core, pinning contention under foreign
    * load — the regime the Spark rows actually execute in.
    */
  private[graft] object Calib {
    private val N = 1 << 19 // 512k longs = 4 MiB, L2/L3-resident
    private val buf: Array[Long] = {
      val a = new Array[Long](N)
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < N) { // splitmix64 fill from a fixed seed: constant content
        x += 0x9E3779B97F4A7C15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        a(i) = z ^ (z >>> 31)
        i += 1
      }
      a
    }
    @volatile private var sink: Long = 0L // defeat dead-code elimination

    private def run(passes: Int): Long = {
      var h = 0x27D4EB2F165667C5L
      var p = 0
      while (p < passes) {
        var i = 0
        while (i < N) {
          h ^= buf(i) * 0xC2B2AE3D27D4EB4FL
          h = java.lang.Long.rotateLeft(h, 31) * 0x9E3779B185EBCA87L
          i += 1
        }
        p += 1
      }
      h
    }

    /** Single-thread wall ms for a fixed pass count, best-of-3 after a
      * JIT warm run — the per-core speed stamp.
      */
    def singleMs(): Double = {
      sink ^= run(20) // warm: compile the loop before timing it
      var best = Double.MaxValue
      var r = 0
      while (r < 3) {
        val t0 = System.nanoTime()
        sink ^= run(150)
        best = math.min(best, (System.nanoTime() - t0) / 1e6)
        r += 1
      }
      best
    }

    /** All-cores wall ms: one thread per processor running the identical
      * loop; under foreign load this inflates where `singleMs` may not.
      */
    def multiMs(): Double = {
      val n = Runtime.getRuntime.availableProcessors()
      def once(): Double = {
        val t0 = System.nanoTime()
        val ts = (0 until n).map { _ =>
          val t = new Thread(() => { sink ^= run(60) })
          t.start(); t
        }
        ts.foreach(_.join())
        (System.nanoTime() - t0) / 1e6
      }
      once() // warm
      math.min(once(), once())
    }
  }

  def main(args: Array[String]): Unit = {
    val maxLoad = sys.env.get("SPARK_GRAFT_MAX_LOAD").flatMap(_.toDoubleOption)
      .getOrElse(0.8)
    awaitIdle(maxLoad)
    val loadAtStart = readLoadAvg()
    val calibStart = Calib.singleMs()
    val calibMtStart = Calib.multiMs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // r18: session config centralized in SessionFactory (VERDICT r17 #3) —
    // the r17 cached-plan AQE flag and its rationale live there now, shared
    // with the production CLI entries instead of being harness-private.
    val spark = SessionFactory.builder(s"local[$cpus]", "graft-bench", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Round-4 headline set, order preserved for cross-round comparability.
    val headline = Vector(
      "q1_agg", "q3_join_agg", "q5_multi_join", "w1_window_topk", "s1_full_scan",
      "q_grouped_topk", // heap-aggregate top-k vs w1's window form
      "q_scalar_subquery", // correlated-subquery plan (broadcast dim agg)
      "events_sessionize", "events_hourly_agg", "events_range_join",
      "events_session_window", // native session_window aggregation
      "text_line_dedup", // corpus boilerplate removal (size-gated mark join)
      "text_hash_embedding", // hashing-trick vectorization
      "pipeline_vectorize", // composed: line dedup -> vectors -> rollup
      "text_fingerprint", "text_quality",
      "text_term_stats", // Expand-heavy inverted-index plan
      "text_decontaminate", // broadcast eval-gram join
      "text_pack_sequences", // per-shard packing windows
      "dedup_minhash", "dedup_simhash", "dedup_exact",
      "dedup_incremental", // new-vs-corpus broadcast banding
      "dedup_clusters", // iterative large-star/small-star CC
      "dedup_embedding", // blocked grid self-join (exact threshold)
      "ann_topk", "ann_lsh", "multimodal_meta")
    // Everything else in the catalog, so no query can regress unobserved.
    val catalog = headline ++
      (SparkEntry.queries.keySet -- headline).toVector.sorted

    def time[A](body: => A): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // Bench artifacts (Avro exports, streaming checkpoints) are deleted at
    // the end of the run — even a FAILED one (try/finally below) — so
    // repeated bench runs never accumulate data under /tmp.
    val tempDirs = scala.collection.mutable.ArrayBuffer[String]()
    def tempDir(prefix: String): String = {
      val d = Files.createTempDirectory(prefix).toString
      tempDirs += d
      d
    }
    // Best-of-2: single-shot timings at local[32] carry ±20-30% scheduler/GC
    // noise (measured); the min of two runs is the standard low-variance
    // estimator for a deterministic workload.
    def time2[A](body: => A): Double = math.min(time(body), time(body))

    try {

    // Warm the JVM (codegen paths, parquet footers, FS cache) before any
    // timed section — standard bench hygiene so run 1 isn't a JIT sample.
    Seq("lineitem", "documents", "embeddings", "events")
      .foreach(t => ParquetSource.read(spark, s"$sfDir/$t.parquet").count())
    // Warm each query SHAPE once at the smallest SF: codegen compilation
    // (janino) costs ~100s of ms per novel operator tree and is a one-time
    // JVM cost, not per-query work — timing it would measure compiler
    // throughput, not engine throughput.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) catalog.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).count()
      catch { case scala.util.control.NonFatal(_) => () }
    }

    // Per-row failure isolation (r16 harness deep-read): without it, ONE
    // throwing row (whose warm-pass failure was swallowed above) crashes
    // the run after the finally-cleanup and the driver gets NO artifact at
    // all — 130 rows lost to one. `update` takes the timing body BY NAME,
    // so the plain `results("x") = <timed body>` call sites keep their
    // shape and every row is isolated. A failed row records the -1.0
    // sentinel, is excluded from `total`, and is listed in the JSON's
    // "failed" field so it cannot pass as a fast run.
    val failedRows = scala.collection.mutable.ArrayBuffer[String]()
    object results {
      val m = scala.collection.mutable.LinkedHashMap[String, Double]()
      def update(name: String, body: => Double): Unit =
        try m(name) = body
        // NonFatal only: an OOM or linkage error means the JVM is wounded —
        // continuing to bench would record garbage for every later row
        catch { case scala.util.control.NonFatal(e) =>
          failedRows += name
          m(name) = -1.0
          System.err.println(s"[bench] ROW FAILED $name: ${e.getMessage}")
        }
      def contains(k: String): Boolean = m.contains(k)
      def apply(k: String): Double = m(k)
      def size: Int = m.size
    }

    // Re-armed idle gate (VERDICT r16 #8): the start-of-run gate only
    // guards the FIRST timed section; the warm passes above take minutes,
    // during which foreign load can arrive — exactly how the driver's
    // BENCH_r16 export row got poisoned while the run start looked idle.
    // A short (60 s) re-arm before each timed section, with the post-gate
    // loadavg stamped into the JSON, makes a gate timeout artifact-visible.
    awaitIdle(maxLoad, 60)
    val loadAtExport = readLoadAvg()

    // 1. Avro export of the full bench table (dbeam's actual job) —
    // best-of-2 like the catalog rows (round-7 fix): the single-shot export
    // headline swung ±30-40% round over round against byte-identical code,
    // which made the driver artifact (the official signal) misreport a
    // local improvement as a regression. Each run writes a FRESH temp dir,
    // so both runs execute the full write protocol; `exportMetrics` keeps
    // the faster run's metrics — the same estimator the wall-clock uses.
    var exportMetrics: AvroSink.Metrics = null
    def timedExport(codec: String, keepMetrics: Boolean,
        parallelism: Int = 32): Double = {
      // r12 re-measurement (ExportParProbe) REVERSED the round-7 note: the
      // serial deflate encode of the 1-row-group fixture dominates end to
      // end (deflate1: 1.49 s straight vs 0.15 s at repartition(32);
      // zstandard1: 0.91 vs 0.13 s) — the shuffle is 60 MB and free next
      // to it. So the headline export now runs the way a user runs the CLI
      // on this box (`--queryParallelism=32`, dbeam's X1 analogue);
      // `export_avro_1p` keeps the straight-through number for
      // round-over-round continuity. On a real multi-file 100 TB input the
      // scan itself provides the parallelism and ensureWriteParallelism is
      // a no-op.
      val df0 = ParquetSource.read(spark, s"$sfDir/lineitem.parquet")
      val df = if (parallelism <= 1) df0
        else AvroSink.ensureWriteParallelism(df0, parallelism)
      val schema = AvroSchemaGen.generate(df0.schema, AvroSchemaGen.Config(tableName = "lineitem"))
      var bestMetrics: AvroSink.Metrics = null
      var best = Double.MaxValue
      for (_ <- 0 until 2) {
        val out = tempDir(s"graft-bench-export-$codec")
        var m: AvroSink.Metrics = null
        val t = time { m = AvroSink.write(df, schema, out, codec) }
        if (t < best) { best = t; bestMetrics = m }
      }
      if (keepMetrics) exportMetrics = bestMetrics
      best
    }
    // `export_avro` stays on the SERIAL protocol every round since r1 has
    // recorded under that key (r13, ADVICE: r12 briefly re-pointed it at the
    // 32-way write, a ~10× step that was a measurement-protocol change, not
    // a speedup — cross-round tooling diffing the key would misread it).
    // The CLI-style parallel run gets its own series key, `export_avro_32p`.
    // The `export` METRICS block stays on the serial run too — its
    // writeElapsedMs/msPerMillionRows are SUMS of per-partition times (the
    // reference's A3 metrics reduction), which on a 32-way write add 32
    // writers' clocks together and stop being comparable to the serial
    // first-light series.
    results("export_avro") = timedExport("deflate1", keepMetrics = true, parallelism = 1)
    results("export_avro_32p") = timedExport("deflate1", keepMetrics = false)

    // 1b. Same export with zstandard1 — the reference's e2e codec matrix
    // is {deflate1, zstandard1} (`e2e/e2e.sh:104-108`). Serial, same series
    // protocol as `export_avro` (r10/r11 recorded it serial).
    results("export_avro_zstd") = timedExport("zstandard1", keepMetrics = false, parallelism = 1)
    results("export_avro_zstd_32p") = timedExport("zstandard1", keepMetrics = false)

    // 2. Catalog queries, count() as the action, best of 2 runs.
    awaitIdle(maxLoad, 60) // re-armed gate (r16 #8)
    val loadAtCatalog = readLoadAvg()
    catalog.foreach { name =>
      val fn = SparkEntry.queries(name)
      results(name) = time2(fn(spark, sfDir).count())
    }

    // 3. Streaming rows — genuine micro-batch execution over the events
    // file source (one committed batch under AvailableNow). Best-of-2 with
    // a FRESH checkpoint/output dir per run, so both runs execute the full
    // cold protocol and the reported number is the low-variance estimator.
    //
    // shuffle.partitions is sized to STATE VOLUME for this section (r9):
    // StreamJoinProbe proved the stateful rows' cost is the per-partition
    // state-store commit (32 partitions ≈ 5.4 s of which ~3.3 s is store
    // commits; 8 partitions ≈ 2.1 s, outputs identical), and at bench state
    // sizes 8 instances amortize fine — exactly how production sizes a
    // streaming job. Fresh checkpoints per run mean the conf takes effect
    // every time; restored to the engine default after the section.
    awaitIdle(maxLoad, 60) // re-armed gate (r16 #8)
    val loadAtStreaming = readLoadAvg()
    val batchShufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // Layout-aware file-source streams (ADVICE r15): a fixed
    // `pathGlobFilter=<name>.parquet` over the parent dir lists ZERO files
    // against a directory-of-parts fixture (vacuous fast numbers), while a
    // direct table path crashes on a single-file fixture (FileStreamSource
    // pins basePath). FileStreams.streamTable picks per layout; 3a
    // additionally asserts non-vacuous input for the section.
    val eventsSchema = ParquetSource.read(spark, s"$sfDir/events.parquet").schema
    def eventsStream() =
      graft.streaming.FileStreams.streamTable(spark, sfDir, "events", eventsSchema)

    // 3a. Streaming Avro export: file-stream -> foreachBatch AvroSink.
    // The first streaming row also guards the whole section: a silent
    // zero-file listing must fail loudly, not bench an empty stream.
    results("stream_export_avro") = time2 {
      val out = tempDir("graft-bench-stream-export")
      val q = graft.streaming.StreamExport.start(eventsStream(), out)
      q.awaitTermination()
      require(q.recentProgress.map(_.numInputRows).sum > 0,
        s"events stream read ZERO rows from $sfDir/events.parquet — fixture layout or glob is wrong")
    }

    // 3b. Stateful streaming: flatMapGroupsWithState sessionization with
    // event-time timeout, results discarded executor-side (noop sink).
    results("stream_sessionize") = time2 {
      import spark.implicits._
      val sessions = EventStream.sessionizeStream(
        eventsStream()
          .transform(graft.operators.Relational.normalizeEventTs)
          .select("user_id", "event_id", "ts")
          .withWatermark("ts", "1 minute")
          .as[EventStream.Event])
      val ckpt = tempDir("graft-bench-stream-sess")
      val q = sessions.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // 3c. Stream-stream LEFT OUTER interval join: both sides watermarked
    // file streams, join state + watermark-gated null emission exercised
    // under AvailableNow — the per-round timing for the stateful join
    // protocol (its correctness twin is the events_interval_left_join
    // oracle row).
    results("stream_interval_join") = time2 {
      def side(tpe: String) = eventsStream()
        .transform(graft.operators.Relational.normalizeEventTs)
        .filter(col("event_type") === tpe)
        .select("user_id", "event_id", "ts")
      val joined = EventStream.clickPurchaseLeftJoin(side("click"), side("purchase"))
      val ckpt = tempDir("graft-bench-stream-ij")
      val q = joined.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // 3d. Streaming incremental dedup: a file-stream of the newest 10% of
    // documents checked per micro-batch against the persisted corpus
    // signature store (built untimed — it is the nightly pipeline's
    // standing artifact; the timed section is the increment protocol).
    results("stream_incremental_dedup") = {
      val nDocs = ParquetSource.read(spark, s"$sfDir/documents.parquet").count()
      val splitId = nDocs * 9 / 10
      val store = tempDir("graft-bench-sigstore")
      graft.operators.Dedup.writeSignatureStore(
        graft.operators.Dedup.docShingleArrays(spark, sfDir), store, splitId)
      val corpusBands = ParquetSource.read(spark, s"$store/bands.parquet")
      val corpusArrays = graft.operators.Dedup.docShingleArrays(spark, sfDir)
        .filter(col("doc_id") < splitId)
      val docsSchema = ParquetSource.read(spark, s"$sfDir/documents.parquet").schema
      time2 {
        val newDocs = graft.streaming.FileStreams
          .streamTable(spark, sfDir, "documents", docsSchema)
          .filter(col("doc_id") >= splitId)
          .select("doc_id", "text")
        val ckpt = tempDir("graft-bench-stream-inc")
        val q = graft.streaming.StreamDedup.start(
          newDocs, corpusArrays, corpusBands, 0.6, ckpt)((batch, _) => batch.count())
        q.processAllAvailable()
        q.stop()
      }
    }

    // 3d'. Streaming ANN index ingest (r10): the newest 10% of embeddings
    // streamed through the frozen-model encode into versioned increments
    // of a persisted IVF-PQ store (built untimed — it is the standing
    // nightly artifact; the timed section is the ingest protocol).
    results("stream_ann_ingest") = {
      val emb = ParquetSource.read(spark, s"$sfDir/embeddings.parquet")
      val nVecs = emb.count()
      val splitId = nVecs * 9 / 10
      val store = tempDir("graft-bench-ann-store")
      graft.operators.Similarity.writeIvfPqIndexFiltered(
        spark, sfDir, store, col("vec_id") < splitId)
      val embSchema = emb.schema
      time2 {
        val newVecs = graft.streaming.FileStreams
          .streamTable(spark, sfDir, "embeddings", embSchema)
          .filter(col("vec_id") >= splitId)
          .select("vec_id", "embedding")
        val ckpt = tempDir("graft-bench-ann-ingest")
        val q = graft.streaming.StreamAnnIngest.start(newVecs, store, ckpt)
        q.processAllAvailable()
        q.stop()
      }
    }

    // 3d''. Streaming boiler-count store (r13): documents streamed through
    // the versioned (segment-fingerprint -> distinct-doc count) fold; the
    // reader materializes the current boiler set.
    results("stream_line_dedup") = time2 {
      val store = tempDir("graft-bench-stream-sld")
      val ckpt = tempDir("graft-bench-stream-sld-ckpt")
      val docsSchema = ParquetSource.read(spark, s"$sfDir/documents.parquet").schema
      val newDocs = graft.streaming.FileStreams
        .streamTable(spark, sfDir, "documents", docsSchema)
        .select("doc_id", "text")
      val q = graft.streaming.StreamLineDedup.start(newDocs, store, ckpt)
      q.processAllAvailable()
      q.stop()
      graft.streaming.StreamLineDedup.boilerplate(spark, store).count()
    }

    // 3e. Streaming sketch rollup: micro-batch HLL blobs folded into the
    // versioned persisted store (the round-8 merge surface composed with
    // foreachBatch); fresh store + checkpoint per run.
    results("stream_sketch_rollup") = time2 {
      val store = tempDir("graft-bench-stream-sketch")
      val ckpt = tempDir("graft-bench-stream-sketch-ckpt")
      val q = graft.streaming.StreamSketch.start(
        eventsStream().select("event_type", "user_id"), store, ckpt,
        "event_type", "user_id")
      q.processAllAvailable()
      q.stop()
      graft.streaming.StreamSketch.estimates(spark, store, "event_type").count()
    }
    // r9 twins: the same versioned store protocol for theta (distinct
    // estimates via retained-hash union) and KLL (value quantiles)
    results("stream_sketch_rollup_theta") = time2 {
      val store = tempDir("graft-bench-stream-theta")
      val ckpt = tempDir("graft-bench-stream-theta-ckpt")
      val q = graft.streaming.StreamSketch.start(
        eventsStream().select("event_type", "user_id"), store, ckpt,
        "event_type", "user_id", kind = "theta")
      q.processAllAvailable()
      q.stop()
      graft.streaming.StreamSketch.estimates(spark, store, "event_type", kind = "theta").count()
    }
    results("stream_sketch_rollup_kll") = time2 {
      val store = tempDir("graft-bench-stream-kll")
      val ckpt = tempDir("graft-bench-stream-kll-ckpt")
      val q = graft.streaming.StreamSketch.start(
        eventsStream().select("event_type", "value"), store, ckpt,
        "event_type", "value", kind = "kll")
      q.processAllAvailable()
      q.stop()
      graft.streaming.StreamSketch.quantiles(spark, store, "event_type", Seq(0.5, 0.95)).count()
    }

    // r9: streaming FREQ heavy-hitters rollup — completes the versioned
    // sketch-store family (hll/kll/theta/freq)
    results("stream_sketch_rollup_freq") = time2 {
      val store = tempDir("graft-bench-stream-freq")
      val ckpt = tempDir("graft-bench-stream-freq-ckpt")
      val q = graft.streaming.StreamSketch.start(
        eventsStream().selectExpr("'all' AS k", "event_type AS v"),
        store, ckpt, "k", "v", kind = "freq")
      q.processAllAvailable()
      q.stop()
      graft.streaming.StreamSketch.heavyHitters(spark, store, "k").count()
    }

    // r9: streaming MAD monitor — versioned hourly-count store + shared
    // batch flags body
    results("stream_monitor") = time2 {
      val store = tempDir("graft-bench-stream-monitor")
      val ckpt = tempDir("graft-bench-stream-monitor-ckpt")
      val q = graft.streaming.StreamMonitor.start(
        eventsStream().transform(graft.operators.Relational.normalizeEventTs)
          .select("ts", "event_type"), store, ckpt)
      q.processAllAvailable()
      q.stop()
      graft.streaming.StreamMonitor.flags(spark, store).count()
    }

    // r9: streaming SCD2 maintenance — versioned run store + shared batch
    // interval body
    results("stream_scd2") = time2 {
      val store = tempDir("graft-bench-stream-scd2")
      val ckpt = tempDir("graft-bench-stream-scd2-ckpt")
      val q = graft.streaming.StreamScd2.start(
        eventsStream().select("event_id", "ts", "user_id", "event_type"),
        store, ckpt)
      q.processAllAvailable()
      q.stop()
      graft.streaming.StreamScd2.intervals(spark, store).count()
    }

    // r9: streaming last-touch attribution — one 16-byte state per user,
    // AvailableNow over the events file feeds the flatMapGroupsWithState
    results("stream_attribution") = time2 {
      import org.apache.spark.sql.streaming.Trigger
      import spark.implicits._
      val ckpt = tempDir("graft-bench-stream-attr-ckpt")
      val ds = eventsStream()
        .transform(graft.operators.Relational.normalizeEventTs)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .as[graft.streaming.EventStream.AttrEvent]
      val q = graft.streaming.EventStream.attributionStream(ds)
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    spark.conf.set("spark.sql.shuffle.partitions", batchShufflePartitions)

    // End-of-run calibration stamp: a start/end pair brackets the whole
    // capture, so load arriving MID-run (the r16 driver-export failure
    // mode) shows up as calib_ms_end >> calib_ms even when the start
    // looked clean.
    val calibEnd = Calib.singleMs()
    val calibMtEnd = Calib.multiMs()

    // Locale-pinned number rendering (r16 harness deep-read): the `f`
    // interpolator uses the JVM default locale — a comma-decimal locale
    // (e.g. de_DE) would print `1,234` and the driver's json.load would
    // fail, zeroing the round's bench.
    def fmt3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jsonLine(rows: collection.Map[String, Double], extra: String = ""): String = {
      val qs = rows.map { case (k, v) => "\"" + k + "\":" + fmt3(v) }.mkString("{", ",", "}")
      val em = if (exportMetrics == null) "{}"
        else exportMetrics.toMap.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      // total is ALWAYS the full-catalog sum; failed rows (-1 sentinel)
      // are excluded so they can't deflate it either.
      val total = fmt3(results.m.values.filter(_ >= 0).sum)
      val failed = if (failedRows.isEmpty) ""
        else s""","failed":${failedRows.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"export":$em,""" +
        s""""estimator":"best_of_2 (catalog, export, streaming; fresh dirs per run)",""" +
        s""""loadavg_start":"$loadAtStart","loadavg_end":"${readLoadAvg()}",""" +
        s""""loadavg_export":"$loadAtExport","loadavg_catalog":"$loadAtCatalog",""" +
        s""""loadavg_streaming":"$loadAtStreaming",""" +
        s""""calib_ms":${fmt3(calibStart)},"calib_mt_ms":${fmt3(calibMtStart)},""" +
        s""""calib_ms_end":${fmt3(calibEnd)},"calib_mt_ms_end":${fmt3(calibMtEnd)},""" +
        s""""sf":"$sfDir"$failed$extra}"""
    }
    // Full line first (the complete per-query map — the snapshot of record),
    // then a COMPACT line (headline + export + streaming rows only) printed
    // LAST: the round driver keeps a bounded tail of the output, and at 110+
    // catalog rows the full line's head — `"metric":"total"` included — falls
    // off that tail. The compact line always fits, so whichever line the
    // driver's tail retains intact parses to the same totals.
    println(jsonLine(results.m))
    val compactKeys = Vector("export_avro", "export_avro_32p", "export_avro_zstd",
      "export_avro_zstd_32p") ++ headline ++
      // r12: both margin-mining forms in the compact (driver-visible) set,
      // so a regression in the production IVF path can't hide behind the
      // exact oracle-gate path's number; r13 adds the new skew/hashed twins
      Vector("ann_margin_mining", "ann_margin_mining_ivf",
        "graph_link_predict_skew", "text_line_dedup_hashed") ++
      // r18 (VERDICT r17 #2, additions-only): the rows the optimization
      // rounds actually touched — plus every multi-second row — were
      // invisible to the driver's compact line, so the rounds' headline
      // claims were only verifiable from the repo's own snapshots. All the
      // heavy hitters are driver-visible series now.
      Vector("text_containment", "text_bpe", "text_bpe_encode",
        "pipeline_ppl_buckets", "stats_histogram_eqdepth", "stats_winsorize",
        "graph_pagerank", "graph_components", "graph_triangles",
        "graph_link_predict", "graph_lpa", "graph_reach",
        "dedup_semantic", "dedup_semantic_clusters", "dedup_ngram",
        "pipeline_curate", "ann_ivfpq_append_check", "ann_ivfpq_store_check",
        "ann_margin_mining_ivf_check") ++
      Vector("stream_export_avro", "stream_sessionize", "stream_interval_join",
        "stream_incremental_dedup", "stream_ann_ingest", "stream_line_dedup",
        "stream_sketch_rollup",
        "stream_sketch_rollup_theta", "stream_sketch_rollup_kll", "stream_sketch_rollup_freq",
        "stream_attribution", "stream_monitor", "stream_scd2")
    val compact = scala.collection.mutable.LinkedHashMap(
      compactKeys.collect { case k if results.contains(k) => k -> results(k) }: _*)
    println(jsonLine(compact, s""","queries_omitted":${results.size - compact.size}"""))

    } finally {
      tempDirs.foreach(d =>
        new scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively())
      spark.stop()
    }
  }
}
