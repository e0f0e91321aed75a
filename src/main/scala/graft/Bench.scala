package graft

object Bench {

  /** Structured-Streaming throughput of the reference pipeline's twin:
    * rate source → editDeltas filter/project → 5-min event-time window
    * agg (update mode) → DocStoreSink chunked/retried writes against
    * DirDocStore. The rate source over-provisions (3 M rows/s) so
    * micro-batches backlog and the measured figure is PIPELINE
    * capacity, not source cadence. Returns rows/sec from the
    * per-trigger progress (first trigger dropped — it absorbs stream
    * start + state-store init).
    */
  /** Temp dirs holding stream checkpoints/docs are deleted only AFTER
    * `spark.stop()` (see main): deleting while the session lives races
    * the async ChecksumCheckpointFileManager future still writing the
    * checkpoint — the resulting `createAtomic` [error] stack landed in
    * the BENCH_r09 artifact tail and nearly crowded out the JSON line
    * the driver parses. stop() + awaitTermination() quiesces the
    * query; session stop quiesces the file manager; only then is the
    * delete safe AND silent.
    */
  private val deferredTmps =
    scala.collection.mutable.ArrayBuffer[java.io.File]()

  /** Sleep through `seconds` of micro-batches, read the per-trigger
    * progress (first trigger dropped — it absorbs stream start +
    * state-store init), then stop and wait for full termination.
    * A progress entry may lack triggerExecution — don't NPE into the
    * caller's blanket catch (which would read as stream failure).
    */
  private def measureStream(q: org.apache.spark.sql.streaming.StreamingQuery,
      seconds: Int): Double = {
    def read(): Double = {
      val p = q.recentProgress.drop(1)
      val rows = p.map(_.numInputRows).sum
      val ms = p.map(pr => Option(pr.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)).sum
      if (ms <= 0) 0.0 else rows * 1000.0 / ms
    }
    val rps = try {
      Thread.sleep(seconds * 1000L)
      val first = read()
      // a loaded host can starve the window of any completed
      // post-warmup micro-batch and the figure reads 0 — a
      // measurement artifact, not a throughput (seen at loadavg 1.9:
      // stateful lane "0 rows/s" while the same build measured
      // 2.86 M on a quiet host). ONE bounded retry doubles the
      // window before shipping a zero; a genuinely wedged query
      // still reports 0 after 3× seconds.
      if (first > 0.0) first
      else { Thread.sleep(2L * seconds * 1000L); read() }
    } finally {
      try { q.stop(); q.awaitTermination() } catch { case _: Throwable => () }
    }
    rps
  }

  /** The over-provisioned (3 M rows/s, so micro-batches backlog and
    * the figure is PIPELINE capacity, not source cadence) synthetic
    * edit stream both streaming lanes read.
    */
  private def rateEdits(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.readStream.format("rate")
      .option("rowsPerSecond", 3000000L).option("numPartitions", 8).load()
      .select(col("timestamp").as("ts"), col("value"),
        when(pmod(col("value"), lit(10)) < 8, "human")
          .otherwise("bot").as("user_type"),
        when(pmod(col("value"), lit(5)) < 4, "Main Namespace")
          .otherwise("Talk").as("namespace"),
        concat(lit("d"), pmod(col("value"), lit(100))).as("domain"),
        (pmod(col("value"), lit(1000)) * 7).as("new_length"),
        (pmod(col("value"), lit(900)) * 5).as("old_length"))
  }

  /** Structured-Streaming throughput of the reference pipeline's twin:
    * rate source → editDeltas filter/project → 5-min event-time window
    * agg (update mode) → DocStoreSink chunked/retried writes against
    * DirDocStore. Returns rows/sec from the per-trigger progress.
    */
  private[graft] def streamBench(spark: org.apache.spark.sql.SparkSession,
      seconds: Int = 12): Double = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-bench")
    deferredTmps += tmp.toFile
    val out = graft.streaming.WikiEditPipeline.windowedEditSize(rateEdits(spark))
    val q = graft.streaming.DocStoreSink.start(out,
      graft.streaming.DocStoreSink.DirDocStore(tmp.resolve("docs").toString),
      tmp.resolve("ckpt").toString, flushInterval = "1 second",
      outputMode = "update")
    measureStream(q, seconds)
  }

  /** STATEFUL streaming throughput (r8 VERDICT item 10): the same rate
    * source driven through StreamDecay's mapGroupsWithState (3-scalar
    * managed state per key) — the state-store write path the windowed
    * lane never exercises. Noop sink (full computation, nothing
    * written) so the figure is the stateful operator's capacity.
    */
  private[graft] def streamBenchStateful(spark: org.apache.spark.sql.SparkSession,
      seconds: Int = 12): Double = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-bench-st")
    deferredTmps += tmp.toFile
    val evs = rateEdits(spark)
      .select(col("domain").as("event_type"),
        (lit(1723600000000000L) + col("value") * 1000L).as("t_us"),
        pmod(col("value"), lit(1000)).as("cents"))
      .as[graft.streaming.StreamDecay.Ev]
    val q = graft.streaming.StreamDecay.decayedCounters(evs)
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .start()
    measureStream(q, seconds)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    try f.delete() catch { case _: Throwable => () }
  }

  /** Delete every stream temp dir registered so far — call AFTER the
    * owning session is stopped (see the deferredTmps note above).
    * Shared with tools that drive the stream lanes outside
    * [[Bench.main]] (StreamRate) so their runs don't leak sink/
    * checkpoint dirs into /tmp.
    */
  private[graft] def cleanupStreamTmps(): Unit = {
    deferredTmps.foreach(d =>
      try deleteRecursively(d) catch { case _: Throwable => () })
    deferredTmps.clear()
  }

  /** The driver captures only the LAST ~2000 chars of sbt stdout; the
    * full per-query map at 80+ queries overflows that and truncates
    * the JSON head (r3-r5 artifacts arrived unparseable). So stdout
    * carries a bounded HEADLINE subset — every LLM-pipeline family
    * plus representative batch queries — while the complete 4-decimal
    * map goes to the [[artifactFile]] (committed per round, the
    * round-over-round comparison artifact).
    */
  private val headlinePrefixes = Seq("ann_", "dedup_", "curate_",
    "decontaminate", "embed_", "mm_", "sample_", "text_", "seq_",
    "profile_", "idx_", "graph_", "dq_", "mix_", "tok_", "search_",
    "pq_")
  private val headlineBatch = Set("q_edit_window", "q_filter_project",
    "q1_pricing_agg", "q_multijoin", "q_topn_join", "q_exists_sql",
    "q_snapshot_diff", "q_asof_join", "q_range_join", "q_window_running")
  private def isHeadline(name: String): Boolean =
    headlineBatch(name) || headlinePrefixes.exists(name.startsWith)

  /** Lanes whose Ω(n²) cost is CONTRACTUAL (exact pair enumeration) —
    * reported inside `total` but excluded from `total_nonquadratic`,
    * the scale-comparison figure: their growth law is pinned by
    * contract and re-measuring it tells the next round nothing (it
    * was 51 % of the r11 100× suite). Inputs are additionally capped
    * at scale (Similarity.QuadraticLaneCapRows).
    */
  private[graft] val quadraticContract =
    Set("dedup_embedding", "dedup_embedding_exact_hi")

  /** The `quadratic_lanes` artifact field: names the exclusion class
    * behind the total vs total_nonquadratic gap IN the artifact (the
    * suite's own no-silent-caps rule applied to its own reporting),
    * restricted to lanes that actually ran, in run order.
    */
  private[graft] def quadraticLanesJson(ran: Seq[String]): String =
    ran.collect { case n if quadraticContract(n) => "\"" + n + "\"" }
      .mkString("[", ",", "]")

  /** Fixed-work calibration probe: a single-threaded xorshift loop
    * whose quiet-host time is known, run (after one untimed JIT warm)
    * right before the suite. Exists because loadavg alone MISSED a
    * loaded host in r12: `noisy:false` at loadavg 2.78 while the
    * whole 161-lane suite shifted a uniform 1.37× and four lanes
    * crossed the 2× regression gate with zero code changes (r12
    * VERDICT item 8). Loadavg is a 1/5/15-min average that lags both
    * bursts and just-started competitors; actually TIMING fixed work
    * measures the contention the suite is about to experience.
    */
  private[graft] def calibrationProbeMs(): Double = {
    def pass(): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      x
    }
    val sink = pass() // untimed JIT warm
    val t0 = System.nanoTime()
    val sink2 = pass()
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink == 42L && sink2 == 43L) System.err.println("[bench] probe")
    ms
  }

  /** Parallel arm of the calibration probe: every thread streams a
    * private long array (memory-bandwidth-bound, unlike the
    * register-only xorshift arm) and the WALL time of the slowest
    * thread is the figure. Exists because the single-thread arm is
    * blind to the contention that actually shifts a 32-thread suite:
    * r13's final run read probe-quiet (393.6 vs 383.5 ms baseline)
    * at loadavg 3.60 while the whole suite sat ~1.2× over its quiet
    * mid-round run — a handful of background hogs on a 32-core box
    * steals little CPU from one pinned thread but plenty of shared
    * memory bandwidth/LLC from 32. Sized small (8 MiB × threads) so
    * the probe is bandwidth-bound, not capacity-bound, and runs in
    * ~0.5 s.
    */
  private[graft] val ProbeThreads = 32
  private[graft] def calibrationProbeParMs(
      threads: Int = ProbeThreads): Double = {
    val words = (8 << 20) / 8 // 8 MiB of longs per thread
    def pass(a: Array[Long], rounds: Int): Long = {
      var s = 0L; var r = 0
      while (r < rounds) {
        var i = 0
        while (i < a.length) { s += a(i); a(i) = s; i += 1 }
        r += 1
      }
      s
    }
    // Thread start, JIT, and first-touch page zeroing sit OUTSIDE the
    // timed windows (each thread warms its own array, then all release
    // together off a barrier): with them inside, the figure spread
    // 80-147 ms run to run — 1.8× of scheduling noise on ~100 ms of
    // work, tripping the gate on nothing. The figure is the MIN of
    // three barrier-aligned steady-state windows (64 passes × 8 MiB ×
    // threads ≈ 16 GiB each at 32): sub-second spikes (one window) are
    // filtered, while the sustained multi-minute contention that
    // actually shifts a suite (the r12/r13 envelope) inflates all
    // three. Measured single-window spread without the min was still
    // 177-280 ms on this box's fluctuating background load.
    val windows = 3
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val wallMs = new Array[Double](windows)
    @volatile var t0 = 0L
    val start = new java.util.concurrent.CyclicBarrier(threads,
      () => t0 = System.nanoTime())
    var w = 0
    val finish = new java.util.concurrent.CyclicBarrier(threads, () => {
      wallMs(w) = (System.nanoTime() - t0) / 1e6; w += 1
    })
    val ts = (1 to threads).map { i =>
      val t = new Thread(() => {
        val a = new Array[Long](words)
        a(0) = i
        sink.addAndGet(pass(a, 8)) // untimed: JIT + page touch
        var k = 0
        while (k < windows) {
          start.await()
          sink.addAndGet(pass(a, 64)) // timed steady-state window
          finish.await()
          k += 1
        }
      })
      t.start(); t
    }
    ts.foreach(_.join())
    if (sink.get == 42L) System.err.println("[bench] par probe")
    wallMs.min
  }

  /** Quiet-host probe time on the reference box (measured r13:
    * 336-345 ms over 5 post-warm runs at loadavg ~1.9). Documentation
    * and spec fixture ONLY — the live baseline is the min over the
    * HOST-KEYED, AGED probe history ([[quietBaseline]], persisted as
    * `probe_hist`/`probe_par_hist` + `probe_host` in bench_full.json):
    * an absolute constant would make any host ≥ 3× slower than the
    * reference read permanently `noisy`, silencing the regression
    * gate forever. 3× is the contention slack — CPU-steal that
    * triples fixed single-threaded work will inflate suite lanes
    * well past the 2× gate, so the gate must not fire.
    */
  private[graft] val QuietProbeMs = 340.0

  /** Probe history window: the baseline is the min over the last
    * this-many runs ON THIS HOST, so (a) a committed artifact
    * traveling to a slower machine cannot poison it (host key —
    * r13 ADVICE), and (b) a stale minimum from a faster PAST state
    * of the same host ages out after K runs instead of marking the
    * box permanently noisy (r13 VERDICT item 8).
    */
  private[graft] val ProbeHistLen = 8

  /** Bump when either probe's WORK changes (loop counts, array
    * sizes): history from a different probe version is meaningless
    * as a baseline and is discarded on read (hit live: the 6-pass
    * par probe's 33 ms baseline read the 64-pass probe as noisy).
    */
  private[graft] val ProbeVersion = 4

  /** Whether the previous artifact's probe history may seed this
    * run's baseline: only when it was recorded on the same host name,
    * at the same core count and by the same probe version. A committed
    * artifact travels across machines, and hosts of different sizes
    * share a name (`vm`), so a baseline from a faster or wider box
    * would mark this one permanently noisy. Artifacts predating a key
    * carry none and are discarded (the window self-seeds in one run).
    */
  private[graft] def keepProbeHistory(prevHost: Option[String],
      prevCores: Option[Int], prevVer: Option[Int],
      host: String, cores: Int): Boolean =
    prevHost.contains(host) && prevCores.contains(cores) &&
      prevVer.contains(ProbeVersion)

  /** Append the current reading to the (already host-filtered) prev
    * history, keeping the last [[ProbeHistLen]] entries. Garbage
    * readings (≤ 0, corrupted artifact) are dropped.
    */
  private[graft] def probeWindow(cur: Double,
      prevHist: Seq[Double]): Seq[Double] =
    prevHist.filter(_ > 0).takeRight(ProbeHistLen - 1) :+ cur

  /** Rolling-minimum quiet baseline over the aged window: contention
    * only ever INFLATES a probe, so the windowed min converges on the
    * host's true quiet speed — no hardware constant needed. A first
    * run (no history) is its own baseline: never probe-noisy, and a
    * contended first baseline self-corrects downward on later quiet
    * runs.
    */
  private[graft] def quietBaseline(hist: Seq[Double]): Double =
    if (hist.isEmpty) 0.0 else hist.min

  /** Parallel-arm noisy threshold: run-to-run variance of the
    * bandwidth probe on a quiet box is well under 10 %, so 1.4× the
    * windowed min is real contention, and the bandwidth contention
    * that shifts a 32-thread suite ≥ 1.3-1.5× (the r12/r13 envelope)
    * inflates an all-cores bandwidth probe at least as much.
    */
  private[graft] val ParNoisyFactor = 1.4

  /** The host is too contended for round-over-round lane comparisons
    * when ANY signal fires: loadavg (cheap, catches sustained load),
    * the single-thread probe (CPU steal loadavg lags), or the
    * parallel probe (memory-bandwidth contention both others miss).
    * A zero quiet baseline (first run on a host) disables that arm.
    */
  private[graft] def noisyHost(loadavg: Double, probeMs: Double,
      quietProbeMs: Double = QuietProbeMs,
      probeParMs: Double = 0.0, quietParMs: Double = 0.0): Boolean =
    loadavg > 4.0 ||
      (quietProbeMs > 0 && probeMs > 3.0 * quietProbeMs) ||
      (quietParMs > 0 && probeParMs > ParNoisyFactor * quietParMs)

  /** Median of cur/prev over lanes present on both sides — the
    * suite-wide shift estimate. Host contention moves the whole
    * suite by a near-uniform factor (r12: 1.37-1.48×, r13: ~1.2×,
    * both adjudicated by hand exactly this way); a real regression
    * is idiosyncratic to its lane. Normalizing each lane's ratio by
    * this median mechanizes that adjudication. Clamped at ≥ 1 so a
    * FASTER suite (host got quieter) never inflates ratios into
    * false flags, and defaulting to 1 under [[MinLanesForShift]]
    * shared lanes (a dev-loop subset must not self-normalize its own
    * regression away).
    */
  private[graft] val MinLanesForShift = 8
  private[graft] def medianShift(prev: Map[String, Double],
      cur: Seq[(String, Double)]): Double = {
    val ratios = cur.collect {
      case (n, t) if t >= 0 && prev.get(n).exists(_ > 0) => t / prev(n)
    }.sorted
    if (ratios.size < MinLanesForShift) 1.0
    else {
      val mid = ratios.size / 2
      val m = if (ratios.size % 2 == 1) ratios(mid)
        else (ratios(mid - 1) + ratios(mid)) / 2
      math.max(1.0, m)
    }
  }

  /** Absolute floor under the regression gate: a lane flags only if
    * the (shift-normalized) time and its baseline are both ≥ 1 s, or
    * the normalized delta is ≥ 1 s. r13 shipped text_chunk
    * 0.12 s → 0.41 s as "regressed" — 0.29 s of scheduler jitter on
    * a 32-core box; any sub-second lane can trip a pure 2× ratio on
    * noise no probe can see.
    */
  private[graft] val RegressFloorSec = 1.0

  /** Regression gate over the `prev` trend map: lanes whose
    * suite-median-normalized time is ≥ 2× their previous time AND
    * clears [[RegressFloorSec]], evaluated ONLY when the host is
    * quiet (contention inflates unevenly — a noisy run would flag
    * half the suite) and only against a prev run at the SAME sf dir
    * (scale runs share the cwd artifact; a 100× prev would flag
    * everything). Failed lanes (-1) never enter either side.
    */
  /** The gate predicate shared by the in-suite pass and the
    * post-suite confirmation pass: shift-normalized ≥ 2× over prev,
    * above [[RegressFloorSec]].
    */
  private def clearsGate(p: Double, t: Double, shift: Double): Boolean = {
    val norm = t / shift
    p > 0 && norm >= 2.0 * p &&
      (math.min(p, norm) >= RegressFloorSec ||
        norm - p >= RegressFloorSec)
  }

  private[graft] def regressedLanes(prev: Map[String, Double],
      cur: Seq[(String, Double)], noisy: Boolean,
      sameSf: Boolean): Seq[String] =
    if (noisy || !sameSf) Seq.empty
    else {
      val shift = medianShift(prev, cur)
      cur.collect {
        case (name, t) if t >= 0 &&
          prev.get(name).exists(clearsGate(_, t, shift)) => name
      }.sorted
    }

  /** Post-suite CONFIRMATION of gate candidates (r14): the probes
    * and the median shift catch contention that is either present at
    * suite start or uniform across it, but a 10-20 s host stall in
    * the MIDDLE of a quiet run inflates a few consecutive
    * alphabetical lanes and nothing else — min-of-2 can't filter a
    * stall longer than the lane (both in-suite runs sit inside it),
    * and the suite median never moves (measured twice on one quiet
    * r14 day: curate_dsir+curate_dsir_hashed 2.4× in one run,
    * text_search_bm25..text_top_ngrams ~2× in the next, every lane
    * re-timing clean in isolation). A transient stall has passed by
    * suite end; a genuine code regression reproduces whenever the
    * lane runs. So each candidate re-times once post-suite and the
    * flag ships only if the re-time still clears the same normalized
    * threshold; cleared lanes ship as "transient" so the stall is
    * still visible in the artifact, and a FAILED re-time keeps the
    * flag (no evidence, no acquittal).
    */
  private[graft] def confirmRegressions(candidates: Seq[String],
      prev: Map[String, Double], shift: Double,
      reTime: String => Double): (Seq[String], Seq[String]) = {
    val (confirmed, transient) = candidates.partition { name =>
      val t = reTime(name)
      t < 0 || prev.get(name).exists(clearsGate(_, t, shift))
    }
    (confirmed.sorted, transient.sorted)
  }

  /** The full-map artifact a run at `sfDir` writes and reads its
    * `prev` from: the sf0.1 record keeps `bench_full.json`; any other
    * data dir gets `bench_<dir basename>.json`, so a scale run can
    * never overwrite the sf0.1 record (or compare against it).
    */
  private[graft] def artifactFile(sfDir: String): String =
    java.nio.file.Paths.get(sfDir).getFileName.toString match {
      case "sf0.1" => "bench_full.json"
      case base => s"bench_$base.json"
    }

  /** The `metrics` artifact field: per lane, in run order, the
    * [[LaneMetrics]] of its second (warm) timed run, with `compiles`
    * holding both runs' Janino compiles; `hnsw_build` is the shared
    * ann_hnsw* graph prebuild (`hnsw_build_sec`). The first run is the
    * lane's cold one; with the generated-class cache sized to the
    * catalog ([[GraftSession.CodegenCacheEntries]]) the second compiles
    * nothing unless the lane inlines a per-call value into generated
    * code.
    */
  private[graft] def metricsJson(rs: Seq[(String, LaneMetrics.Counts)])
      : String =
    rs.map { case (k, m) => "\"" + k + "\":" + m.json }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // partitions sized to the benched data dir (the §5 rule as
    // default behavior) — at sf0.1 this is still = cores; at the
    // 100×/300× scale corpora it is what keeps per-task state bounded
    // quadratic-contract lanes cap their inputs ONLY on timing runs
    // (the growth law is pinned by contract; re-proving it was half
    // the r11 100× wall-clock). Opt-in here so the correctness path —
    // which compares against FULL-table oracles — never sees a capped
    // lane (r12 ADVICE, medium). Cleared in the finally below: in a
    // shared (non-forked) JVM a later correctness run would inherit
    // the process-global property and hash-mismatch the full-table
    // oracles (r13 ADVICE).
    System.setProperty(graft.operators.Similarity.QuadraticCapProp, "true")
    try mainTimed(sfDir, GraftSession.cpus)
    finally System.clearProperty(graft.operators.Similarity.QuadraticCapProp)
  }

  private def mainTimed(sfDir: String, cpus: Int): Unit = {
    val spark = GraftSession.localFor(cpus, sfDir, "graft-bench")
    // ERROR, not WARN: the driver parses the LAST stdout line as JSON,
    // and benign per-task WARNs (e.g. WindowExec on the bins-bounded
    // skyline window) flooded the r7 tail into `parsed: null`. Real
    // failures still surface — the bench itself prints FAILED lines
    // and carries the penalty term.
    spark.sparkContext.setLogLevel("ERROR")
    // loadavg at bench START, recorded in the header: in-suite times on
    // a contended host run 10-40x the isolated cost (SURVEY §4.5), so
    // round-over-round diffs need the contention context to be readable
    // without manual adjudication. > ~2 on this box means "suspect".
    val loadavg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Force FULL computation of every output column. A bare count()
    // lets Catalyst prune unused branches — e.g. a report's left join
    // against a per-key-unique aggregate is ELIMINATED wholesale when
    // only the row count is observed (contamination_report benched
    // 0.43 s flat from sf0.1 to 100× while its real cost was ~9 s at
    // 100×). The noop sink consumes every column of every row without
    // writing — the standard benchmarking sink.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Warm up JIT/codegen + file-listing so the first timed query
    // doesn't absorb session startup; fixed name order for run-to-run
    // comparability.
    spark.range(2000000L).selectExpr("sum(id * 2)").collect()
    SparkEntry.queries.get("q_filter_project")
      .foreach(fn => try run(fn(spark, sfDir)) catch { case _: Throwable => () })
    // calibration probes AFTER the JVM warm, BEFORE the suite — the
    // direct host-contention measurements the noisy gate uses
    // (single-thread CPU-steal arm + all-cores bandwidth arm)
    val probeMs = calibrationProbeMs()
    val probeParMs = calibrationProbeParMs()
    // min of 2 runs per query: the shared host shows multi-second
    // scheduling noise; the minimum is the reproducible cost.
    // A failed query must NOT masquerade as a fast success: record it
    // as -1 and list it in "failed" (the total also carries a large
    // penalty per failure so breakage can't improve the headline).
    // Optional comma-separated filter for single-query iteration.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (k, _) => names(k) })
    // the shared ann_hnsw* graph build is timed ONCE, as its own
    // artifact field (hnsw_build_sec), when the family's first lane
    // comes up — otherwise the build lands inside whichever family
    // lane runs it first and per-lane numbers stop comparing across
    // rounds (r15's 100× artifacts read phantom 3× family moves that
    // were pure build-attribution shuffle)
    var hnswBuildSec = -1.0
    var hnswBuildMetrics = Seq.empty[(String, LaneMetrics.Counts)]
    val laneRuns = LaneRunner.inOrder(spark, sfDir, selected.toSeq.sortBy(_._1),
        build => {
          val m = LaneMetrics.attach(spark)
          val tb = System.nanoTime()
          build()
          hnswBuildSec = (System.nanoTime() - tb) / 1e9
          hnswBuildMetrics = Seq("hnsw_build" -> m.detach())
        }) { (name, fn) =>
      // each timed run under its own collector, detached (drained)
      // after the runner released what the result read
      val runs = (1 to 2).map { _ =>
        val m = LaneMetrics.attach(spark)
        val r = LaneRunner.run(spark, sfDir, fn)(run)
        r.failure.foreach(t => System.err.println(
          s"[bench] FAILED $name: ${t.getClass.getName}: ${t.getMessage}"))
        (r, m.detach())
      }
      val Seq(cold, warm) = runs.map(_._2)
      (name, if (runs.exists(_._1.failure.isDefined)) -1.0 else runs.map(_._1.seconds).min,
        warm.copy(compiles = cold.compiles ++ warm.compiles),
        runs.exists(_._1.leaked.nonEmpty))
    }
    val results = laneRuns.map(r => r._1 -> r._2)
    def fmt(v: Double, dec: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))
    def queriesJson(rs: Seq[(String, Double)], dec: Int): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + fmt(v, dec) }
        .mkString("{", ",", "}")
    val failed = results.filter(_._2 < 0).map(_._1)
    // the separately-attributed hnsw build is still SUITE work — it
    // rides both totals so round-over-round totals stay comparable
    // with rounds where the build hid inside a family lane
    val buildSec = if (hnswBuildSec > 0) hnswBuildSec else 0.0
    val total = results.collect { case (_, v) if v >= 0 => v }.sum +
      failed.size * 1000.0 + buildSec
    // the scale-comparison figure: quadratic-contract lanes excluded
    // (their growth law is pinned; see quadraticContract)
    val totalNonQuadratic = results.collect {
      case (n, v) if v >= 0 && !quadraticContract(n) => v
    }.sum + failed.count(!quadraticContract(_)) * 1000.0 + buildSec
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val leakedJson = laneRuns.filter(_._4).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    // two streaming throughput figures next to the batch seconds — the
    // reference's actual modality is an unbounded stream; the windowed
    // lane is the reference pipeline's twin, the stateful lane drives
    // the mapGroupsWithState state-store path; skipped in single-query
    // dev loops
    val streamRps =
      if (only.isDefined) 0.0
      else try streamBench(spark) catch { case _: Throwable => -1.0 }
    val streamRpsStateful =
      if (only.isDefined) 0.0
      else try streamBenchStateful(spark) catch { case _: Throwable => -1.0 }
    // Round-over-round trend in ONE artifact (r10 VERDICT item 8): the
    // per-query map of the artifact being REPLACED rides the
    // new file as "prev", so a regression diff reads off a single
    // artifact instead of two git revisions. Jackson is already on the
    // Spark classpath; any read/parse failure degrades to {} — the
    // trend field must never cost a run its result.
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Throwable => "unknown" }
    val artifact = artifactFile(sfDir)
    val (prevJson, prevMap, prevSf, prevHist, prevParHist) = try {
      val p = java.nio.file.Paths.get(artifact)
      if (java.nio.file.Files.exists(p)) {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(java.nio.file.Files.readAllBytes(p))
        val q = Option(root.get("queries"))
        val m = q.map { node =>
          import scala.jdk.CollectionConverters._
          node.properties().asScala
            .map(e => e.getKey -> e.getValue.asDouble).toMap
        }.getOrElse(Map.empty[String, Double])
        def hist(field: String): Seq[Double] =
          if (!keepProbeHistory(
              Option(root.get("probe_host")).map(_.asText),
              Option(root.get("probe_cores")).map(_.asInt),
              Option(root.get("probe_ver")).map(_.asInt), host, cpus))
            Seq.empty
          else Option(root.get(field)).map { node =>
            import scala.jdk.CollectionConverters._
            node.elements().asScala.map(_.asDouble).toSeq
          }.getOrElse(Seq.empty)
        (q.map(_.toString).getOrElse("{}"), m,
          Option(root.get("sf")).map(_.asText).getOrElse(""),
          hist("probe_hist"), hist("probe_par_hist"))
      } else ("{}", Map.empty[String, Double], "", Seq.empty[Double],
        Seq.empty[Double])
    } catch {
      case _: Throwable =>
        ("{}", Map.empty[String, Double], "", Seq.empty[Double],
          Seq.empty[Double])
    }
    // noisy-host gate (r9 item 8, hardened r13/r14): loadavg at START
    // (once the suite runs, loadavg measures the bench's own local[N]
    // threads), a slowed single-thread probe vs this host's aged
    // rolling-min baseline (CPU steal loadavg lags), or a slowed
    // parallel probe (memory-bandwidth contention the single-thread
    // arm read straight through in r13). Probes are sampled BEFORE
    // the suite for the same reason as loadavg.
    val probeHist = probeWindow(probeMs, prevHist)
    val probeParHist = probeWindow(probeParMs, prevParHist)
    val probeQuiet = quietBaseline(probeHist)
    val probeParQuiet = quietBaseline(probeParHist)
    val noisy = noisyHost(loadavg, probeMs, probeQuiet,
      probeParMs, probeParQuiet)
    // regression gate (r11 item 6, mechanized r14): suite-median-
    // normalized ≥2× lanes above the absolute floor, quiet host +
    // same sf only — one machine-readable field instead of an
    // artifact diff. median_shift ships so a uniform host envelope
    // is readable off the artifact without hand adjudication.
    val shift = medianShift(prevMap, results)
    val candidates = regressedLanes(prevMap, results, noisy,
      sameSf = prevSf == sfDir)
    // confirmation pass: candidates re-time once, AFTER the suite and
    // the two streaming lanes — far from whatever mid-suite stall
    // flagged them (see confirmRegressions). Real regressions survive.
    val (regressed, transientLanes) =
      confirmRegressions(candidates, prevMap, shift, name =>
        selected.get(name).map { fn =>
          val r = LaneRunner.run(spark, sfDir, fn)(run)
          if (r.failure.isDefined) -1.0 else r.seconds
        }.getOrElse(-1.0))
    // a flagged ann_hnsw* re-time above rebuilds the lane memo; drop it
    graft.operators.Hnsw.releaseGraphCache(spark)
    val regressedJson = regressed.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val transientJson = transientLanes.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    def histJson(h: Seq[Double]): String =
      h.map(fmt(_, 1)).mkString("[", ",", "]")
    val quadraticJson = quadraticLanesJson(results.map(_._1))
    // -1.0 is the internal "family never ran" sentinel: the artifact
    // says null, not negative seconds (r16 ADVICE)
    val hnswBuildJson =
      if (hnswBuildSec < 0) "null" else fmt(hnswBuildSec, 4)
    val cacheEntries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    // in bytes; the conf reads a bare number as KiB
    val blockSize = spark.sparkContext.getConf
      .getSizeAsKb("spark.broadcast.blockSize", "4m") * 1024
    def line(qs: String, extra: String = "") =
      s"""{"metric":"total","value":${fmt(total, 4)},"total_nonquadratic":${fmt(totalNonQuadratic, 4)},"quadratic_lanes":$quadraticJson,"hnsw_build_sec":$hnswBuildJson,"unit":"sec","nq":${results.size},"queries":$qs,"failed":$failedJson,"leaked":$leakedJson,"regressed":$regressedJson,"transient":$transientJson,"median_shift":${fmt(shift, 3)},"stream_rows_per_sec":${fmt(streamRps, 0)},"stream_rows_per_sec_stateful":${fmt(streamRpsStateful, 0)},"loadavg":${fmt(loadavg, 2)},"probe_ms":${fmt(probeMs, 1)},"probe_quiet_ms":${fmt(probeQuiet, 1)},"probe_par_ms":${fmt(probeParMs, 1)},"probe_par_quiet_ms":${fmt(probeParQuiet, 1)},"noisy":$noisy,"codegen_cache_entries":$cacheEntries,"broadcast_block_size":$blockSize,"full":"$artifact","sf":"$sfDir"$extra}"""
    // Full map (4-decimal) to the file artifact; headline map
    // (3-decimal) to stdout, with a hard 1600-char guard: should
    // the headline set ever outgrow the tail budget, drop precision
    // rather than ship another unparseable round.
    val fullLine = line(queriesJson(results, 4),
      s""","metrics":${metricsJson(hnswBuildMetrics ++ laneRuns.map(r => r._1 -> r._3))},"probe_host":"$host","probe_cores":$cpus,"probe_ver":$ProbeVersion,"probe_hist":${histJson(probeHist)},"probe_par_hist":${histJson(probeParHist)},"prev":$prevJson""")
    try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    val headline = results.filter(r => isHeadline(r._1))
    // last resort shrinks the SUBSET until the line fits (n=0 is a
    // guaranteed-tiny "{}" floor) — the fallback itself must honor the
    // budget or it reproduces the unparseable-artifact failure
    val stdoutLine = Seq(3, 2, 1).map(d => line(queriesJson(headline, d)))
      .find(_.length <= 1600)
      .getOrElse((40 to 0 by -5).iterator
        .map(n => line(queriesJson(headline.take(n), 1)))
        .find(_.length <= 1600).get)
    // JSON line LAST — after spark.stop() and cleanup, nothing can
    // log over it. A stopped stream's killed micro-batch tasks flush
    // their "Aborted commit" ERRORs asynchronously for a beat after
    // awaitTermination returns; one backlogged 32-partition batch is
    // ~800 such lines, which (printed after the JSON) crowded the
    // driver's 2000-char tail capture in a measured r10 run. stop()
    // joins every local task thread, so printing after it is the
    // ordering guarantee, not a race mitigation. Belt-and-braces
    // (r18, the r16 prev_bench_ok:false lesson): log level OFF before
    // stop, so even a straggler thread that outlives stop() — e.g. a
    // StreamingWrite abort flushing through log4j — cannot emit a
    // line that interleaves with the artifact tail.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    // the session (and its async checkpoint file manager) is down —
    // deleting the stream temp dirs is now safe and silent. Guard
    // PER DIRECTORY, not around the whole sweep: one failing delete
    // (SecurityException, racing unmount) must neither reach the
    // result line below nor abandon the remaining dirs.
    cleanupStreamTmps()
    println(stdoutLine)
  }
}
