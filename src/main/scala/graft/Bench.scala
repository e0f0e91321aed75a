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

  /** Median of cur/prev over lanes present on both sides — the
    * suite-wide shift estimate, taken over the `cpu` maps. Whatever
    * moves every lane's CPU time alike (a slower clock, a JDK change)
    * moves the whole suite by a near-uniform factor; a real regression
    * is idiosyncratic to its lane. Normalizing each lane's ratio by
    * this median separates the two. Clamped at ≥ 1 so a FASTER suite
    * never inflates ratios into false flags, and defaulting to 1 under
    * [[MinLanesForShift]] shared lanes (a dev-loop subset must not
    * self-normalize its own regression away).
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
    * the (shift-normalized) CPU seconds and its baseline are both ≥ 1 s,
    * or the normalized delta is ≥ 1 s. Any sub-second lane can trip a
    * pure 2× ratio on JIT and GC jitter.
    */
  private[graft] val RegressFloorSec = 1.0

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

  /** Regression gate over the previous artifact's `cpu` map: lanes
    * whose suite-median-normalized CPU seconds clear [[clearsGate]],
    * only against a prev run at the SAME sf dir (a 100× prev would
    * flag everything). CPU time, not wall time: waiting for a core on a
    * busy host stretches a lane's wall seconds, not its CPU seconds (a
    * host that slows execution itself moves both: ROADMAP item 9).
    * Failed lanes (-1) never enter either side, and an empty prev (no
    * `cpu` map yet) flags nothing.
    */
  private[graft] def regressedLanes(prev: Map[String, Double],
      cur: Seq[(String, Double)], sameSf: Boolean): Seq[String] =
    if (!sameSf) Seq.empty
    else {
      val shift = medianShift(prev, cur)
      cur.collect {
        case (name, t) if t >= 0 &&
          prev.get(name).exists(clearsGate(_, t, shift)) => name
      }.sorted
    }

  /** Post-suite CONFIRMATION of gate candidates: a lane whose CPU
    * seconds jumped once (a JIT deoptimization, a GC storm) re-times
    * clean after the suite, while a genuine code regression reproduces
    * whenever the lane runs.
    * So each candidate re-times once post-suite and the flag ships only
    * if the re-time still clears the same normalized threshold; cleared
    * lanes ship as "transient" so the event stays visible in the
    * artifact, and a FAILED re-time keeps the flag (no evidence, no
    * acquittal).
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

  /** A run's CPU seconds as the gate reads them: -1 if it failed. */
  private def cpuOf(r: LaneRunner.Run): Double =
    if (r.failure.isDefined) -1.0 else r.cpuSeconds

  /** The gate end to end over each lane's best run: the suite shift,
    * then the confirmed and transient lanes after `reTime`, all taken
    * over CPU seconds, never over the wall `seconds`.
    */
  private[graft] def judge(prevCpu: Map[String, Double], sameSf: Boolean,
      lanes: Seq[(String, LaneRunner.Run)], reTime: String => LaneRunner.Run)
      : (Double, Seq[String], Seq[String]) = {
    val cpu = lanes.map { case (n, r) => n -> cpuOf(r) }
    val shift = medianShift(prevCpu, cpu)
    val (regressed, transient) = confirmRegressions(
      regressedLanes(prevCpu, cpu, sameSf), prevCpu, shift, n => cpuOf(reTime(n)))
    (shift, regressed, transient)
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

  /** Round-over-round trend in ONE artifact (r10 VERDICT item 8): the
    * `cpu` map of the artifact being REPLACED (as JSON text, to ride
    * the new file as "prev", and parsed, for the gate) and its `sf`
    * dir. Jackson is already on the Spark classpath. Any read/parse
    * failure, and an artifact written before the `cpu` map existed,
    * degrades to {}, which flags nothing — the trend field must never
    * cost a run its result.
    */
  private[graft] def readPrev(artifact: String)
      : (String, Map[String, Double], String) =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(artifact)))
      val c = Option(root.get("cpu"))
      (c.map(_.toString).getOrElse("{}"), c.map { node =>
          import scala.jdk.CollectionConverters._
          node.properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
        }.getOrElse(Map.empty[String, Double]),
        Option(root.get("sf")).map(_.asText).getOrElse(""))
    } catch { case _: Throwable => ("{}", Map.empty[String, Double], "") }

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
    // loadavg at bench START, recorded in the header: in-suite wall
    // times on a contended host run 10-40x the isolated cost (SURVEY
    // §4.5), so a wall-clock diff needs the contention context to be
    // readable (the CPU-time gate does not). Once the suite runs,
    // loadavg measures the bench's own local[N] threads.
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
    // min of 2 runs per query, for wall and CPU seconds alike: the
    // shared host shows multi-second scheduling noise; the minimum is
    // the reproducible cost.
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
      val (rs, Seq(cold, warm)) = runs.unzip
      (name, LaneRunner.Run(rs.map(_.seconds).min, rs.map(_.cpuSeconds).min,
          rs.flatMap(_.failure).headOption, rs.flatMap(_.leaked)),
        warm.copy(compiles = cold.compiles ++ warm.compiles))
    }
    val best = laneRuns.map(r => r._1 -> r._2)
    val results = best.map { case (n, r) =>
      n -> (if (r.failure.isDefined) -1.0 else r.seconds) }
    val cpu = best.map { case (n, r) => n -> cpuOf(r) }
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
    val leakedJson = best.filter(_._2.leaked.nonEmpty).map("\"" + _._1 + "\"")
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
    val artifact = artifactFile(sfDir)
    val (prevJson, prevCpu, prevSf) = readPrev(artifact)
    // regression gate (r11 item 6, mechanized r14): suite-median-
    // normalized ≥2× CPU-time lanes above the absolute floor, same sf
    // only — one machine-readable field instead of an artifact diff.
    // median_shift ships so a uniform envelope is readable off the
    // artifact without hand adjudication.
    // confirmation pass: candidates re-time once, AFTER the suite and
    // the two streaming lanes (see confirmRegressions)
    val (shift, regressed, transientLanes) = judge(prevCpu,
      sameSf = prevSf == sfDir, best,
      name => LaneRunner.run(spark, sfDir, selected(name))(run))
    // a flagged ann_hnsw* re-time above rebuilds the lane memo; drop it
    graft.operators.Hnsw.releaseGraphCache(spark)
    val regressedJson = regressed.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val transientJson = transientLanes.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
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
      s"""{"metric":"total","value":${fmt(total, 4)},"total_nonquadratic":${fmt(totalNonQuadratic, 4)},"quadratic_lanes":$quadraticJson,"hnsw_build_sec":$hnswBuildJson,"unit":"sec","nq":${results.size},"queries":$qs,"failed":$failedJson,"leaked":$leakedJson,"regressed":$regressedJson,"transient":$transientJson,"median_shift":${fmt(shift, 3)},"stream_rows_per_sec":${fmt(streamRps, 0)},"stream_rows_per_sec_stateful":${fmt(streamRpsStateful, 0)},"loadavg":${fmt(loadavg, 2)},"codegen_cache_entries":$cacheEntries,"broadcast_block_size":$blockSize,"full":"$artifact","sf":"$sfDir"$extra}"""
    // Full map (4-decimal) to the file artifact; headline map
    // (3-decimal) to stdout, with a hard 1600-char guard: should
    // the headline set ever outgrow the tail budget, drop precision
    // rather than ship another unparseable round.
    val fullLine = line(queriesJson(results, 4),
      s""","cpu":${queriesJson(cpu, 4)},"metrics":${metricsJson(hnswBuildMetrics ++ laneRuns.map(r => r._1 -> r._3))},"cores":$cpus,"prev":$prevJson""")
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
