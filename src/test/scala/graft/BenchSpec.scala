package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench regression-gate unit specs (no Spark session needed). */
class BenchSpec extends AnyFunSuite {

  // a realistic suite: enough shared lanes that medianShift engages
  // (MinLanesForShift), a mix of sub-second and multi-second lanes
  private val prev = Map(
    "a" -> 1.0, "b" -> 2.0, "c" -> 0.5, "d" -> 3.0, "e" -> 4.0,
    "f" -> 1.5, "g" -> 2.5, "h" -> 0.8, "i" -> 6.0, "j" -> 0.12)
  private def flat(scale: Double): Seq[(String, Double)] =
    prev.toSeq.sortBy(_._1).map { case (k, v) => k -> v * scale }

  test("regressedLanes flags a genuine >=2x multi-second lane on a " +
      "quiet same-sf run only") {
    // one idiosyncratic 2.5x regression on a multi-second lane amid
    // an otherwise-flat suite
    val cur = flat(1.0).map { case ("d", _) => "d" -> 7.5; case kv => kv }
    assert(Bench.regressedLanes(prev, cur, noisy = false,
      sameSf = true) == Seq("d"))
    // noisy host: contention inflates unevenly — never flag
    assert(Bench.regressedLanes(prev, cur, noisy = true,
      sameSf = true).isEmpty)
    // different sf dir (scale run sharing the cwd artifact): never flag
    assert(Bench.regressedLanes(prev, cur, noisy = false,
      sameSf = false).isEmpty)
  }

  test("absolute floor: a sub-second lane cannot flag on jitter while " +
      "a genuine multi-second 2x regression still does (r13 item 1)") {
    // r13's shipping artifact: text_chunk 0.12 s -> 0.41 s flagged by
    // the bare 2x ratio — 0.29 s of scheduler jitter on a 32-core box
    val jitter = flat(1.0).map { case ("j", _) => "j" -> 0.41; case kv => kv }
    assert(Bench.regressedLanes(prev, jitter, noisy = false,
      sameSf = true).isEmpty)
    // a sub-second lane whose normalized DELTA clears the floor is a
    // real regression (0.5 s -> 2.0 s = +1.5 s), not jitter
    val real = flat(1.0).map { case ("c", _) => "c" -> 2.0; case kv => kv }
    assert(Bench.regressedLanes(prev, real, noisy = false,
      sameSf = true) == Seq("c"))
    // multi-second 2x flags regardless
    val big = flat(1.0).map { case ("i", _) => "i" -> 12.5; case kv => kv }
    assert(Bench.regressedLanes(prev, big, noisy = false,
      sameSf = true) == Seq("i"))
  }

  test("median-shift normalization: a uniform host envelope flags " +
      "nothing; an idiosyncratic regression inside one still flags") {
    // the r12/r13 failure mode: the whole suite shifts ~1.5x under
    // background load with zero code changes — median-normalized
    // ratios are all ~1x, nothing flags (previously 4 lanes did)
    assert(math.abs(Bench.medianShift(prev, flat(1.5)) - 1.5) < 1e-9)
    assert(Bench.regressedLanes(prev, flat(1.5), noisy = false,
      sameSf = true).isEmpty)
    // a real 3x regression on lane d amid the same 1.5x envelope:
    // normalized ratio 3/1.5 = 2x with a multi-second delta -> flags
    val cur = flat(1.5).map { case ("d", _) => "d" -> 9.0; case kv => kv }
    assert(Bench.regressedLanes(prev, cur, noisy = false,
      sameSf = true) == Seq("d"))
    // a FASTER suite never inflates ratios into false flags: the
    // shift clamps at 1, so a lane flat in absolute time stays green
    assert(Bench.medianShift(prev, flat(0.5)) == 1.0)
    val faster = flat(0.5).map { case ("e", _) => "e" -> 4.0; case kv => kv }
    assert(Bench.regressedLanes(prev, faster, noisy = false,
      sameSf = true).isEmpty)
    // under MinLanesForShift shared lanes the shift is 1 — a dev-loop
    // subset must not normalize its own regression away
    assert(Bench.medianShift(Map("x" -> 1.0), Seq("x" -> 3.0)) == 1.0)
  }

  test("regressedLanes ignores failed lanes on either side") {
    // current failure is reported via `failed`, not as a regression;
    // a previously-failed (-1) lane has no meaningful baseline
    val p = prev ++ Map("x" -> -1.0, "y" -> 1.0)
    val cur = flat(1.0) ++ Seq("x" -> 5.0, "y" -> -1.0)
    assert(Bench.regressedLanes(p, cur, noisy = false,
      sameSf = true).isEmpty)
  }

  test("slowed calibration probe forces noisy and suppresses the " +
      "regressed field even at low loadavg (the r12 detector gap)") {
    // r12 shipped regressed:[4 lanes] at loadavg 2.78 on a uniformly
    // 1.37x-shifted suite — loadavg alone is not a contention signal.
    // A probe 3x over its quiet baseline must flip noisy...
    assert(Bench.noisyHost(loadavg = 2.78, probeMs = 4 * Bench.QuietProbeMs))
    assert(!Bench.noisyHost(loadavg = 2.78, probeMs = Bench.QuietProbeMs))
    // ...and loadavg still fires on its own
    assert(Bench.noisyHost(loadavg = 5.0, probeMs = Bench.QuietProbeMs))
    // noisy suppresses the regression gate end to end
    val cur = flat(1.0).map { case ("d", _) => "d" -> 7.5; case kv => kv }
    val noisy = Bench.noisyHost(2.78, 4 * Bench.QuietProbeMs)
    assert(Bench.regressedLanes(prev, cur, noisy = noisy,
      sameSf = true).isEmpty)
    // the probe itself runs and returns a plausible figure (smoke —
    // an unJITed or dead-code-eliminated loop would return ~0)
    val ms = Bench.calibrationProbeMs()
    assert(ms > 1.0 && ms < 60000.0, s"probe measured $ms ms")
  }

  test("parallel probe arm: single-thread-quiet + loaded-parallel " +
      "forces noisy (the r13 detector gap — bandwidth contention)") {
    // r13's final run: single-thread probe 393.6 ms vs 383.5 baseline
    // (quiet) at loadavg 3.60 while the 32-thread suite shifted ~1.2x.
    // A parallel arm 1.4x over ITS baseline must flip noisy even when
    // the single-thread arm and loadavg both read quiet.
    assert(Bench.noisyHost(loadavg = 3.60, probeMs = 393.6,
      quietProbeMs = 383.5, probeParMs = 900.0, quietParMs = 600.0))
    assert(!Bench.noisyHost(loadavg = 3.60, probeMs = 393.6,
      quietProbeMs = 383.5, probeParMs = 650.0, quietParMs = 600.0))
    // first run on a host (no par history): the arm is disabled, the
    // run is its own baseline — never permanently noisy
    assert(!Bench.noisyHost(loadavg = 1.0, probeMs = 340.0,
      quietProbeMs = 340.0, probeParMs = 5000.0, quietParMs = 0.0))
    // smoke: the parallel probe runs and returns a plausible figure
    val ms = Bench.calibrationProbeParMs(threads = 4)
    assert(ms > 1.0 && ms < 120000.0, s"par probe measured $ms ms")
  }

  test("probe baseline is host-keyed and aged: a window min, not a " +
      "forever min (r13 ADVICE + item 8)") {
    // rolling window keeps the last ProbeHistLen readings: a stale
    // fast minimum from >K runs ago decays out instead of marking a
    // legitimately slower box permanently noisy
    val fastPast = Seq(200.0) ++ Seq.fill(Bench.ProbeHistLen - 1)(400.0)
    val aged = Bench.probeWindow(410.0, fastPast)
    assert(aged.size == Bench.ProbeHistLen)
    assert(!aged.contains(200.0), s"stale min survived: $aged")
    assert(Bench.quietBaseline(aged) == 400.0)
    // within the window the min still rules
    val recent = Bench.probeWindow(500.0, Seq(340.0, 360.0))
    assert(Bench.quietBaseline(recent) == 340.0)
    // first run: its own baseline — probe arm can't fire
    val first = Bench.probeWindow(1100.0, Seq.empty)
    assert(Bench.quietBaseline(first) == 1100.0)
    assert(!Bench.noisyHost(1.0, 1100.0, Bench.quietBaseline(first)))
    // garbage prev readings (<= 0, corrupted artifact) are dropped
    assert(Bench.probeWindow(400.0, Seq(-1.0, 0.0)) == Seq(400.0))
  }

  test("probe history from a different core count is discarded") {
    def keep(host: Option[String], cores: Option[Int], ver: Option[Int]) =
      Bench.keepProbeHistory(host, cores, ver, host = "vm", cores = 4)
    val ver = Some(Bench.ProbeVersion)
    assert(keep(Some("vm"), Some(4), ver))
    // same host name, wider box: its faster baseline must not carry over
    assert(!keep(Some("vm"), Some(32), ver))
    // artifacts predating probe_cores carry no key
    assert(!keep(Some("vm"), None, ver))
    assert(!keep(Some("other"), Some(4), ver))
    assert(!keep(Some("vm"), Some(4), Some(Bench.ProbeVersion - 1)))
  }

  test("confirmation pass: a mid-suite transient stall clears on the " +
      "post-suite re-time; a real regression survives it (r14)") {
    // the r14 phenomenon: two quiet back-to-back runs each flagged a
    // DIFFERENT contiguous alphabetical window (curate_dsir pair 2.4x,
    // then text_search_bm25..text_top_ngrams ~2x) — a 10-20 s host
    // stall inside an otherwise-quiet suite, with every lane re-timing
    // clean in isolation. The confirmation re-time mechanizes that
    // adjudication.
    val candidates = Seq("d", "i")
    // both re-time at their previous cost -> both transient, none ship
    val (conf0, trans0) = Bench.confirmRegressions(candidates, prev,
      shift = 1.0, reTime = prev(_))
    assert(conf0.isEmpty && trans0 == Seq("d", "i"))
    // lane d re-times still 2.5x -> confirmed; i clears -> transient
    val (conf1, trans1) = Bench.confirmRegressions(candidates, prev,
      shift = 1.0, reTime = { case "d" => 7.5; case n => prev(n) })
    assert(conf1 == Seq("d") && trans1 == Seq("i"))
    // the re-time honors the same median normalization: 3x raw under a
    // 1.5x envelope is a normalized 2x -> still confirmed
    val (conf2, _) = Bench.confirmRegressions(Seq("d"), prev,
      shift = 1.5, reTime = _ => 9.0)
    assert(conf2 == Seq("d"))
    // ...and the same absolute floor: a sub-second lane re-timing at
    // jitter scale cannot confirm
    val (conf3, trans3) = Bench.confirmRegressions(Seq("j"), prev,
      shift = 1.0, reTime = _ => 0.41)
    assert(conf3.isEmpty && trans3 == Seq("j"))
    // a FAILED re-time keeps the flag: no evidence, no acquittal
    val (conf4, _) = Bench.confirmRegressions(Seq("d"), prev,
      shift = 1.0, reTime = _ => -1.0)
    assert(conf4 == Seq("d"))
  }

  test("quadratic-contract set matches the capped lanes") {
    assert(Bench.quadraticContract ==
      Set("dedup_embedding", "dedup_embedding_exact_hi"))
    // both lanes exist in the registry — a rename would silently
    // un-exclude them from total_nonquadratic
    assert(Bench.quadraticContract.subsetOf(SparkEntry.queries.keySet))
  }

  test("quadratic_lanes artifact field names exactly the excluded " +
      "lanes that ran, in run order") {
    assert(Bench.quadraticLanesJson(Seq("q1_pricing_agg",
        "dedup_embedding_exact_hi", "ann_lsh", "dedup_embedding")) ==
      """["dedup_embedding_exact_hi","dedup_embedding"]""")
    // a single-lane dev run without the class emits an empty list,
    // not an absent field
    assert(Bench.quadraticLanesJson(Seq("q1_pricing_agg")) == "[]")
  }

  test("metrics artifact field: per-lane compiles of each timed run, " +
      "in run order, as parseable JSON") {
    val zero = LaneMetrics.Counts(0, 0, 0, 0, 0, Map.empty, 0L, 0L, 0L, 0L,
      0L, 0L, 0L, 0L, 0L, 0L, 0L, Seq.empty, 0, 0, Seq.empty, 0)
    val json = Bench.metricsJson(Seq(
      "q_b" -> zero.copy(compiles = Seq(31L, 0L)),
      "ann_a" -> zero.copy(jobs = 3, joins = Map("BroadcastHashJoin" -> 2),
        slowStageOps = Seq("Generate", "Scan \"x\""),
        compiles = Seq(12L, 12L))))
    assert(json.startsWith("""{"q_b":{"jobs":0,"""))
    assert(json.contains(""""compiles":[31,0]"""))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    import scala.jdk.CollectionConverters._
    assert(root.fieldNames().asScala.toSeq == Seq("q_b", "ann_a"))
    assert(root.get("q_b").get("compiles").toString == "[31,0]")
    assert(root.get("ann_a").get("compiles").get(1).asLong == 12L)
    assert(root.get("ann_a").get("joins").get("BroadcastHashJoin").asInt == 2)
    assert(root.get("ann_a").get("slow_stage_ops").get(1).asText == "Scan \"x\"")
    // a dev run of no lanes still emits the field
    assert(Bench.metricsJson(Seq.empty) == "{}")
  }

  test("artifact naming: only the sf0.1 dir writes bench_full.json; " +
      "every other dir writes and reads its own bench_<basename>.json") {
    assert(Bench.artifactFile("data/sf0.1") == "bench_full.json")
    assert(Bench.artifactFile("/data/sf0.1/") == "bench_full.json")
    assert(Bench.artifactFile("/scratch/graft_scale10") ==
      "bench_graft_scale10.json")
    assert(Bench.artifactFile("graft_scale100/") ==
      "bench_graft_scale100.json")
    assert(Bench.artifactFile("/data/sf0.01") ==
      "bench_sf0.01.json")
  }
}
