#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run builds graft and
the harness from source with sbt; later runs rebuild only when a source
file changed. The last line of standard output is a JSON object with the
keys correct, attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import collections
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import analysis  # noqa: E402
import inputs    # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
CORES = 4
HEAP = "3g"
YOUNG = "512m"
REPLICAS = 2
JVM_TIMEOUT_S = 150

# (lane, module): the repository object each SparkEntry lane calls.
# SQL-core lanes: at this size their time is driver-side planning and
# per-job scheduling.
SQL_CORE = [
    ("q_edit_window", "EditAnalytics"),
    ("q1_pricing_agg", "BatchQueries"),
    ("q_asof_join", "AsOf"),
    ("q_range_join", "RangeJoin"),
    ("graph_degree", "Graph"),
]
# LLM-pipeline lanes, one per module: per-row operator work and
# shuffles; their tokenizer and index builds are memoized per data
# directory, so they run in the cold set-up pass.
LLM_PIPELINE = [
    ("dedup_exact", "Dedup"),
    ("tok_encode_bpe", "Bpe"),
    ("tok_encode_bpe_bytes", "BpeBytes"),
    ("tok_encode_unigram", "Unigram"),
    ("text_quality", "TextAnalysis"),
    ("curate_ppl_buckets", "Curation"),
    ("ann_lsh", "Similarity"),
    ("ann_hnsw", "Hnsw"),
    ("search_mmr", "Relevance"),
]
WORKLOADS = {"stream_wiki": None, "batch_2x": SQL_CORE + LLM_PIPELINE}
MODULES = sorted({m for _, m in SQL_CORE + LLM_PIPELINE})

# Every end-to-end figure is a CPU time, a memory size or a ratio of
# counts. Wall time on a shared host swings with other tenants' load (a
# slow run is 25-70% slower on every lane alike); CPU time does not count
# the time others hold the core and spreads far less, so the wall-clock
# figures are reported as `workload.*` in the traced run and in the
# context line, without a bound.
END_TO_END = [
    ("setup_s", "s"), ("cpu_s", "s"), ("op_cpu_ms", "ms"), ("ok_frac", "ratio"),
    ("peak_rss_mb", "MiB"),
]
MODULE_METRICS = [("build_s", "s"), ("exec_s", "s"), ("cpu_s", "s"), ("jobs", "count"),
                  ("shuffle_mb", "MiB"), ("cold_s", "s"), ("pinned_after", "count")]
PER_LAYER = (
    [(f"{m}.{k}", u) for m in MODULES for k, u in MODULE_METRICS] + [
        ("spark.jobs", "count"), ("spark.tasks", "count"),
        ("spark.task_busy_s", "s"), ("spark.idle_frac", "ratio"),
        ("spark.gc_s", "s"), ("spark.spill_mb", "MiB"),
        ("spark.task_skew", "ratio"), ("spark.exchanges", "count"),
        ("EditStream.latestOffset_ms", "ms"),
        ("trigger.n", "count"), ("trigger.p50_ms", "ms"),
        ("trigger.queryPlanning_ms", "ms"), ("trigger.addBatch_ms", "ms"),
        ("trigger.walCommit_ms", "ms"), ("trigger.commitOffsets_ms", "ms"),
        ("WikiEditPipeline.state_rows", "count"), ("WikiEditPipeline.state_mb", "MiB"),
        ("WikiEditPipeline.state_commit_ms", "ms"),
        ("WikiEditPipeline.late_dropped", "count"),
        ("DocStoreSink.inserts", "count"), ("DocStoreSink.docs", "count"),
        ("DocStoreSink.insert_ms", "ms"), ("DocStoreSink.retries", "count"),
        ("burst.addBatch_ms", "ms"),
        ("gen.lag_p99_ms", "ms"), ("gen.backlog_max", "count"),
        ("trace.overhead_s", "s"),
        ("workload.wall_s", "s"), ("workload.latency_p50_ms", "ms"),
        ("workload.latency_p99_ms", "ms"),
    ])

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = []
    for d in (ROOT, HERE):
        files.append(os.path.join(d, "build.sbt"))
        proj = os.path.join(d, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of graft plus the harness, compiled from this checkout."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no graft sources beside perfbench/; run from the root of a graft checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.json")
    try:
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest and all(os.path.exists(p) for p in s["classpath"].split(":")):
            return s["classpath"], digest
    except (OSError, ValueError, KeyError):
        pass
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline, from the local caches, like the repository's own test command
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-J-Djava.io.tmpdir={tmp}",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1], digest


def cpu_ticks():
    """(total, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def commit_id(digest):
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                  capture_output=True, timeout=10).stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    return f"src-{digest[:12]}"


# ------------------------------------------------------------------ run

def run_jvm(cp, work, args, extra):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # A fixed young generation keeps G1 from resizing it run by run, so
    # the peak resident set follows retained data, not GC timing. A fixed
    # set of JIT compiler threads lets the harness read their CPU time
    # (a thread that exits takes its count with it).
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--work", work, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--run", f"{args.workload}-{args.seed}",
            "--cores", str(CORES)] + extra
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            proc = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload did not finish in {JVM_TIMEOUT_S} s; see {work}/jvm.log", 1)
    path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"workload exited with {proc.returncode}", 1)
    with open(path) as f:
        return json.load(f)


def read_spans(work):
    path = os.path.join(work, "spans.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def batch_report(res, spans, trace):
    """(end-to-end, wall-clock, per-layer) figures of a batch run. The
    end-to-end and wall-clock ones come from its untraced passes: a
    pass's CPU and wall time, and each lane's CPU and latency as its
    median over the passes. A typical lane's CPU is the geometric mean
    over lanes: the median lane changes from run to run, which over ten
    runs spread the median twice as wide. The latency percentiles are
    interpolated, since there are only as many values as lanes."""
    execs = [e for e in res["execs"] if not e["traced"]]
    passes = [p for p in res["passes"] if not p["traced"]]
    lat, cpu = collections.defaultdict(list), collections.defaultdict(list)
    for e in execs:
        if not e["error"]:
            lat[e["lane"]].append(e["build_ms"] + e["exec_ms"])
            cpu[e["lane"]].append(analysis.work_cpu_ms(e))
    e2e = {
        "cpu_s": analysis.median([analysis.work_cpu_ms(p) for p in passes]) / 1000,
        "op_cpu_ms": analysis.geomean([analysis.median(v) for v in cpu.values()]),
    }
    lane_ms = [analysis.median(v) for v in lat.values()]
    wall = {
        "workload.wall_s": analysis.median([p["ms"] for p in passes]) / 1000,
        "workload.latency_p50_ms": analysis.interpolated(lane_ms, 50),
        "workload.latency_p99_ms": analysis.interpolated(lane_ms, 99),
    }
    layers = {}
    if trace:
        layers = analysis.batch_layers(res, spans, CORES)
        layers["trace.overhead_s"] = (
            analysis.median([p["ms"] for p in res["passes"] if p["traced"]])
            - analysis.median([p["ms"] for p in passes])) / 1000
        layers.update(wall)
    return e2e, wall, layers


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, digest = build()
    load = os.getloadavg()[0]
    ticks0 = cpu_ticks()
    t0 = time.time()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    lanes = WORKLOADS[args.workload]
    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "commit": commit_id(digest), "nproc": os.cpu_count(),
               "loadavg_1m": load, "heap": HEAP, "spark_cores": CORES}

    import duckdb
    con = duckdb.connect()
    if lanes is None:
        schedule, late_ids = inputs.stream_inputs(work, args.seed, args.seconds, args.trace == 1)
        setup_cpu = time.process_time()
        res = run_jvm(cp, work, args, ["--data", os.path.join(work, "in")])
        spans = read_spans(work)
        sm = analysis.stream_metrics(res, schedule, late_ids)
        failed, attempted, why = analysis.check_stream(con, work, late_ids)
        if sm["late_dropped"] != sm["late_planted"]:
            failed += abs(sm["late_dropped"] - sm["late_planted"])
            why += f" late_dropped {sm['late_dropped']} != planted {sm['late_planted']}"
        if res["error"] or res["events_processed"] < res["events_total"]:
            failed, why = attempted, f"query: {res['error'] or 'did not drain'}"
        # an untraced run's bursts are all "burst"; a traced run times
        # its untraced ones for the wall clock and its traced ones for CPU
        untraced = sm["bursts"]["burst_untraced"] or sm["bursts"]["burst"]
        # CPU per burst and per steady trigger: the phase's total over its
        # count. Single triggers of one run differ by up to a third, and
        # over eleven runs this mean spread half as much as the median.
        bursts = [b["cpu_s"] for b in sm["bursts"]["burst"]]
        e2e = {"cpu_s": sum(bursts) / len(bursts),
               "op_cpu_ms": sum(sm["trigger_cpu_ms"]) / len(sm["trigger_cpu_ms"])}
        wall = {"workload.wall_s": analysis.median([b["wall_s"] for b in untraced]),
                "workload.latency_p50_ms": sm["latency_p50_ms"],
                "workload.latency_p99_ms": sm["latency_p99_ms"]}
        setup_cpu += sm["timed_start_cpu_ms"] / 1000
        context.update({"events": attempted, "late_planted": len(late_ids),
                        "latency_samples": sm["latency_samples"],
                        "gen_lag_p99_ms": sm["gen_lag_p99_ms"],
                        "gen_lag_max_ms": sm["gen_lag_max_ms"]})
        layers = dict(analysis.stream_layers(sm, spans, res, CORES), **wall) if args.trace else {}
        if sm["gen_lag_p99_ms"] > analysis.MAX_GEN_LAG_P99_MS:
            fail(f"invalid run: the generator ran {sm['gen_lag_p99_ms']:.1f} ms late "
                 f"at p99 (limit {analysis.MAX_GEN_LAG_P99_MS} ms)", 3)
        checked = {"stream": why}
    else:
        data = os.path.join(work, "data")
        context.update(inputs.corpus_inputs(DATA, data, args.seed, REPLICAS))
        setup_cpu = time.process_time()
        res = run_jvm(cp, work, args, ["--data", data, "--lanes",
                                       ",".join(f"{n}:{m}" for n, m in lanes)])
        spans = read_spans(work)
        for t in os.listdir(data):
            if t.endswith(".parquet"):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{data}/{t}')")
        checked, recalls = analysis.check_batch(
            con, os.path.join(work, "out"), [n for n, _ in lanes], res["oracle_sql"],
            {x["lane"]: x["error"] for x in res["setup"]})
        e2e, wall, layers = batch_report(res, spans, args.trace)
        setup_cpu += res["timed_start_cpu_ms"] / 1000
        failed = sum(1 for v in checked.values() if v) + sum(1 for e in res["execs"] if e["error"])
        attempted = len(lanes) + len(res["execs"])
        context.update({"lanes": [n for n, _ in lanes], "recall_at_5": recalls})
    con.close()

    # CPU time of this process (input generation) and of the harness
    # JVM (session, warm-up) before the first timed operation
    e2e["setup_s"] = setup_cpu
    e2e["ok_frac"] = 1 - failed / attempted
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests during the run: a
    # shared host that steals much of it slows every timing here
    context.update({"spark": res["spark_version"], "max_heap_mb": res["max_heap_mb"],
                    "cpu_steal_frac": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
                    "setup_wall_s": res["timed_start_ms"] / 1000 - t0,
                    "jit_wait_s": res["jit_wait_ms"] / 1000})
    context.update({k: round(v, 4) for k, v in wall.items()})
    print("context " + json.dumps(context, sort_keys=True))
    for lane, why in sorted(checked.items()):
        if why:
            print(f"wrong {lane}: {why}")
    if args.trace:
        path = analysis.write_spans(spans, res, os.path.join(BUILD, "spans"),
                                    f"{args.workload}-{args.seed}")
        for line in analysis.self_time_table(path):
            print(line)
        metrics, names = layers, PER_LAYER
    else:
        metrics, names = e2e, END_TO_END
    out = {}
    for name, unit in names:
        v = float(metrics.get(name, 0.0))
        if math.isnan(v) or math.isinf(v):
            if not args.trace:
                fail(f"{name} could not be measured", 1)
            v = 0.0
        out[name] = {"value": v, "unit": unit}
    correct = failed == 0
    # keep the raw measurements beside the spans; drop the bulky inputs
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    res.pop("oracle_sql", None)
    with open(os.path.join(BUILD, "results", os.path.basename(work) + ".json"), "w") as f:
        json.dump({"context": context, "checks": checked, "metrics": out, "raw": res}, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
