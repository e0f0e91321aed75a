"""Turns a run's raw measurements into metrics, and checks its outputs.

Pure functions over the harness's result file, its spans and the
streaming query's progress, so each can be tested on synthetic input.
"""
import calendar
import collections
import concurrent.futures
import json
import math
import os
import re
import statistics
import time

MIB = 1048576.0

# Lanes without an oracle: approximate top-5 search for 10 queries,
# checked by row count (the check the repository's own gate applies)
# and by recall@5 against the exact top-5, which must reach the floor
# the repository's own tests hold the family to (SimilaritySpec: LSH
# recall@5 >= 0.4; HnswSpec and FilteredAnnSpec: HNSW >= 0.8).
EXPECTED_ROWS = {"ann_lsh": 50, "ann_hnsw": 50}
RECALL_FLOORS = {"ann_lsh": 0.4, "ann_hnsw": 0.8}

# Generator lateness beyond which a stream run is invalid: the feed was
# not offered on schedule, so its latencies do not describe the system.
MAX_GEN_LAG_P99_MS = 500.0


def percentile(values, q, weights=None):
    """Nearest-rank percentile (0 < q <= 100), optionally weighted."""
    pairs = sorted(zip(values, weights or [1] * len(values)))
    total = sum(w for _, w in pairs)
    if not pairs or total <= 0:
        return float("nan")
    rank = max(1, math.ceil(q / 100.0 * total))
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return v
    return pairs[-1][0]


def interpolated(values, q):
    """Percentile (0 <= q <= 100) by linear interpolation between the
    closest ranks; on few values it moves smoothly where the nearest
    rank would jump from one value to the next."""
    v = sorted(values)
    if not v:
        return float("nan")
    pos = q / 100.0 * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def geomean(values):
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else float("nan")


def median(values):
    return statistics.median(values) if values else float("nan")


def work_cpu_ms(x):
    """CPU time of a timed pass or lane without the JIT compiler threads'
    share. In the first warm pass compilation is more than half of the
    process's CPU time, and how much of it falls into the pass varies
    from run to run far more than the work does."""
    return x["cpu_ms"] - x["jit_cpu_ms"]


def cpu_at(samples, t):
    """Process CPU ms at wall time `t`, interpolated linearly between the
    (wall ms, CPU ms) samples around it; clamped to the first and last."""
    if not samples:
        return float("nan")
    if t <= samples[0][0]:
        return samples[0][1]
    lo, hi = 0, len(samples) - 1
    if t >= samples[hi][0]:
        return samples[hi][1]
    while hi - lo > 1:
        mid = (lo + hi) // 2
        if samples[mid][0] <= t:
            lo = mid
        else:
            hi = mid
    (t0, c0), (t1, c1) = samples[lo], samples[hi]
    return c0 + (c1 - c0) * (t - t0) / (t1 - t0) if t1 > t0 else c1


def cpu_between(samples, a, b):
    """Process CPU ms spent between wall times `a` and `b`."""
    return cpu_at(samples, b) - cpu_at(samples, a)


def parse_iso_ms(s):
    """'2024-01-01T00:05:00.000Z' (or without millis) -> epoch ms."""
    main, _, frac = s.rstrip("Z").partition(".")
    secs = calendar.timegm(time.strptime(main, "%Y-%m-%dT%H:%M:%S"))
    return secs * 1000 + (int(frac[:3].ljust(3, "0")) if frac else 0)


# ---------------------------------------------------------------- spans

def self_times(spans):
    """{span id: self ms}: a span's duration minus the part of its
    interval that its children cover (children clipped to the parent,
    overlaps counted once)."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def ancestor(spans_by_id, span, name):
    while span is not None and span["name"] != name:
        span = spans_by_id.get(span["parent"])
    return span


# --------------------------------------------------------------- stream

def commits(progress):
    """[(batch id, input rows, commit ms)] of the query's micro-batches.
    A batch commits when its trigger ends: its start plus
    `triggerExecution`."""
    out = []
    for p in progress:
        d = p.get("durationMs", {})
        if "triggerExecution" not in d:
            continue
        out.append((p["batchId"], p.get("numInputRows", 0),
                    parse_iso_ms(p["timestamp"]) + d["triggerExecution"]))
    return out


def file_commit_ms(counts, batches):
    """Commit time of the micro-batch that first includes each file.

    Files enter the watched directory one at a time in `counts` order
    and each trigger reads every file present, so batch k holds the
    events between the running input-row totals after batches k-1 and
    k. A file whose events were never all committed maps to None."""
    out, pos, k, done = [], 0, 0, 0
    for n in counts:
        last = pos + n            # rows up to and including this file
        while k < len(batches) and done + batches[k][1] < last:
            done += batches[k][1]
            k += 1
        out.append(batches[k][2] if k < len(batches) else None)
        pos = last
    return out


def stream_metrics(result, schedule, late_ids):
    """End-to-end and per-layer figures of one stream run."""
    base = result["base_ms"]
    progress = result["progress"]
    batches = commits(progress)
    _, dues, counts, phases = zip(*schedule)
    commit_at = file_commit_ms(counts, batches)
    written = result["written_ms"]
    steady = [i for i, p in enumerate(phases) if p == "steady"]
    lat = [commit_at[i] - base - dues[i] for i in steady if commit_at[i] is not None]
    w = [counts[i] for i in steady if commit_at[i] is not None]
    lags = [written[i] - dues[i] for i in steady]

    # a burst is the run of files sharing one due time
    bursts = collections.defaultdict(list)
    for i, p in enumerate(phases):
        if p.startswith("burst"):
            group = bursts[p]
            if not group or dues[group[-1][0]] != dues[i]:
                group.append([])
            group[-1].append(i)

    # (wall ms, CPU ms without the JIT compiler threads)
    samples = [(t, cpu - jit) for t, cpu, jit in result["cpu_samples"]]

    def cpu_ms(p):
        """CPU spent in one trigger: from its start to its commit."""
        t = parse_iso_ms(p["timestamp"])
        return cpu_between(samples, t, t + p["durationMs"]["triggerExecution"])

    def burst(idx):
        if any(commit_at[i] is None for i in idx):
            return {"wall_s": float("nan"), "cpu_s": float("nan"), "events": 0, "batches": []}
        secs = (max(commit_at[i] for i in idx) - base - dues[idx[0]]) / 1000.0
        # the micro-batches that hold the burst's files
        lo, hi = min(commit_at[i] for i in idx), max(commit_at[i] for i in idx)
        held = [p for p in progress if p.get("numInputRows", 0) > 0
                and lo <= parse_iso_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"] <= hi]
        return {"wall_s": secs, "events": sum(counts[i] for i in idx),
                "batches": [p["batchId"] for p in held],
                "cpu_s": sum(cpu_ms(p) for p in held) / 1000.0}

    # backlog: events written but not yet committed, at each steady write
    sent = [0]
    for n in counts:
        sent.append(sent[-1] + n)
    backlog = [sent[i + 1] - sum(n for _, n, c in batches if c <= base + written[i])
               for i in steady]

    s0 = base + dues[steady[0]] - 1000 if steady else 0
    s1 = base + dues[steady[-1]] + 1000 if steady else 0
    trig = [p for p in progress
            if p.get("numInputRows", 0) > 0 and s0 <= parse_iso_ms(p["timestamp"]) <= s1]

    def phase_ms(key):
        return median([p["durationMs"].get(key, 0) for p in trig])

    trigger_cpu = [cpu_ms(p) for p in trig]

    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    steady_ops = [p["stateOperators"][0] for p in trig if p.get("stateOperators")]
    return {
        "latency_p50_ms": percentile(lat, 50, w),
        "latency_p99_ms": percentile(lat, 99, w),
        "latency_samples": sum(w),
        "bursts": {p: [burst(idx) for idx in groups] for p, groups in
                   [("burst", bursts["burst"]), ("burst_untraced", bursts["burst_untraced"])]},
        "gen_lag_p99_ms": percentile(lags, 99),
        "gen_lag_max_ms": max(lags) if lags else float("nan"),
        "gen_backlog_max": max(backlog) if backlog else 0,
        "late_dropped": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "late_planted": len(late_ids),
        "triggers": trig,
        "trigger_ms": [p["durationMs"]["triggerExecution"] for p in trig],
        "trigger_cpu_ms": trigger_cpu,
        "timed_start_cpu_ms": cpu_at([(t, cpu) for t, cpu, _ in result["cpu_samples"]],
                                     base + dues[steady[0]]) if steady else 0.0,
        "phase_ms": {k: phase_ms(k) for k in (
            "latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")},
        "state_rows": max((o["numRowsTotal"] for o in steady_ops), default=0),
        "state_mb": max((o["memoryUsedBytes"] for o in steady_ops), default=0) / MIB,
        "state_commit_ms": median([o["commitTimeMs"] for o in steady_ops]),
        "burst_add_batch_ms": median([
            sum(p["durationMs"].get("addBatch", 0) for p in progress
                if p["batchId"] in burst(idx)["batches"]) for idx in bursts["burst"]]),
    }


# ------------------------------------------------------------ per layer


def engine_totals(jobs, sqls, cores, wall_ms):
    """Spark-wide counters over a set of job and SQL-execution spans that
    ran within `wall_ms` of wall time on `cores` task slots."""
    busy = sum(j["attrs"]["busy_ms"] for j in jobs)
    ratios = [st["max_ms"] / st["median_ms"] for j in jobs for st in j["attrs"]["stages"]
              if st["tasks"] >= 2 and st["median_ms"] > 0]
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j["attrs"]["tasks"] for j in jobs),
        "spark.task_busy_s": busy / 1000,
        "spark.idle_frac": 1 - busy / (cores * wall_ms) if wall_ms > 0 else 0.0,
        "spark.gc_s": sum(j["attrs"]["gc_ms"] for j in jobs) / 1000,
        "spark.spill_mb": sum(j["attrs"]["spill_bytes"] for j in jobs) / MIB,
        "spark.task_skew": median(ratios) if ratios else 1.0,
        "spark.exchanges": sum(q["attrs"]["exchanges"] for q in sqls),
    }


def batch_layers(res, spans, cores):
    """Per-module and engine metrics of a traced batch run: for each
    traced pass, sums over the pass, reported as the median over passes;
    and, from the cold set-up pass, where the memoized builds run, each
    module's time and the RDDs it left persisted."""
    by_id = {s["id"]: s for s in spans}
    per_pass = collections.defaultdict(lambda: collections.defaultdict(float))
    for e in res["execs"]:
        if e["traced"]:
            acc = per_pass[e["pass"]]
            m = e["module"]
            acc[f"{m}.build_s"] += e["build_ms"] / 1000
            acc[f"{m}.exec_s"] += e["exec_ms"] / 1000
            acc[f"{m}.cpu_s"] += work_cpu_ms(e) / 1000
    jobs = collections.defaultdict(list)
    sqls = collections.defaultdict(list)
    for s in spans:
        lane = ancestor(by_id, by_id.get(s["parent"]), "lane")
        if lane is None or s["name"] not in ("job", "sql"):
            continue
        p = lane["attrs"]["pass"]
        (jobs if s["name"] == "job" else sqls)[p].append(s)
        if s["name"] == "job":
            m = lane["attrs"]["module"]
            per_pass[p][f"{m}.jobs"] += 1
            per_pass[p][f"{m}.shuffle_mb"] += s["attrs"]["shuffle_write_bytes"] / MIB
    for p in res["passes"]:
        if p["traced"]:
            per_pass[p["pass"]].update(engine_totals(jobs[p["pass"]], sqls[p["pass"]],
                                                     cores, p["ms"]))
    keys = {k for acc in per_pass.values() for k in acc}
    out = {k: median([acc.get(k, 0.0) for acc in per_pass.values()]) for k in keys}
    for e in res["setup"]:
        m = e["module"]
        out[f"{m}.cold_s"] = out.get(f"{m}.cold_s", 0.0) + e["ms"] / 1000
        out[f"{m}.pinned_after"] = out.get(f"{m}.pinned_after", 0) + e["pinned_rdds"]
    return out


def stream_layers(sm, spans, res, cores):
    """Per-layer metrics of a traced stream run, over its steady phase
    (and the traced burst for `burst.addBatch_ms`)."""
    trig = sm["triggers"]
    starts = [parse_iso_ms(p["timestamp"]) for p in trig]
    s0 = min(starts) if starts else 0
    s1 = max(st + p["durationMs"]["triggerExecution"] for st, p in zip(starts, trig)) if trig else 0
    batches = {str(p["batchId"]) for p in trig}
    windows = [(st, st + p["durationMs"]["triggerExecution"]) for st, p in zip(starts, trig)]
    jobs = [s for s in spans if s["name"] == "job" and s["attrs"]["batch"] in batches]
    # the stateful plan runs as a nested execution without a batch id
    sqls = [s for s in spans if s["name"] == "sql"
            and any(a <= s["start"] <= b for a, b in windows)]
    out = engine_totals(jobs, sqls, cores, s1 - s0)
    ins = collections.defaultdict(list)
    for s in spans:
        if s["name"] == "insertMany":
            ins[s["attrs"]["key"].split("-")[0][1:]].append(s)
    steady_ins = [s for b in batches for s in ins.get(b, [])]
    tms = sm["trigger_ms"]
    out.update({
        "EditStream.latestOffset_ms": sm["phase_ms"]["latestOffset"],
        "trigger.n": len(trig),
        "trigger.p50_ms": median(tms),
        "trigger.queryPlanning_ms": sm["phase_ms"]["queryPlanning"],
        "trigger.addBatch_ms": sm["phase_ms"]["addBatch"],
        "trigger.walCommit_ms": sm["phase_ms"]["walCommit"],
        "trigger.commitOffsets_ms": sm["phase_ms"]["commitOffsets"],
        "WikiEditPipeline.state_rows": sm["state_rows"],
        "WikiEditPipeline.state_mb": sm["state_mb"],
        "WikiEditPipeline.state_commit_ms": sm["state_commit_ms"],
        "WikiEditPipeline.late_dropped": sm["late_dropped"],
        "DocStoreSink.inserts": len(steady_ins),
        "DocStoreSink.docs": sum(s["attrs"]["docs"] for s in steady_ins),
        "DocStoreSink.insert_ms": median([sum(s["end"] - s["start"] for s in ins[b])
                                          for b in batches if b in ins]),
        "DocStoreSink.retries": sum(1 for v in ins.values() for s in v if not s["attrs"]["ok"]),
        "burst.addBatch_ms": sm["burst_add_batch_ms"],
        "gen.lag_p99_ms": sm["gen_lag_p99_ms"],
        "gen.backlog_max": sm["gen_backlog_max"],
    })
    traced = [b["wall_s"] for b in sm["bursts"]["burst"]]
    untraced = [b["wall_s"] for b in sm["bursts"]["burst_untraced"]]
    if traced and untraced:
        out["trace.overhead_s"] = median(traced) - median(untraced)
    return out


def write_spans(spans, res, out_dir, name):
    """Write the run's spans as JSON lines, adding (for a stream run)
    one span per trigger with its phases laid out in execution order,
    and linking the query's jobs and inserts to their trigger."""
    spans = [dict(s) for s in spans]
    run = spans[0]["run"] if spans else name
    next_id = max([s["id"] for s in spans], default=0) + 1
    trigger_of = {}
    for p in res.get("progress", []):
        d = p.get("durationMs", {})
        if "triggerExecution" not in d:
            continue
        t = parse_iso_ms(p["timestamp"])
        tid, next_id = next_id, next_id + 1
        trigger_of[str(p["batchId"])] = tid
        spans.append({"run": run, "id": tid, "parent": 0, "name": "trigger", "start": t,
                      "end": t + d["triggerExecution"],
                      "attrs": {"batch": p["batchId"], "rows": p.get("numInputRows", 0)}})
        for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                  "commitOffsets"):
            if k in d:
                spans.append({"run": run, "id": next_id, "parent": tid, "name": k,
                              "start": t, "end": t + d[k], "attrs": {}})
                next_id += 1
                t += d[k]
    triggers = [s for s in spans if s["name"] == "trigger"]
    for s in spans:
        batch = str(s["attrs"].get("batch", ""))
        if s["name"] == "insertMany":
            batch = s["attrs"]["key"].split("-")[0][1:]
        if s["name"] == "sql" and not batch:
            # a nested execution: the trigger it ran in
            batch = next((str(t["attrs"]["batch"]) for t in triggers
                          if t["start"] <= s["start"] <= t["end"]), "")
        if s["name"] in ("job", "sql", "insertMany") and batch in trigger_of:
            s["parent"] = trigger_of[batch]
    selfs = self_times(spans)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.jsonl")
    with open(path, "w") as f:
        for s in sorted(spans, key=lambda x: x["start"]):
            f.write(json.dumps(dict(s, self_ms=selfs[s["id"]])) + "\n")
    return path


def self_time_table(path):
    """Text lines: per span name (and module, for lane spans), the count,
    the total duration and the total self time."""
    with open(path) as f:
        spans = [json.loads(ln) for ln in f]
    by_id = {s["id"]: s for s in spans}
    acc = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        lane = ancestor(by_id, s, "lane")
        key = s["name"] + (f" {lane['attrs']['module']}" if lane else "")
        a = acc[key]
        a[0] += 1
        a[1] += s["end"] - s["start"]
        a[2] += s["self_ms"]
    return [f"span {k}: n={n} total_ms={t:.1f} self_ms={st:.1f}"
            for k, (n, t, st) in sorted(acc.items())]


# ------------------------------------------------------------- checking

def check_stream(con, work, late_ids):
    """Compare the final sink document of every (domain, window) with a
    DuckDB recomputation over the generated events. Returns
    (failed events, total events, message)."""
    docs = {}
    for name in os.listdir(os.path.join(work, "docs")):
        m = re.match(r"e(\d+)-p\d+-c\d+\.jsonl$", name)
        if not m:
            continue
        epoch = int(m.group(1))
        with open(os.path.join(work, "docs", name)) as f:
            for line in f:
                if line.strip():
                    d = json.loads(line)
                    key = (d["domain"], parse_iso_ms(d["start"]))
                    if key not in docs or docs[key][0] < epoch:
                        docs[key] = (epoch, d["edit_size"], d["n_edits"])
    late = ",".join(f"'{i}'" for i in late_ids) or "''"
    rows = con.execute(f"""
        SELECT domain, (epoch_ms(ts) // 300000) * 300000 AS start,
               CAST(sum(abs(new_length - old_length)) AS BIGINT), count(*)
        FROM (SELECT *, CAST(replace("timestamp", 'Z', '') AS TIMESTAMP) AS ts
              FROM read_json('{work}/in/*.jsonl', format='newline_delimited',
                columns={{id:'VARCHAR', domain:'VARCHAR', namespace:'VARCHAR',
                         title:'VARCHAR', "timestamp":'VARCHAR', user_name:'VARCHAR',
                         user_type:'VARCHAR', old_length:'BIGINT', new_length:'BIGINT'}}))
        WHERE lower(user_type) = 'human' AND lower(namespace) = 'main namespace'
          AND id NOT IN ({late})
        GROUP BY ALL""").fetchall()
    total = con.execute(f"""SELECT count(*) FROM read_json('{work}/in/*.jsonl',
        format='newline_delimited', columns={{id:'VARCHAR'}})""").fetchone()[0]
    expected = {(d, s): (e, n) for d, s, e, n in rows}
    failed, bad = 0, []
    for key in set(expected) | set(docs):
        exp = expected.get(key)
        got = docs.get(key)
        if exp is None or got is None or (got[1], got[2]) != exp:
            failed += exp[1] if exp else got[2]
            bad.append(f"{key}: expected {exp} got {got and got[1:]}")
    return failed, total, "; ".join(bad[:3])


def same_rows(con, path, sql):
    """'' when the parquet output under `path` holds exactly the rows of
    `sql` (as a multiset, columns matched by name), else why not."""
    got = f"read_parquet('{path}/*.parquet')"
    sql = sql.strip().rstrip(";")
    gcols = sorted(c for c in con.execute(f"SELECT * FROM {got} LIMIT 0").df().columns)
    ecols = sorted(c for c in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").df().columns)
    if gcols != ecols:
        return f"columns {gcols} vs {ecols}"
    cols = ", ".join(f'"{c}"' for c in gcols)
    n_got = con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
    n_exp = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    if n_got != n_exp:
        return f"rows {n_got} vs {n_exp}"
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {got} "
                        f"EXCEPT ALL SELECT {cols} FROM ({sql}))").fetchone()[0]
    return f"{extra} rows differ" if extra else ""


def recall(con, path, exact_sql):
    """recall@k of a search lane's (query_id, neighbor_id) rows against
    the exact top-k."""
    sql = exact_sql.strip().rstrip(";")
    n, hits = con.execute(f"""
        SELECT count(*), count(g.query_id)
        FROM ({sql}) e LEFT JOIN (SELECT DISTINCT query_id, neighbor_id
                                  FROM read_parquet('{path}/*.parquet')) g
          USING (query_id, neighbor_id)""").fetchone()
    return hits / n if n else 0.0


def search_failure(lane, rows, recall_at_5):
    """'' when a search lane returned its expected rows at a recall@5 at
    or above its family's floor, else why not."""
    if rows != EXPECTED_ROWS[lane]:
        return f"{rows} rows, expected {EXPECTED_ROWS[lane]}"
    if recall_at_5 < RECALL_FLOORS[lane]:
        return f"recall@5 {recall_at_5:.2f} below the {RECALL_FLOORS[lane]} floor"
    return ""


def check_batch(con, out, lanes, oracle, setup_errors):
    """({lane: ''} when its set-up output is right, else the reason;
    {lane: recall@5} for the search lanes without an oracle). Lanes
    are checked concurrently, each on its own cursor."""
    def check(lane):
        cur = con.cursor()
        path = os.path.join(out, lane)
        try:
            if setup_errors.get(lane):
                return setup_errors[lane], None
            if lane in oracle:
                return same_rows(cur, path, oracle[lane]), None
            n = cur.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
            want = EXPECTED_ROWS.get(lane)
            if not want:
                return ("" if n > 0 else "no rows"), None
            r = recall(cur, path, oracle["ann_bruteforce"])
            return search_failure(lane, n, r), r
        except Exception as e:  # a broken output is a failed lane, not a crash
            return f"{type(e).__name__}: {e}"[:300], None
        finally:
            cur.close()

    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as pool:
        results = dict(zip(lanes, pool.map(check, lanes)))
    return ({lane: why for lane, (why, _) in results.items()},
            {lane: r for lane, (_, r) in results.items() if r is not None})
