"""Seeded inputs for the benchmark's workloads.

The same seed gives byte-identical inputs; a different seed gives
different ones. The program under test only ever sees the files written
here.
"""
import os
import random
import shutil
import time

# Event time where the steady phase starts, 2024-01-01T00:00:00Z; the
# warm-up files sit just before it.
EVENT_TIME_BASE_MS = 1_704_067_200_000
# Event-time milliseconds per wall-clock millisecond. At 120x one
# second of wall time is two minutes of event time, so a run crosses
# several 5-minute windows and the watermark evicts state.
TIME_SCALE = 120
# Out-of-orderness stays under the job's 1 s watermark delay.
MAX_DISORDER_MS = 900
# Planted late events sit this far behind their slot: more than three
# 5-minute windows, so their window has closed whatever the trigger
# timing.
LATE_BY_MS = 16 * 60 * 1000

FILE_MS = 100            # one file every 100 ms in the steady phase
STEADY_RATE = 2000       # events per second, well below capacity
# Warm-up files, written closed-loop before the schedule starts: steady
# sized ones, then one the size of a burst, so that the JIT has compiled
# both paths before timing starts. With less warm-up the timed triggers
# still run partly interpreted, and how much depends on how much CPU the
# compiler threads got, which made their CPU time follow host load.
WARMUP_SIZES = (2000,) * 6 + (40_000,)
BURST_EVENTS = 40_000
BURST_FILES = 4
BURSTS = 8               # cpu_s is the mean over the bursts
BURST_EVERY_MS = 2000    # a quiet host processes a burst in about 1 s
BURST_PHASE_MS = 900     # burst files land 100 ms before a trigger fires
LATE_EVERY = 5           # one planted late event every fifth steady file

# The feed is synthetic: no sample or published statistics of the live
# edit stream are in the repository, so these are load parameters, not
# a model of real traffic. Each sets what a layer sees:
# - N_DOMAINS and ZIPF_S set the keys: state rows (domains times open
#   windows), documents per sink write, and shuffle key skew;
# - BOT_SHARE and NON_MAIN_SHARE set how much the filter removes
#   (about 19%);
# - titles, users and page sizes only fill the payload; no layer's cost
#   depends on them, and the sizes are random so that the correctness
#   check compares non-trivial sums.
N_DOMAINS = 40
ZIPF_S = 1.1
BOT_SHARE = 0.1
NON_MAIN_SHARE = 0.1
MAX_PAGE_BYTES = 20000
LANGS = ("en de fr es it ja ru pt zh pl nl sv uk vi fa ar ca sr id ko "
         "no fi hu cs tr ro he da eo bg el sk lt et sl hr ms gl eu hi").split()


def stream_schedule(seconds, traced):
    """[(name, due_ms, events, phase, slot_ms, slot_width_ms)] in write
    order. Warm-up files (due -1) are written one at a time, each once
    the previous one is committed, so the query is warm when the
    open-loop schedule starts; the other due times are in ms after that
    schedule's whole-second base. An event's event time is its slot
    position times TIME_SCALE. In a traced run every other burst runs
    untraced, so traced and untraced bursts can be compared."""
    rows = []

    def add(phase, due, n, slot, width):
        rows.append((f"{len(rows):05d}-{phase}.jsonl", due, n, phase, slot, width))

    for j, n in enumerate(WARMUP_SIZES):
        add("warmup", -1, n, (j - len(WARMUP_SIZES)) * 1000, 1000)
    for j in range(int(round(seconds * 1000 / FILE_MS))):
        add("steady", FILE_MS // 2 + j * FILE_MS, STEADY_RATE * FILE_MS // 1000,
            j * FILE_MS, FILE_MS)
    t = int(round(seconds * 1000)) + 1000
    for b in range(BURSTS):
        phase = "burst_untraced" if traced and b % 2 == 0 else "burst"
        width = FILE_MS / BURST_FILES   # files due together split one slot
        for k in range(BURST_FILES):
            add(phase, t + BURST_PHASE_MS, BURST_EVENTS // BURST_FILES,
                t + BURST_PHASE_MS - FILE_MS + k * width, width)
        t += BURST_EVERY_MS
    return rows


def _iso(ms):
    s, ms = divmod(ms, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + f".{ms:03d}Z"


def stream_inputs(work, seed, seconds, traced):
    """Stage the feed's JSON-lines files under `work/staging` and write
    `work/schedule.tsv` (name, due ms, events, phase). Returns the
    schedule and the ids of the planted late events."""
    rng = random.Random(f"stream-{seed}")
    domains = [f"{lang}.wikipedia.org" for lang in LANGS[:N_DOMAINS]]
    rng.shuffle(domains)
    weights = [1.0 / (k + 1) ** ZIPF_S for k in range(N_DOMAINS)]
    staging = os.path.join(work, "staging")
    os.makedirs(staging)
    late_ids, schedule, seq, steady = [], [], 0, 0
    for name, due, n, phase, slot0, width in stream_schedule(seconds, traced):
        doms = rng.choices(domains, weights, k=n)
        lines = []
        for i in range(n):
            nominal = EVENT_TIME_BASE_MS + TIME_SCALE * (slot0 + width * (i + 0.5) / n)
            ts = int(nominal - rng.random() * MAX_DISORDER_MS)
            user_type = "bot" if rng.random() < BOT_SHARE else "human"
            namespace = "talk" if rng.random() < NON_MAIN_SHARE else "main namespace"
            lines.append(
                f'{{"id":"{seed}-{seq}","domain":"{doms[i]}","namespace":"{namespace}",'
                f'"title":"Page_{seq}","timestamp":"{_iso(ts)}",'
                f'"user_name":"user{seq}","user_type":"{user_type}",'
                f'"old_length":{rng.randrange(MAX_PAGE_BYTES)},'
                f'"new_length":{rng.randrange(MAX_PAGE_BYTES)}}}')
            seq += 1
        steady += phase == "steady"
        if phase == "steady" and steady % LATE_EVERY == 0:
            # its own domain, so no other row shares its (domain, window)
            # key and the watermark drop counts once per event
            ts = int(EVENT_TIME_BASE_MS + TIME_SCALE * slot0) - LATE_BY_MS
            late_ids.append(f"{seed}-{seq}")
            lines.append(
                f'{{"id":"{seed}-{seq}","domain":"late{len(late_ids)}.wikipedia.org",'
                f'"namespace":"main namespace","title":"Page_0",'
                f'"timestamp":"{_iso(ts)}","user_name":"late","user_type":"human",'
                f'"old_length":100,"new_length":250}}')
            seq += 1
        with open(os.path.join(staging, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        schedule.append((name, due, len(lines), phase))
    with open(os.path.join(work, "schedule.tsv"), "w") as f:
        f.writelines(f"{name}\t{due}\t{n}\t{phase}\n" for name, due, n, phase in schedule)
    return schedule, late_ids


def corpus_inputs(src, dst, seed, replicas):
    """A `replicas`-times derivation of `documents` and `embeddings`
    following the repository's ScaleData rules: per-replica key shifts,
    a per-replica token suffix on every word of the text, and a
    per-replica rotation of the embedding dimensions; replica 0 equals
    the committed table. The seed picks the suffix tag and the rotation
    stride. The other tables are copied unchanged."""
    import duckdb
    rng = random.Random(f"corpus-{seed}")
    tag = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(2))
    stride = rng.randrange(1, 64, 2)      # odd: rotations 1..9 are nonzero and distinct
    os.makedirs(dst)
    for name in sorted(os.listdir(src)):
        if name not in ("documents.parquet", "embeddings.parquet"):
            shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    con = duckdb.connect()
    con.execute("SET threads TO 1")       # deterministic file layout
    k = 1_000_000_000
    con.execute(f"""
        COPY (
          SELECT doc_id + r * {k} AS doc_id, text, lang, source,
                 CAST(length(text) AS BIGINT) AS n_chars
          FROM (SELECT d.doc_id, r, d.lang, d.source,
                       CASE WHEN r = 0 THEN d.text
                            ELSE regexp_replace(d.text, '(\\S+)', '\\1~{tag}' || r, 'g')
                       END AS text
                FROM read_parquet('{src}/documents.parquet') d,
                     range(0, {replicas}) t(r))
          ORDER BY r, doc_id
        ) TO '{dst}/documents.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (
          SELECT vec_id + r * {k} AS vec_id,
                 CASE WHEN rot = 0 THEN embedding
                      ELSE list_concat(embedding[rot + 1:64], embedding[1:rot])
                 END AS embedding,
                 label
          FROM (SELECT e.*, r, CAST((r * {stride}) % 64 AS INTEGER) AS rot
                FROM read_parquet('{src}/embeddings.parquet') e,
                     range(0, {replicas}) t(r))
          ORDER BY r, vec_id
        ) TO '{dst}/embeddings.parquet' (FORMAT parquet)""")
    con.close()
    return {"replicas": replicas, "suffix_tag": tag, "rotation_stride": stride}
