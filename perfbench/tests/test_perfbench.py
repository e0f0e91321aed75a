"""The benchmark's own tests: input generation, latency mapping, span
arithmetic and metric naming. Run from the repository root with

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import analysis  # noqa: E402
import inputs    # noqa: E402
import run       # noqa: E402


def _stream_files(seed, tmp):
    work = os.path.join(tmp, f"s{seed}-{len(os.listdir(tmp))}")
    os.makedirs(work)
    schedule, late = inputs.stream_inputs(work, seed, 1.0, traced=False)
    return work, schedule, late


class GeneratedInputs(unittest.TestCase):
    def test_stream_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, sa, la = _stream_files(7, tmp)
            b, sb, lb = _stream_files(7, tmp)
            self.assertEqual(sa, sb)
            self.assertEqual(la, lb)
            names = [n for n, *_ in sa]
            _, mismatch, errors = filecmp.cmpfiles(
                os.path.join(a, "staging"), os.path.join(b, "staging"), names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertTrue(filecmp.cmp(os.path.join(a, "schedule.tsv"),
                                        os.path.join(b, "schedule.tsv"), shallow=False))

    def test_stream_other_seed_other_events(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, sa, _ = _stream_files(7, tmp)
            b, _, _ = _stream_files(8, tmp)
            first = sa[0][0]
            with open(os.path.join(a, "staging", first)) as fa, \
                    open(os.path.join(b, "staging", first)) as fb:
                self.assertNotEqual(fa.read(), fb.read())

    def test_stream_feed_properties(self):
        with tempfile.TemporaryDirectory() as tmp:
            work, schedule, late = _stream_files(3, tmp)
            events = []
            for name, *_ in schedule:
                with open(os.path.join(work, "staging", name)) as f:
                    events += [json.loads(ln) for ln in f]
            self.assertEqual(len(late), len([r for r in schedule if r[3] == "steady"])
                             // inputs.LATE_EVERY)
            late = set(late)
            filtered = [e for e in events if e["user_type"].lower() != "human"
                        or e["namespace"].lower() != "main namespace"]
            self.assertTrue(0.1 < len(filtered) / len(events) < 0.3)
            high = 0
            for e in events:
                ts = analysis.parse_iso_ms(e["timestamp"])
                if e["id"] in late:
                    self.assertGreater(high - ts, 3 * 300_000)  # over three windows late
                else:
                    self.assertLess(high - ts, 1000)            # inside the watermark
                    high = max(high, ts)

    def test_corpus_same_seed_same_tables(self):
        import duckdb
        with tempfile.TemporaryDirectory() as tmp:
            def digest(seed, name):
                dst = os.path.join(tmp, f"{seed}-{len(os.listdir(tmp))}")
                ctx = inputs.corpus_inputs(run.DATA, dst, seed, replicas=2)
                con = duckdb.connect()
                rows = con.execute(f"SELECT * FROM read_parquet('{dst}/{name}.parquet') "
                                   "ORDER BY ALL").fetchall()
                con.close()
                return ctx, rows

            for name in ("documents", "embeddings"):
                ctx_a, a = digest(5, name)
                ctx_b, b = digest(5, name)
                _, c = digest(6, name)
                self.assertEqual((ctx_a, a), (ctx_b, b))
                self.assertNotEqual(a, c)
                self.assertEqual(len(a), 2 * 500)

    def test_corpus_replica_zero_is_the_committed_table(self):
        import duckdb
        with tempfile.TemporaryDirectory() as tmp:
            inputs.corpus_inputs(run.DATA, tmp + "/c", 9, replicas=2)
            con = duckdb.connect()
            for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
                diff = con.execute(f"""
                    SELECT count(*) FROM (
                      (SELECT * FROM read_parquet('{tmp}/c/{name}.parquet')
                       WHERE {key} < 1000000000
                       EXCEPT ALL SELECT * FROM read_parquet('{run.DATA}/{name}.parquet'))
                      UNION ALL
                      (SELECT * FROM read_parquet('{run.DATA}/{name}.parquet')
                       EXCEPT ALL SELECT * FROM read_parquet('{tmp}/c/{name}.parquet')
                       WHERE {key} < 1000000000))""").fetchone()[0]
                self.assertEqual(diff, 0, name)


class LatencyMapping(unittest.TestCase):
    def test_files_map_to_the_batch_that_first_includes_them(self):
        # files of 2, 3, 1 and 4 events; an empty batch between the
        # second and third data batches; the last file is never committed
        batches = [(0, 5, 1000.0), (1, 0, 1500.0), (2, 1, 2000.0)]
        self.assertEqual(analysis.file_commit_ms([2, 3, 1, 4], batches),
                         [1000.0, 1000.0, 2000.0, None])

    def test_event_to_commit_latency_on_a_synthetic_progress_sequence(self):
        base = 1_700_000_000_000
        schedule = [("w", -1, 10, "warmup"),
                    ("a", 50, 10, "steady"), ("b", 150, 10, "steady"),
                    ("c", 1050, 30, "steady"),
                    ("x", 2700, 100, "burst")]

        def prog(batch, start_offset, rows, took):
            t = base + start_offset
            secs, ms = divmod(t, 1000)
            stamp = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(secs)) + f".{ms:03d}Z"
            return {"batchId": batch, "timestamp": stamp, "numInputRows": rows,
                    "durationMs": {"triggerExecution": took, "addBatch": took - 10}}

        # one CPU ms per wall ms until the burst's trigger, then four, of
        # which the JIT compiler threads take one during the burst
        cpu = [[base - 3000, 0.0, 0.0], [base + 3000, 6000.0, 0.0],
               [base + 3600, 8400.0, 600.0]]
        result = {"base_ms": base, "written_ms": [0, 51, 152, 1050, 2701],
                  "progress": [prog(0, -2000, 10, 500), prog(1, 1000, 20, 400),
                               prog(2, 2000, 30, 300), prog(3, 3000, 100, 600)],
                  "cpu_samples": cpu}
        m = analysis.stream_metrics(result, schedule, [])
        # a, b commit at 1400: 1350 and 1250 ms; c commits at 2300: 1250 ms
        self.assertEqual(m["latency_samples"], 50)
        self.assertEqual(m["latency_p50_ms"], 1250)
        self.assertEqual(m["latency_p99_ms"], 1350)
        [burst] = m["bursts"]["burst"]
        self.assertEqual(burst["wall_s"], (3600 - 2700) / 1000)
        self.assertEqual(burst["events"], 100)
        self.assertEqual(burst["batches"], [3])
        self.assertAlmostEqual(burst["cpu_s"], 1.8)
        # the steady phase's two data triggers, CPU from start to commit
        self.assertEqual([round(c, 6) for c in m["trigger_cpu_ms"]], [400, 300])
        self.assertAlmostEqual(m["timed_start_cpu_ms"], 3050)
        self.assertEqual(m["gen_lag_max_ms"], 2)
        # when c is written only the warm-up batch has committed: 60 - 10
        self.assertEqual(m["gen_backlog_max"], 50)


class CpuTime(unittest.TestCase):
    def test_cpu_between_interpolates_the_samples_and_clamps_at_the_ends(self):
        samples = [[0.0, 10.0], [10.0, 20.0], [20.0, 60.0]]
        self.assertEqual(analysis.cpu_at(samples, 5.0), 15.0)
        self.assertEqual(analysis.cpu_at(samples, 15.0), 40.0)
        self.assertEqual(analysis.cpu_at(samples, -1.0), 10.0)
        self.assertEqual(analysis.cpu_at(samples, 99.0), 60.0)
        self.assertEqual(analysis.cpu_between(samples, 5.0, 15.0), 25.0)


class Percentiles(unittest.TestCase):
    def test_interpolated_percentile_moves_smoothly_between_ranks(self):
        self.assertEqual(analysis.interpolated([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(analysis.interpolated([1, 2, 3, 4], 0), 1)
        self.assertEqual(analysis.interpolated([1, 2, 3, 4], 100), 4)
        self.assertAlmostEqual(analysis.interpolated(list(range(15)), 99), 13.86)

    def test_geometric_mean(self):
        self.assertAlmostEqual(analysis.geomean([1, 4, 16]), 4)


class SpanArithmetic(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent(self):
        spans = [
            {"id": 1, "parent": 0, "name": "lane", "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "name": "build", "start": 10.0, "end": 30.0},
            {"id": 3, "parent": 1, "name": "exec", "start": 20.0, "end": 50.0},
            {"id": 4, "parent": 1, "name": "job", "start": 90.0, "end": 120.0},
            {"id": 5, "parent": 3, "name": "job", "start": 25.0, "end": 35.0},
        ]
        got = analysis.self_times(spans)
        self.assertEqual(got[1], 100 - (40 + 10))
        self.assertEqual(got[2], 20)
        self.assertEqual(got[3], 30 - 10)
        self.assertEqual(got[4], 30)
        self.assertEqual(got[5], 10)


class SearchGate(unittest.TestCase):
    def test_a_search_lane_fails_below_its_recall_floor(self):
        self.assertEqual(analysis.search_failure("ann_hnsw", 50, 0.94), "")
        self.assertEqual(analysis.search_failure("ann_lsh", 50, 0.4), "")
        self.assertIn("floor", analysis.search_failure("ann_hnsw", 50, 0.78))
        self.assertIn("floor", analysis.search_failure("ann_lsh", 50, 0.1))
        self.assertIn("rows", analysis.search_failure("ann_lsh", 49, 1.0))


class BatchLayers(unittest.TestCase):
    def test_cold_time_and_pinned_rdds_come_from_the_set_up_pass(self):
        res = {"setup": [
                   {"lane": "a", "module": "Hnsw", "ms": 9000.0, "error": "",
                    "pinned_rdds": 1},
                   {"lane": "b", "module": "Bpe", "ms": 4000.0, "error": "",
                    "pinned_rdds": 0}],
               "execs": [
                   {"lane": "a", "module": "Hnsw", "pass": 1, "traced": True,
                    "build_ms": 100.0, "exec_ms": 200.0, "cpu_ms": 900.0,
                    "jit_cpu_ms": 200.0, "error": ""},
                   {"lane": "b", "module": "Bpe", "pass": 1, "traced": True,
                    "build_ms": 300.0, "exec_ms": 400.0, "cpu_ms": 1500.0,
                    "jit_cpu_ms": 0.0, "error": ""}],
               "passes": [{"pass": 1, "traced": True, "ms": 1000.0}]}
        got = analysis.batch_layers(res, [], 4)
        self.assertEqual((got["Hnsw.cold_s"], got["Hnsw.build_s"], got["Hnsw.exec_s"]),
                         (9.0, 0.1, 0.2))
        self.assertEqual((got["Hnsw.cpu_s"], got["Bpe.cpu_s"]), (0.7, 1.5))
        self.assertEqual(got["Hnsw.pinned_after"], 1)
        self.assertEqual((got["Bpe.cold_s"], got["Bpe.pinned_after"]), (4.0, 0))


class MetricNames(unittest.TestCase):
    def test_names_are_well_formed_and_unique(self):
        names = [n for n, _ in run.END_TO_END + run.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for _, unit in run.END_TO_END + run.PER_LAYER:
            self.assertRegex(unit, r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json_lists_exactly_the_reported_metrics(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
