"""Self-tests for the benchmark's own logic (no Spark needed).

    python3 perfbench/test_perfbench.py
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import analyze  # noqa: E402
import gen  # noqa: E402


def span(i, parent, name, start, end, op=0):
    return {"id": i, "parent": parent, "name": name, "op": op,
            "start_ns": start, "end_ns": end}


class TailTest(unittest.TestCase):
    def test_too_few_samples_reports_the_median_as_p50(self):
        self.assertEqual(analyze.tail([5.0, 1.0, 3.0]), (3.0, 50.0, 3))
        self.assertEqual(analyze.tail(list(range(10))), (4.5, 50.0, 10))

    def test_exactly_ten_samples_lie_beyond_the_tail(self):
        for n in (11, 20, 37, 100, 1000):
            xs = list(range(n, 0, -1))
            v, p, count = analyze.tail(xs)
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in xs if x > v), 10)
            self.assertAlmostEqual(p, 100.0 * (n - 10) / n)

    def test_p90_at_a_hundred_samples(self):
        v, p, _ = analyze.tail([float(x) for x in range(1, 101)])
        self.assertEqual((v, p), (90.0, 90.0))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(0, -1, "op", 0, 100), span(1, 0, "a", 10, 30),
                 span(2, 0, "b", 50, 90), span(3, 2, "c", 60, 70)]
        st = analyze.self_times(spans)
        self.assertAlmostEqual(st[0] * 1e9, 40)
        self.assertAlmostEqual(st[1] * 1e9, 20)
        self.assertAlmostEqual(st[2] * 1e9, 30)
        self.assertAlmostEqual(st[3] * 1e9, 10)

    def test_overlapping_and_overhanging_children(self):
        spans = [span(0, -1, "op", 0, 100), span(1, 0, "a", 10, 60),
                 span(2, 0, "b", 40, 80), span(3, 0, "late", 90, 120)]
        # covered: [10, 80) and [90, 100) = 80
        self.assertAlmostEqual(analyze.self_times(spans)[0] * 1e9, 20)


class AttributionTest(unittest.TestCase):
    ORIGIN = 1_000_000

    def test_span_property_wins_over_time(self):
        spans = [span(0, -1, "op", 0, 10_000_000), span(1, 0, "x", 0, 5_000_000)]
        jobs = [{"job": 7, "span": 0, "time_ms": self.ORIGIN + 1}]
        self.assertEqual(analyze.attribute(spans, jobs, self.ORIGIN), {7: 0})

    def test_innermost_open_span_at_submission(self):
        spans = [span(0, -1, "op", 0, 10_000_000),
                 span(1, 0, "store.stream", 2_000_000, 8_000_000),
                 span(2, 1, "ivm.serve", 3_000_000, 4_000_000)]
        jobs = [{"job": 1, "span": -1, "time_ms": self.ORIGIN + 1},
                {"job": 2, "span": -1, "time_ms": self.ORIGIN + 3},
                {"job": 3, "span": -1, "time_ms": self.ORIGIN + 5},
                {"job": 4, "span": -1, "time_ms": self.ORIGIN + 50}]
        self.assertEqual(analyze.attribute(spans, jobs, self.ORIGIN),
                         {1: 0, 2: 2, 3: 1, 4: -1})

    def test_jobs_sum_into_their_layer(self):
        rec = {"spark": {
            "jobs": [{"job": 1, "span": 1, "time_ms": 0, "sql": 5, "stages": [10, 11], "skipped": 1},
                     {"job": 2, "span": 1, "time_ms": 0, "sql": 5, "stages": [12], "skipped": 0}],
            "stages": [{"stage": s, "tasks": 4, "failed": 0, "run_ms": 1000, "cpu_ns": 5e8,
                        "gc_ms": 10, "shuffle_write": 1048576, "shuffle_read": 0,
                        "spill": 0, "input": 0} for s in (10, 12)]}}
        out = analyze.spark_sums([1, 2], rec)
        self.assertEqual((out["jobs"], out["stages"], out["stages_skipped"]), (2, 3, 1))
        self.assertEqual((out["tasks"], out["task_run_s"], out["sql_execs"]), (8, 2.0, 1.0))
        self.assertAlmostEqual(out["shuffle_write_mb"], 2.0)


class CostSplitTest(unittest.TestCase):
    def test_ols_recovers_a_line(self):
        a, b = analyze.ols([0.1, 1.0, 5.0, 10.0], [2.05, 2.5, 4.5, 7.0])
        self.assertAlmostEqual(a, 2.0)
        self.assertAlmostEqual(b, 0.5)

    def test_constant_x_gives_median_and_no_slope(self):
        self.assertEqual(analyze.ols([1.0, 1.0], [3.0, 5.0]), (4.0, 0.0))


class FreshnessTest(unittest.TestCase):
    def test_only_ops_that_write_count(self):
        ops = [{"dur_s": 2.6, "write_s": 1.5, "serves": [0.5, 0.3, 0.3]},
               {"dur_s": 1.0, "write_s": 0.0, "serves": [1.0]}]
        self.assertEqual(analyze.freshness(ops), [2.0])


class EndToEndTest(unittest.TestCase):
    @staticmethod
    def op(i, kind, rnd, dur, write, serves, traced=False):
        return {"i": i, "kind": kind, "round": rnd, "timed": True, "traced": traced,
                "ok": True, "rows": 10, "dur_s": dur, "write_s": write, "serves": serves,
                "files_before": 0, "files_after": 0}

    def rec(self, ops):
        return {"setup_s": 30.0, "build_s": 10.0, "disk_peak_bytes": 0, "store_files": 0,
                "live_heap_bytes": 0, "ops": ops}

    def test_view_and_index_ops_feed_separate_metrics(self):
        ops = [self.op(5, "fact_upsert", 0, 10.0, 9.0, [0.2, 0.1]),
               self.op(6, "serve", 0, 1.0, 0.0, [1.0]),
               self.op(7, "update", 0, 3.0, 2.0, [1.5]),
               self.op(8, "serve", 0, 0.8, 0.0, [0.8]),
               self.op(9, "delete", 0, 4.0, 3.0, [1.4]),
               self.op(10, "fact_delete", 1, 8.0, 7.5, [0.2]),
               self.op(11, "serve", 1, 0.6, 0.0, [0.6], traced=True)]
        m = analyze.end_to_end(self.rec(ops))
        # a round's time sums its untraced ops
        self.assertAlmostEqual(m["batch_p50_s"][0], (18.8 + 8.0) / 2)
        # wave freshness = maintenance + first dashboard read, waves only
        self.assertAlmostEqual(m["wave_p50_s"][0], (9.2 + 7.7) / 2)
        # serves are the index's read ops; a write's read is not one
        self.assertAlmostEqual(m["serve_p50_s"][0], 0.9)
        self.assertAlmostEqual(m["write_p50_s"][0], 2.5)

    def test_a_dag_iteration_is_its_own_round(self):
        ops = [self.op(i, "batch", i, 7.0 + i, 6.0 + i, [1.0]) for i in (1, 2, 3)]
        m = analyze.end_to_end(self.rec(ops))
        self.assertEqual(m["batch_p50_s"][0], 9.0)
        self.assertEqual(m["wave_p50_s"][0], 9.0)
        self.assertEqual((m["serve_p50_s"][0], m["write_p50_s"][0]), (1.0, 8.0))


class ContractTest(unittest.TestCase):
    """Every run prints exactly the metrics BENCHMARK.json names."""
    REC = {
        "workload": "ivm_index", "setup_s": 20.0, "build_s": 9.0,
        "store_bytes": 1 << 20, "disk_peak_bytes": 1 << 21, "store_files": 3,
        "live_heap_bytes": 1 << 27, "origin_epoch_ms": 0, "host": {"cores": 4},
        "ops": [{"i": 0, "kind": "fact_upsert", "rows": 1000, "round": 0, "timed": True,
                 "traced": True,
                 "ok": True, "dur_s": 9.0, "write_s": 8.5, "serves": [0.5],
                 "files_before": 2, "files_after": 3}],
        "spans": [span(0, -1, "op", 0, 9_000_000_000),
                  span(1, 0, "store.stream", 0, 8_000_000_000)],
        "spark": {"jobs": [{"job": 0, "span": 1, "time_ms": 1, "sql": 0, "stages": [0],
                            "skipped": 0}],
                  "stages": [{"stage": 0, "tasks": 4, "failed": 0, "run_ms": 400,
                              "cpu_ns": 1e8, "gc_ms": 0, "shuffle_write": 0,
                              "shuffle_read": 0, "spill": 0, "input": 0}]}}

    def test_metric_names_match_the_benchmark_file(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = analyze.end_to_end(self.REC)
        layer = analyze.per_layer(self.REC)
        self.assertEqual(list(e2e), [m["name"] for m in spec["end_to_end"]])
        self.assertEqual(list(layer), [m["name"] for m in spec["per_layer"]])
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        for k, v in list(e2e.items()) + list(layer.items()):
            self.assertEqual(v[1], units[k], k)


class GeneratorTest(unittest.TestCase):
    @staticmethod
    def files(d):
        return sorted(os.path.relpath(os.path.join(r, f), d)
                      for r, _, fs in os.walk(d) for f in fs)

    def test_same_seed_same_bytes_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            for w, differs in (("ivm_index", "schedule.txt"),
                               ("curation_batch", "documents.parquet")):
                a, b, c = (os.path.join(d, f"{w}{k}") for k in "abc")
                gen.generate(w, 7, a, 2)
                gen.generate(w, 7, b, 2)
                gen.generate(w, 8, c, 2)
                names = self.files(a)
                self.assertIn("schedule.txt", names)
                self.assertEqual(names, self.files(b), w)
                _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), w)
                self.assertFalse(filecmp.cmp(os.path.join(a, differs),
                                             os.path.join(c, differs), shallow=False), w)

    def test_rounds_open_with_a_wave(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("ivm_index", 3, d, 20)
            with open(os.path.join(d, "schedule.txt")) as f:
                plan = [line.split() for line in f]
            warm = [p for p in plan if p[4] == "-1"]
            self.assertEqual([p[0] for p in warm], gen.WARM)
            first = [p[0] for p in plan if p[4] == "0"]
            self.assertEqual(first, ["fact_upsert"] + gen.FIRST_BLOCK)
            for k in range(1, 4):
                rnd = [p[0] for p in plan if p[4] == str(k)]
                self.assertIn(rnd[0], analyze.WAVE_KINDS)
                self.assertEqual(rnd[1::2], ["serve", "serve"])
                self.assertIn(rnd[2], gen.WRITE_KINDS)
            # the first four waves are one of each kind
            waves = [p[0] for p in plan if p[2] == "ivm"][:4]
            self.assertEqual(sorted(waves), sorted(analyze.WAVE_KINDS))


if __name__ == "__main__":
    unittest.main()
