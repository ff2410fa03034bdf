"""Unit tests of the benchmark's own helpers.

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from stats import geomean, median, percentile, valid_name, valid_unit  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        self.assertEqual(median([7.5]), 7.5)
        with self.assertRaises(ValueError):
            median([])

    def test_percentile_reports_samples_above(self):
        xs = list(range(1, 101))               # 1..100
        value, above = percentile(xs, 90)
        self.assertAlmostEqual(value, 90.1)
        self.assertEqual(above, 10)
        self.assertEqual(percentile(xs, 50), (50.5, 50))
        self.assertEqual(percentile([5.0], 99), (5.0, 0))
        self.assertEqual(percentile([1, 2, 3, 4], 100), (4, 0))
        with self.assertRaises(ValueError):
            percentile(xs, 101)
        with self.assertRaises(ValueError):
            percentile([], 50)

    def test_geomean(self):
        self.assertAlmostEqual(geomean([1, 4, 16]), 4.0)
        with self.assertRaises(ValueError):
            geomean([1.0, 0.0])


class HostScalingTest(unittest.TestCase):
    WINDOW = {"probe_ns": run.REF_PROBE_NS / 2, "probe_samples": 200}

    def test_timings_scale_by_the_probe_and_heap_does_not(self):
        raw = {"setup_s": 20.0, "cpu_s": 40.0, "heap_live_mb": 100.0, "op_p50_s": 3.0,
               "op_geomean_s": 3.0, "work_s": 24.0}
        got = run.host_scaled(self.WINDOW, raw)     # cores ran at double speed
        self.assertEqual(got["setup_s"], 40.0)
        self.assertEqual(got["op_p50_s"], 6.0)
        self.assertEqual(got["cpu_s"], 80.0)
        self.assertEqual(got["heap_live_mb"], 100.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(RuntimeError):
            run.host_scaled(dict(self.WINDOW, probe_samples=0), {"op_p50_s": 1.0})


class TracingOverheadTest(unittest.TestCase):
    def test_baseline_is_per_source_stamp_and_missing_is_none(self):
        import argparse
        import tempfile
        args = argparse.Namespace(workload="queries", seconds=28.0)
        with tempfile.TemporaryDirectory() as d:
            old = run.OUT_DIR
            run.OUT_DIR = d
            try:
                self.assertIsNone(run.tracing_overhead(args, "aaaa", {"op_p50_s": 4.0}))
                with open(run.baseline_path(args, "bbbb"), "w") as f:
                    f.write(json.dumps({"op_p50_s": 2.0}) + "\n")
                self.assertIsNone(run.tracing_overhead(args, "aaaa", {"op_p50_s": 4.0}))
                with open(run.baseline_path(args, "aaaa"), "w") as f:
                    for v in (3.0, 4.0, 5.0):
                        f.write(json.dumps({"op_p50_s": v}) + "\n")
                got = run.tracing_overhead(args, "aaaa", {"op_p50_s": 4.4})
                self.assertAlmostEqual(got["op_p50_pct"], 10.0)
                self.assertEqual(got["baseline_runs"], 3)
            finally:
                run.OUT_DIR = old


class GeneratorTest(unittest.TestCase):
    P = gen.StreamParams(customers=500, merchants=20, chunks=2, merchant_skew=1.0,
                         child_share=0.02, female_share=0.5, importance_pairs=300)

    def test_transactions_deterministic_per_seed(self):
        a, b = gen.transactions(7, self.P), gen.transactions(7, self.P)
        for k in a:
            self.assertTrue((a[k] == b[k]).all(), k)
        c = gen.transactions(8, self.P)
        self.assertFalse((a["customer"] == c["customer"]).all())

    def test_importance_deterministic_and_overlaps_traffic(self):
        rows = gen.importance(7, self.P)
        self.assertEqual(rows, gen.importance(7, self.P))
        tx = gen.transactions(7, self.P)
        seen = set(zip(tx["customer"].tolist(), tx["merchant"].tolist()))
        # shared popularity: far above the ~18% a uniform draw would hit
        self.assertGreater(sum((c, m) in seen for c, m, _, _ in rows), len(rows) // 3)

    def test_csv_is_byte_identical_per_seed(self):
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            paths = [os.path.join(d, f"{i}.csv") for i in range(2)]
            for p in paths:
                gen.write_transactions_csv(p, gen.transactions(3, self.P))
            with open(paths[0], "rb") as f0, open(paths[1], "rb") as f1:
                self.assertEqual(f0.read(), f1.read())

    def test_expected_state_adds_up(self):
        tx = gen.transactions(7, self.P)
        st = gen.expected_state(tx)
        n = self.P.chunks * gen.CHUNK_ROWS
        self.assertEqual(sum(v[0] for v in st["merchant_summary"].values()), n)
        self.assertEqual(sum(v[0] for v in st["customer_merchant_summary"].values()), n)
        self.assertEqual(sum(v[1] for v in st["customer_merchant_summary"].values()),
                         int(tx["cents"].sum()))
        self.assertEqual(sum(m + f for m, f in st["merchant_gender_summary"].values()), n)

    def test_star_schema_deterministic(self):
        a, b = gen.star_schema(5, 0.001), gen.star_schema(5, 0.001)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(gen.star_schema(6, 0.001)["lineitem"]))


class MetricNamesTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_names_and_units_valid_and_unique(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.bench[k]]
        names += [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(valid_name(n), n)
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertTrue(valid_unit(m["unit"]), m)
        self.assertFalse(valid_name("_leading"))
        self.assertFalse(valid_name("x" * 65))
        self.assertFalse(valid_unit("rows per second"))

    def test_end_to_end_matches_runner(self):
        e2e = self.bench["end_to_end"]
        self.assertEqual([(m["name"], m["unit"]) for m in e2e], run.END_TO_END)
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in e2e))
        setup = next(m for m in e2e if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in e2e))

    def test_workloads_known_to_runner(self):
        names = [w["name"] for w in self.bench["workloads"]]
        self.assertTrue(set(names) <= set(run.WORKLOADS), names)

    def test_per_layer_matches_what_a_traced_run_reports(self):
        fake_res = {"stream": {"persisted_rdds": 1}, "phases_ms": []}
        outcome = {"state_rows": {}, "sink_files": 0, "sink_files_timed": 0, "sink_rows": {}}
        got = run.per_layer(fake_res, outcome)
        self.assertEqual([(k, run.unit_of(k)) for k in got],
                         [(m["name"], m["unit"]) for m in self.bench["per_layer"]])
        self.assertLessEqual(len(got), 128)


if __name__ == "__main__":
    unittest.main()
