"""Tests of the benchmark's own rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import metrics  # noqa: E402


def execs(*lat, error=None):
    out = [{"name": "q%d" % i, "build_s": 0.0, "exec_s": x}
           for i, x in enumerate(lat)]
    if error:
        out.append({"name": "bad", "build_s": 0.0, "exec_s": 0.1, "error": error})
    return out


def raw_run(warm_lat, cold_lat=None, error=None, fps=None):
    cold_lat = cold_lat or warm_lat[0]
    return {
        "cores": 4,
        "setup_s": [5.0, 1.0, 2.0],
        "cold": {"wall_s": sum(cold_lat), "traced": False, "execs": execs(*cold_lat),
                 "layers": {}},
        "warm": [{"wall_s": sum(lat), "traced": False, "execs": execs(*lat, error=error),
                  "layers": {}} for lat in warm_lat],
        "live_heap_mb": [100.0, 140.0, 120.0],
        "fingerprints": fps or {"q0": {"rows": 3, "hash": "ab"}},
    }


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.nearest_rank(xs, 50), 50)
        self.assertEqual(metrics.nearest_rank(xs, 90), 90)
        self.assertEqual(metrics.nearest_rank(xs, 99), 99)
        self.assertEqual(metrics.nearest_rank([7.0], 50), 7.0)

    def test_samples_beyond(self):
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(21, 52), 10)
        self.assertEqual(metrics.beyond(21, 53), 9)

    def test_tail_percentile_is_highest_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(21), 52)
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertIsNone(metrics.tail_percentile(19))

    def test_tail_fixes_percentile_by_fewest_samples(self):
        xs = [float(i) for i in range(1, 201)]
        p, value, n = metrics.tail(xs, 100)
        self.assertEqual((p, n), (90, 200))
        self.assertEqual(value, 180.0)
        # at least ten samples lie beyond the reported value
        self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)

    def test_tail_rejects_short_runs(self):
        with self.assertRaises(ValueError):
            metrics.tail([1.0] * 30, 40)
        with self.assertRaises(ValueError):
            metrics.tail([1.0] * 19, 19)


class DerivedTest(unittest.TestCase):
    def test_idle_and_busy(self):
        self.assertAlmostEqual(metrics.idle_core_s(4, 10.0, 25.0), 15.0)
        self.assertAlmostEqual(metrics.busy_ratio(4, 10.0, 25.0), 0.625)

    def test_per_layer_derives_from_each_traced_pass(self):
        raw = raw_run([(1.0,)])
        layers = {"spark.task_run_s": 2.0, "operators.GeoOps.build_s": 0.5,
                  "operators.GeoOps.exec_s": 1.0, "operators.TextOps.exec_s": 2.0}
        raw["warm"] = [
            {"wall_s": 2.0, "traced": False, "execs": [], "layers": {}},
            {"wall_s": 2.5, "traced": True, "execs": [], "layers": layers},
        ]
        raw["setup_spans"] = {"Sessions.local": 3.0, "sources.open.orders": 0.25,
                              "sources.open.events": 0.5, "Caches.warm.GeoOps": 1.5}
        raw["caches"] = {"Caches.leaked_rdds": 1.0}
        out = metrics.per_layer(raw)
        self.assertAlmostEqual(out["spark.idle_core_s"], 8.0)
        self.assertAlmostEqual(out["spark.busy_ratio"], 0.2)
        self.assertAlmostEqual(out["operators.build_s"], 0.5)
        self.assertAlmostEqual(out["operators.exec_s"], 3.0)
        self.assertAlmostEqual(out["sources.open_s"], 0.75)
        self.assertAlmostEqual(out["Caches.warm_s"], 1.5)
        self.assertAlmostEqual(out["Caches.warm_s.GeoOps"], 1.5)
        self.assertAlmostEqual(out["trace.overhead_s"], 0.5)
        self.assertEqual(out["Caches.leaked_rdds"], 1.0)


class FingerprintTest(unittest.TestCase):
    REF = {"a": {"rows": 3, "hash": "1f"}, "b": {"rows": 0, "hash": "0"}}

    def test_match(self):
        live = {"a": {"rows": 3, "hash": "1f"}, "b": {"rows": 0, "hash": "0"}}
        self.assertEqual(metrics.compare_fingerprints(live, self.REF), {})

    def test_wrong_output_is_caught(self):
        live = {"a": {"rows": 3, "hash": "20"}, "b": {"rows": 1, "hash": "0"}}
        bad = metrics.compare_fingerprints(live, self.REF)
        self.assertEqual(sorted(bad), ["a", "b"])
        self.assertIn("row hash", bad["a"])
        self.assertIn("rows 1", bad["b"])

    def test_error_and_missing_reference_are_caught(self):
        live = {"a": {"error": "boom"}, "c": {"rows": 1, "hash": "9"}}
        bad = metrics.compare_fingerprints(live, self.REF)
        self.assertEqual(sorted(bad), ["a", "c"])

    def test_wrong_output_counts_as_failed(self):
        raw = raw_run([(1.0, 2.0)] * 10,
                      fps={"q0": {"rows": 3, "hash": "ab"}, "q1": {"rows": 2, "hash": "00"}})
        ref = {"q0": {"rows": 3, "hash": "ab"}, "q1": {"rows": 2, "hash": "ff"}}
        bad = metrics.compare_fingerprints(raw["fingerprints"], ref)
        attempted, failed = metrics.attempts(raw, bad)
        self.assertEqual((attempted, failed), (2 + 20 + 2, 1))
        _, extra = metrics.end_to_end(raw, bad, 10)
        self.assertAlmostEqual(extra["failed_ratio"], 1 / 24)


class EndToEndTest(unittest.TestCase):
    def test_metrics(self):
        raw = raw_run([(1.0, 2.0)] * 10 + [(3.0, 4.0)] * 10, cold_lat=(5.0, 6.0))
        m, extra = metrics.end_to_end(raw, {}, 20)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["cold_pass_s"], 11.0)
        self.assertEqual(m["pass_s"], 5.0)
        self.assertEqual(m["query_p50_s"], 2.5)
        self.assertEqual(m["query_tail_s"], 3.0)
        self.assertEqual(m["live_heap_mb"], 140.0)
        self.assertEqual((extra["tail_percentile"], extra["query_samples"]), (75, 40))
        self.assertEqual(extra["failed_ratio"], 0.0)

    def test_failed_execution_is_excluded_from_latency_and_counted(self):
        raw = raw_run([(1.0, 2.0)] * 10, error="IllegalStateException: x")
        m, extra = metrics.end_to_end(raw, {}, 10)
        self.assertEqual(extra["query_samples"], 20)
        attempted, failed = metrics.attempts(raw, {})
        self.assertEqual((attempted, failed), (2 + 30 + 1, 10))

    def test_live_heap_peak_ignores_passes_beyond_the_fewest(self):
        raw = raw_run([(1.0,) * 10] * 10)
        raw["live_heap_mb"] = [100.0, 120.0, 110.0] + [200.0] * 8
        m, _ = metrics.end_to_end(raw, {}, 2)
        self.assertEqual(m["live_heap_mb"], 120.0)


if __name__ == "__main__":
    unittest.main()
