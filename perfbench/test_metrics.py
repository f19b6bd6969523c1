"""Unit tests for the benchmark's own arithmetic.

    python3 perfbench/test_metrics.py
"""
import json
import os
import unittest

import metrics

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")


class TailPercentile(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(10))))

    def test_eleven_samples_give_the_minimum(self):
        pct, value = metrics.tail_percentile([float(x) for x in range(11, 0, -1)])
        self.assertEqual(value, 1.0)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_hundred_samples_give_p90_with_ten_beyond(self):
        samples = [float(x) for x in range(100)]
        pct, value = metrics.tail_percentile(samples)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for s in samples if s > value), 10)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0.0, 10.0), []), 10.0)

    def test_overlapping_children_count_once(self):
        # (1,4) and (3,6) overlap: together they cover 5, not 6
        self.assertEqual(metrics.self_time((0.0, 10.0), [(3.0, 6.0), (1.0, 4.0)]), 5.0)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0.0, 10.0), [(-5.0, 2.0), (8.0, 12.0), (20, 30)]), 6.0)

    def test_nested_and_identical_children(self):
        kids = [(2.0, 8.0), (3.0, 4.0), (2.0, 8.0)]
        self.assertEqual(metrics.self_time((0.0, 10.0), kids), 4.0)


class Flops(unittest.TestCase):
    def test_kmeans(self):
        self.assertEqual(metrics.flops("kmeans_fit", {"n": 100000, "k": 100, "d": 100, "iters": 5}),
                         1e10)

    def test_gmm_full(self):
        shape = {"n": 40000, "k": 8, "d": 50, "iters": 3}
        self.assertEqual(metrics.flops("gmm_fit", shape), (3.2e9 + 6.4e7) * 3)

    def test_tsqr(self):
        self.assertEqual(metrics.flops("tsqr", {"m": 200000, "n": 32}), 4 * 200000 * 32 ** 2)

    def test_matmul(self):
        self.assertEqual(metrics.flops("matmul", {"m": 1500, "k": 1500, "n": 1500}), 6.75e9)

    def test_ops_without_a_formula(self):
        self.assertEqual(metrics.flops("cc", {}), 0.0)


class BenchmarkJson(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(BENCHMARK_JSON) as fh:
            cls.spec = json.load(fh)

    def test_name_pattern(self):
        names = [m["name"] for key in ("end_to_end", "per_layer") for m in self.spec[key]]
        names += [w["name"] for w in self.spec["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, metrics.NAME_RE)
        self.assertEqual(len(names), len(set(names)))

    def test_caps(self):
        self.assertLessEqual(len(self.spec["end_to_end"]), metrics.MAX_END_TO_END)
        self.assertLessEqual(len(self.spec["per_layer"]), metrics.MAX_PER_LAYER)

    def test_lists_match_what_the_harness_reports(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         metrics.per_layer_names())

    def test_bounds(self):
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


class EndToEnd(unittest.TestCase):
    RAW = {
        "setup": {"jvm_start_ms": 1000, "session_ready_ms": 5000, "probe_s": 1.0,
                  "input_setup_s": [3.0, 1.0, 2.0]},
        "passes": [
            {"ops": [{"name": "a", "seconds": 4.0}, {"name": "b", "seconds": 8.0}]},
            {"ops": [{"name": "a", "seconds": 1.0}, {"name": "b", "seconds": 4.0}]},
            {"ops": [{"name": "a", "seconds": 1.0}, {"name": "b", "seconds": 2.0}]},
        ],
    }

    def test_values(self):
        e = metrics.end_to_end(self.RAW)
        self.assertEqual(e["setup_s"], 4.0 - 1.0 + 2.0)
        self.assertEqual(e["first_pass_s"], 12.0)
        self.assertEqual(e["wall_s"], 4.0)
        self.assertEqual(e["op_p50_s"], 1.5)
        self.assertAlmostEqual(e["op_geomean_s"], 3.0 ** 0.5)


if __name__ == "__main__":
    unittest.main()
