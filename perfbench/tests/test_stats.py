"""Self-tests for the benchmark's pure parts. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import oracle  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_value_and_count(self):
        self.assertEqual(stats.percentile(range(1, 11), 0.5), (5.5, 10))
        self.assertEqual(stats.percentile([3.0], 0.9), (3.0, 1))
        self.assertEqual(stats.percentile([4, 1, 3, 2], 1.0), (4, 4))
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0.0), (1, 4))

    def test_empty(self):
        v, n = stats.percentile([], 0.5)
        self.assertTrue(math.isnan(v))
        self.assertEqual(n, 0)

    def test_rejects_bad_quantile(self):
        with self.assertRaises(ValueError):
            stats.percentile([1, 2], 1.5)

    def test_matches_statistics_quantiles_inclusive(self):
        import statistics
        xs = [0.3, 0.1, 0.7, 0.2, 0.9, 0.4, 0.5]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 0.25)[0], q1)
        self.assertAlmostEqual(stats.percentile(xs, 0.5)[0], q2)
        self.assertAlmostEqual(stats.percentile(xs, 0.75)[0], q3)


class TailRuleTest(unittest.TestCase):
    def test_requested_quantile_when_ten_lie_above(self):
        xs = list(range(1, 51))
        v, q = stats.tail(xs, 0.8)
        self.assertEqual(q, 0.8)
        self.assertAlmostEqual(v, 40.2)
        self.assertEqual(stats.beyond(xs, v), 10)

    def test_falls_back_to_highest_supported(self):
        xs = list(range(1, 41))
        v, q = stats.tail(xs, 0.8)
        self.assertEqual(q, 0.76)
        self.assertGreaterEqual(stats.beyond(xs, v), 10)
        self.assertLess(stats.beyond(xs, stats.percentile(xs, 0.77)[0]), 10)

    def test_maximum_when_too_few_samples(self):
        self.assertEqual(stats.tail([2.0, 9.0, 4.0], 0.8), (9.0, 1.0))
        self.assertEqual(stats.tail([7.5], 1.0), (7.5, 1.0))
        self.assertIsNone(stats.highest_supported(list(range(10))))

    def test_highest_supported_leaves_ten_above(self):
        xs = [float(i) for i in range(1000)]
        q, v = stats.highest_supported(xs)
        self.assertEqual(q, 0.99)
        self.assertGreaterEqual(stats.beyond(xs, v), 10)


class NameRuleTest(unittest.TestCase):
    def test_rule(self):
        for ok in ("setup_s", "engine.plan_s", "operators.dedup.batch_lookup_s", "a", "9x-y"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "é", "x" * 65):
            self.assertFalse(stats.valid_name(bad), bad)
        for ok in ("s", "1/s", "count", "MB", "%"):
            self.assertTrue(stats.valid_unit(ok), ok)
        self.assertFalse(stats.valid_unit("per second"))

    def test_benchmark_file(self):
        path = os.path.join(os.path.dirname(HERE), "..", "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        names = [w["name"] for w in b["workloads"]] + \
            [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertTrue(stats.valid_unit(m["unit"]), m)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            (1, 0, 1, "view:a", 0, 100),
            (2, 1, 1, "build", 10, 30),
            (3, 1, 1, "collect", 25, 90),   # overlaps build by 5
            (4, 3, 1, "inner", 40, 50),
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["view:a"], (100 - 80) / 1e9)
        self.assertAlmostEqual(st["build"], 20 / 1e9)
        self.assertAlmostEqual(st["collect"], 55 / 1e9)
        self.assertAlmostEqual(st["inner"], 10 / 1e9)
        self.assertEqual(stats.layer_of("view:a"), "view")
        self.assertEqual(stats.layer_of("build"), "build")


class OracleCompareTest(unittest.TestCase):
    def test_tolerates_float_noise_only(self):
        self.assertIsNone(oracle.compare([[1, 0.1 + 0.2, "x"]], [(1, 0.3, "x")]))
        self.assertIsNotNone(oracle.compare([[1, 0.31, "x"]], [(1, 0.3, "x")]))
        self.assertIsNotNone(oracle.compare([[1]], []))
        self.assertIsNone(oracle.compare([[None, "2023-01-02"]], [(None, __import__("datetime").date(2023, 1, 2))]))


if __name__ == "__main__":
    unittest.main()
