"""Unit tests of run.py's statistics and of BENCHMARK.json's shape.

    python3 -m unittest discover -s perfbench -p 'test_run.py'
"""

import json
import os
import random
import re
import statistics
import unittest

import run


class TailTest(unittest.TestCase):
    def test_exactly_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = run.tail(xs)
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_percentile_follows_the_sample_count(self):
        random.seed(3)
        for n in (21, 40, 57, 250, 1000):
            xs = [random.lognormvariate(0, 1) for _ in range(n)]
            value, pct, got = run.tail(xs)
            self.assertEqual(got, n)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertGreaterEqual(value, statistics.median(xs))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))

    def test_too_few_samples_report_the_median(self):
        for n in (1, 2, 12, 20):
            xs = [float(i) for i in range(n)]
            self.assertEqual(run.tail(xs), (statistics.median(xs), 50.0, n))

    def test_heavy_tail_is_seen(self):
        xs = [10.0] * 90 + [1000.0] * 11
        self.assertEqual(run.tail(xs)[0], 1000.0)
        self.assertEqual(run.median(xs), 10.0)

    def test_empty_samples_are_an_error(self):
        with self.assertRaises(ValueError):
            run.tail([])
        with self.assertRaises(ValueError):
            run.median([])


class SpreadTest(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        xs = [10.0, 10.0, 11.0, 12.0, 12.0, 13.0, 9.0, 10.0, 11.0, 12.0]
        med, q1, q3, sp = run.spread(xs)
        eq1, _, eq3 = statistics.quantiles(xs, n=4)
        self.assertEqual((med, q1, q3), (statistics.median(xs), eq1, eq3))
        self.assertAlmostEqual(sp, (eq3 - eq1) / statistics.median(xs))

    def test_constant_samples_have_no_spread(self):
        self.assertEqual(run.spread([2.0] * 10)[3], 0.0)


class SpecTest(unittest.TestCase):
    """BENCHMARK.json keeps its fixed keys and the limits on names, units and bounds."""

    @classmethod
    def setUpClass(cls):
        with open(run.SPEC) as f:
            cls.spec = json.load(f)

    def test_keys(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))

    def test_names_and_units(self):
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        names += [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["name"], name)
            self.assertRegex(m["unit"], unit)
            self.assertIn(m["better"], ("lower", "higher"))
        for w in self.spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        self.assertLessEqual(len(self.spec["per_layer"]), 128)

    def test_bounds(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        for m in e2e.values():
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))

    def test_every_end_to_end_metric_is_computed(self):
        raw = {"setup_s": [3.0, 1.0, 1.2], "pass_s": [1.0, 1.1],
               "ops": [{"kind": "x", "ms": float(i)} for i in range(1, 30)]}
        got = run.end_to_end(raw)
        self.assertEqual(set(got), {m["name"] for m in self.spec["end_to_end"]})
        self.assertEqual(got["setup_s"], 1.2)


if __name__ == "__main__":
    unittest.main()
