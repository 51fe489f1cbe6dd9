#!/usr/bin/env python3
"""Self-tests of the benchmark: its statistics, its metric names, its
pinned entry list and its stream feed.

    python3 perfbench/selftest.py            # everything (builds, one JVM)
    python3 perfbench/selftest.py --no-jvm   # the pure-Python tests only

Run from the root of a checkout.
"""
import json
import os
import random
import re
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402

UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        rnd = random.Random(1)
        for n in range(1, 40):
            xs = [rnd.uniform(0, 100) for _ in range(n)]
            self.assertAlmostEqual(stats.median(xs), statistics.median(xs))

    def test_percentile(self):
        xs = list(range(1, 11))  # 1..10
        self.assertAlmostEqual(stats.percentile(xs, 0), 1)
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(stats.percentile(xs, 100), 10)
        self.assertAlmostEqual(stats.percentile([7.0], 90), 7.0)
        rnd = random.Random(2)
        for n in range(2, 60):
            xs = [rnd.uniform(0, 100) for _ in range(n)]
            inclusive = statistics.quantiles(xs, n=100, method="inclusive")
            self.assertAlmostEqual(stats.percentile(xs, 90), inclusive[89])
            self.assertAlmostEqual(stats.percentile(xs, 50), statistics.median(xs))

    def test_quartiles_match_statistics(self):
        rnd = random.Random(3)
        for n in range(2, 40):
            xs = [rnd.uniform(0, 100) for _ in range(n)]
            for a, b in zip(stats.quartiles(xs), statistics.quantiles(xs, n=4)):
                self.assertAlmostEqual(a, b)

    def test_iqr_share(self):
        xs = [10.0] * 9 + [11.0]
        self.assertEqual(stats.iqr_share(xs), 0.0)
        xs = [float(x) for x in range(1, 11)]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.iqr_share(xs), (q3 - q1) / q2)


class NamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_grammar(self):
        good = ["sweep_s", "exec.util", "functions.minhash_sigs_ms", "a-b", "9x"]
        bad = ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"]
        for n in good:
            self.assertRegex(n, stats.NAME_RE)
        for n in bad:
            self.assertNotRegex(n, stats.NAME_RE)

    def test_benchmark_json_names(self):
        names = ([w["name"] for w in self.bench["workloads"]] +
                 [m["name"] for m in self.bench["end_to_end"]] +
                 [m["name"] for m in self.bench["per_layer"]])
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, stats.NAME_RE)
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertRegex(m["unit"], UNIT_RE)

    def test_benchmark_json_matches_runner(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         run.PER_LAYER)
        self.assertTrue(all(0 < m["bound"] <= 0.25
                            for m in self.bench["end_to_end"]))

    def test_pinned_workload_entries(self):
        with open(os.path.join(HERE, "catalog_entries.txt")) as f:
            pinned = set(f.read().split())
        self.assertEqual(len(pinned), 153)
        for name, spec in run.load_workloads().items():
            for entry, fp in spec.get("entries", {}).items():
                self.assertIn(entry, pinned, name)
                self.assertRegex(fp, r"^\d+:[0-9a-f]{12}$", entry)


class ProgramTest(unittest.TestCase):
    """Needs the program: builds it and runs one JVM."""

    @classmethod
    def setUpClass(cls):
        pinned = os.path.join(HERE, "catalog_entries.txt")
        cls.r = run.run_jvm(os.getcwd(),
                            lambda root, out: ["selftest", pinned, out])

    def test_pinned_list_is_the_catalog(self):
        self.assertEqual(self.r["missing_from_catalog"], [])
        self.assertEqual(self.r["missing_from_pinned"], [])
        self.assertEqual(self.r["catalog_size"], 153)
        self.assertTrue(self.r["pinned_equals_catalog"])

    def test_feed_is_a_function_of_the_seed(self):
        self.assertTrue(self.r["feed_same_seed_identical"])
        self.assertTrue(self.r["feed_other_seed_differs"])

    def test_feed_has_late_and_replayed_tweets(self):
        self.assertGreater(self.r["feed_late_tweets"], 0)
        self.assertGreater(self.r["feed_replayed_tweets"], 0)


if __name__ == "__main__":
    if "--no-jvm" in sys.argv:
        sys.argv.remove("--no-jvm")
        del ProgramTest
    unittest.main()
