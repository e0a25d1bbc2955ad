#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py            # all, smoke runs included
    python3 perfbench/test_perfbench.py Unit       # the pure helpers only

The smoke tests run every workload at sf0.001 with a short ladder, traced
and untraced, and check that every metric path reports (about a minute
each once the engine is built).
"""
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


class Unit(unittest.TestCase):

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 90), 4.6)
        self.assertEqual(stats.percentile([7], 90), 7)
        self.assertTrue(math.isnan(stats.percentile([], 50)))

    def test_harrell_davis(self):
        self.assertAlmostEqual(stats.betainc(2, 3, 0.4), 0.5248)
        self.assertAlmostEqual(stats.hd_quantile([1, 2, 3, 4, 5], 50), 3.0)
        self.assertAlmostEqual(stats.hd_quantile([5, 1, 4, 2, 3], 50), 3.0)
        xs = list(range(1001))
        self.assertAlmostEqual(stats.hd_quantile(xs, 90), 900, delta=1)
        self.assertEqual(stats.hd_quantile([7], 90), 7)
        # a weighted average: it never leaves the sample's range
        self.assertLess(stats.hd_quantile([1, 1, 1, 100], 90), 100)

    def test_supported_percentile_leaves_ten_beyond(self):
        self.assertEqual(stats.supported_percentile(1000), 99)
        self.assertEqual(stats.supported_percentile(200), 95)
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(99), 75)
        self.assertEqual(stats.supported_percentile(40), 75)
        self.assertEqual(stats.supported_percentile(39), 50)
        self.assertEqual(stats.supported_percentile(20), 50)
        self.assertIsNone(stats.supported_percentile(19))

    def test_slope(self):
        self.assertAlmostEqual(stats.slope([(0, 1), (1, 3), (2, 5)]), 2.0)
        self.assertEqual(stats.slope([(0, 1)]), 0.0)
        self.assertEqual(stats.slope([(1, 1), (1, 5)]), 0.0)

    def test_backlog_series(self):
        files = [(0.0, 10, 1.0), (0.5, 20, 2.0), (1.5, 5, 2.0)]
        self.assertEqual(stats.backlog_series(files, [0.9, 1.9, 2.0]),
                         [(0.9, 30), (1.9, 25), (2.0, 0)])

    def test_peak_times_skip_the_partial_first_peak(self):
        starts = [0.5, 1.0, 3.0, 5.0, 7.0, 9.0]
        self.assertEqual(stats.peak_times(starts, 1.0, 6.0), [3.0, 5.0, 7.0])
        self.assertEqual(stats.peak_times(starts, 8.0, 10.0), [])

    def test_growing_backlog_is_not_sustained(self):
        grow = [(t, 1000 * t) for t in range(5)]
        flat = [(t, 500 + (100 if t % 2 else -100)) for t in range(5)]
        self.assertFalse(stats.rung_sustained(2000, stats.slope(grow), 3.0,
                                              20.0, 0.25))
        self.assertTrue(stats.rung_sustained(2000, stats.slope(flat), 3.0,
                                             20.0, 0.25))
        # too few peaks to measure growth: unclassified, not sustained
        self.assertIsNone(stats.backlog_slope([(0, 0), (1, 5000)]))
        self.assertEqual(stats.backlog_slope(grow), 1000.0)
        self.assertFalse(stats.rung_sustained(2000, None, 3.0, 20.0, 0.25))
        # a flat backlog with a p90 over the limit is not sustained either
        self.assertFalse(stats.rung_sustained(2000, 0.0, 25.0, 20.0, 0.25))
        self.assertFalse(stats.rung_sustained(2000, 0.0, math.nan, 20.0, 0.25))

    def test_sustained_rung_stops_at_first_failure(self):
        rungs = [{"rung": "low", "sustained": True},
                 {"rung": "mid", "sustained": False},
                 {"rung": "high", "sustained": True}]
        self.assertEqual(stats.sustained_rung(rungs)["rung"], "low")
        self.assertIsNone(stats.sustained_rung([{"sustained": False}]))
        rungs[1]["sustained"] = True
        self.assertEqual(stats.sustained_rung(rungs)["rung"], "high")

    def test_self_times_subtract_covered_children(self):
        spans = [{"id": 1, "parent": -1, "start": 0, "end": 10},
                 {"id": 2, "parent": 1, "start": 1, "end": 4},
                 {"id": 3, "parent": 1, "start": 3, "end": 5},
                 {"id": 4, "parent": 2, "start": 2, "end": 3}]
        self.assertEqual(stats.self_times(spans),
                         {1: 6.0, 2: 2.0, 3: 2.0, 4: 1.0})

    def test_union_length_clips(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 9)], 1, 6), 3)


def run_bench(*args, cwd=None):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=cwd or os.path.dirname(HERE),
                       capture_output=True, text=True, timeout=900)
    return p


class Smoke(unittest.TestCase):
    """Every workload at sf0.001 with a short ladder: all metric paths."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check(self, workload, trace):
        p = run_bench("--workload", workload, "--seed", "3", "--seconds", "4",
                      "--trace", str(trace), "--smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], p.stderr[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        if trace:
            with open(os.path.join(HERE, ".work", "records",
                                   f"{workload}-seed3-trace1-smoke.json")) as f:
                self.assertTrue(json.load(f)["self_time_check"]["ok"])
        want = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in want})
        for m in want:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return p.stderr

    def test_batch_headline(self):
        self.check("batch_headline", 0)
        err = self.check("batch_headline", 1)
        self.assertIn("mix relational", err)
        self.assertIn("mix llm", err)

    def test_stream_dwd_dws(self):
        self.check("stream_dwd_dws", 0)
        self.check("stream_dwd_dws", 1)

    def test_refuses_without_engine_sources(self):
        """In a directory that holds only the benchmark, it fails fast and
        prints no result."""
        bare = os.path.join(HERE, ".work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target",
                                                      "__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "olap_relational", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=bare, capture_output=True,
                           text=True, timeout=180)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
