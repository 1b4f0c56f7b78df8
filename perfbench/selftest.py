#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/selftest.py            # everything (smoke runs take a few minutes)
    python3 perfbench/selftest.py Pure       # the fast tests only

``Pure`` checks the trace arithmetic, the spread statistic and the oracles
on hand-sized inputs, and that the benchmark fails fast without the
package. ``Smoke`` runs every BENCHMARK.json workload at the smoke size
(``--size smoke``, seed 1) with tracing off and on, and checks the result
line against BENCHMARK.json.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import Trace, _union_length  # noqa: E402
from perfbench.steady import spread  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Pure(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(_union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(_union_length([]), 0)

    def test_self_time_subtracts_children(self):
        tr = Trace(True)
        tr.pass_id = 0
        with tr.span("op", "operators"):
            with tr.span("run", "spark"):
                pass
        op, run = tr.spans
        op.start, op.end, run.start, run.end = 0.0, 10.0, 2.0, 9.0
        self.assertEqual(tr.self_times({0}), {"operators": 3.0, "spark": 7.0})
        self.assertEqual(tr.span_medians({0})["op"], 10.0)

    def test_disabled_trace_records_nothing(self):
        tr = Trace(False)
        with tr.span("x", "y"):
            tr.count("c", 1)
        self.assertEqual((tr.spans, tr.counters), ([], {}))

    def test_spread_is_iqr_over_median(self):
        med, q1, q3, sp = spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(sp, (q3 - q1) / 5.5)

    def test_focal_oracle_matches_loop(self):
        from perfbench.workloads.tile_algebra import _focal_mean_3x3

        a = np.array([[1, 0, 3], [4, 5, 0], [0, 8, 9]], np.uint16)
        got = _focal_mean_3x3(a)
        for r in range(3):
            for c in range(3):
                w = [int(a[i, j]) for i in range(max(0, r - 1), min(3, r + 2))
                     for j in range(max(0, c - 1), min(3, c + 2)) if a[i, j] != 0]
                self.assertAlmostEqual(got[r, c], sum(w) / len(w))
        # a stack of tiles gives each tile's own result
        np.testing.assert_array_equal(_focal_mean_3x3(np.stack([a, a[::-1]]))[1],
                                      _focal_mean_3x3(a[::-1]))

    def test_jaccard(self):
        from perfbench.workloads.doc_dedup import jaccard

        self.assertEqual(jaccard("a b c d", "a b c e"), 1 / 3)

    def test_benchmark_json_names_are_unique(self):
        spec = _spec()
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)

    def test_fails_fast_without_the_package(self):
        scratch = os.path.join(ROOT, ".perfbench")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "raster", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=120,
                env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn("{", p.stdout)


class Smoke(unittest.TestCase):
    def _run(self, workload, trace):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
             "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_workloads(self):
        spec = _spec()
        for w in spec["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    out = self._run(w["name"], trace)
                    self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in spec[key]}
                    self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)
                    for k, v in out["metrics"].items():
                        self.assertTrue(math.isfinite(v["value"]), k)
                    if trace == 0:
                        for k, v in out["metrics"].items():
                            self.assertGreater(v["value"], 0, k)


if __name__ == "__main__":
    unittest.main()
