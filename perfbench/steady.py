#!/usr/bin/env python3
"""Run one workload repeatedly and print each metric's spread against its bound.

    python3 perfbench/steady.py --workload raster --seeds 1-10
    python3 perfbench/steady.py --workload doc_dedup --seeds 1-5 --out runs.json

Each run is ``perfbench/run.py`` in a fresh process with another seed. For
every end-to-end metric the spread is the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median; a metric is steady when its spread is below a third of its bound
in BENCHMARK.json. ``setup_s`` is compared on its median only, so its
spread is shown but not judged. ``--trace 1`` prints the per-layer
metrics' medians instead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(s: str) -> list[int]:
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_once(workload: str, seed: int, seconds: float, trace: int, size: str) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--size", size]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"seed {seed}: exit code {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    return out


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--out", help="write every run's result to this JSON file")
    args = ap.parse_args(argv)

    runs = []
    for seed in args.seeds:
        r = run_once(args.workload, seed, args.seconds, args.trace, args.size)
        runs.append({"seed": seed, **r})
        print(f"seed {seed}: correct {r['correct']} attempted {r['attempted']} "
              f"failed {r['failed']} wall {r['wall_s']:.1f} s", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace, "runs": runs}, f, indent=1)

    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    steady = True
    print(f"{'metric':<30} {'unit':>8} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6}  verdict")
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med, q1, q3, sp = spread(vals) if len(vals) > 1 else (vals[0], vals[0], vals[0], 0.0)
        bound = m.get("bound")
        if bound is None or m["name"] == "setup_s":
            verdict = "-"
        elif sp < bound / 3:
            verdict = "steady"
        elif sp <= bound:
            verdict = "within bound, not steady"
            steady = False
        else:
            verdict = "OVER BOUND"
            steady = False
        print(f"{m['name']:<30} {m['unit']:>8} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} "
              f"{sp:>8.4f} {bound if bound is not None else '':>6}  {verdict}")
    ok = all(r["correct"] for r in runs)
    print(f"all correct: {ok}; steady: {steady}; mean wall per run "
          f"{statistics.mean(r['wall_s'] for r in runs):.1f} s")
    return 0 if ok and steady else 1


if __name__ == "__main__":
    sys.exit(main())
