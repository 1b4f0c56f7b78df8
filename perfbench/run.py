#!/usr/bin/env python3
"""Seeded end-to-end benchmark of rasterframes_spark.

    python3 perfbench/run.py --workload raster --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. One run is one fresh process: it
starts a Spark session at local[<nproc>], generates the workload's inputs
from ``--seed``, runs one untimed warm pass (all of this is ``setup_s``),
then runs passes of the workload's fixed op mix for ``--seconds`` seconds,
one client in a closed loop. Every op's output is checked against an
oracle built from the same generated inputs.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, then runs the per-layer probes, and reports
the per-layer metrics (see BENCHMARK.json and perfbench/README.md); the
spans and counters go to ``.perfbench/trace-<workload>-<seed>.json``.

Human-readable lines go to stdout first; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PER_LAYER_LAYERS = ("functions", "operators", "sources", "pipeline", "spark")


def process_age() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    from perfbench.workloads import NAMES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="smoke: tiny inputs for the self-tests")
    return p.parse_args(argv)


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, op: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.failed += 1
            self.errors.append(f"{op}: {err}")
            print(f"perfbench: FAILED {op}: {err}", file=sys.stderr, flush=True)


def run_pass(ctx, ops, tally: Tally) -> dict[str, float]:
    """One pass through the op mix; returns each op's wall seconds (the
    API call plus its action, without the oracle check)."""
    from time import perf_counter

    times = {}
    with ctx.trace.span("pass", "bench"):
        for op in ops:
            ctx.op, ctx.layer = op.name, op.layer
            t0 = perf_counter()
            try:
                with ctx.trace.span(f"op.{op.name}", op.layer):
                    res = op.run(ctx)
                times[op.name] = perf_counter() - t0
                with ctx.trace.span(f"{op.name}.check", "bench"):
                    err = op.check(res)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                times.setdefault(op.name, perf_counter() - t0)
                err = f"{type(e).__name__}: {str(e)[:300]}"
            tally.record(op.name, err)
    return times


def session(tmp: str, cpus: int):
    import rasterframes_spark as rf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # temp files stay in the run's directory; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    spark = rf.create_rf_spark_session(master=f"local[{cpus}]",
                                       app_name="perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def reap_descendants(grace: float = 10.0) -> None:
    """Terminate and wait for anything this process started that is
    still alive (Python workers the JVM left behind)."""
    from perfbench.harness import descendants

    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + grace
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def measure(args, tmp: str) -> dict:
    from time import perf_counter

    from perfbench.harness import Ctx, RssSampler, Trace, median
    from perfbench.workloads import load

    cpus = os.cpu_count() or 1
    t0 = perf_counter()
    spark = session(tmp, cpus)
    session_start_s = perf_counter() - t0
    try:
        t1 = perf_counter()
        wl = load(args.workload)(spark, args.seed, args.size, tmp)
        ops = wl.ops()
        tally = Tally()
        trace = Trace(False)
        ctx = Ctx(spark, trace)
        t2 = perf_counter()
        warm = run_pass(ctx, ops, tally)
        setup_s = process_age()
        setup_parts = {"start_s": t0 - T_START, "session_s": session_start_s,
                       "inputs_s": t2 - t1, "warm_pass_s": perf_counter() - t2}

        untraced, traced = [], []   # per-pass {op: seconds}
        deadline = perf_counter() + args.seconds
        with RssSampler() as rss:
            while True:
                trace.enabled = bool(args.trace) and len(untraced) > len(traced)
                if trace.enabled:
                    trace.pass_id = len(traced)
                    traced.append(run_pass(ctx, ops, tally))
                else:
                    untraced.append(run_pass(ctx, ops, tally))
                # at least one pass; traced runs go U T U ...: ending on an
                # untraced pass keeps warm-up drift out of the overhead
                # estimate
                enough = not args.trace or 1 <= len(traced) < len(untraced)
                if enough and perf_counter() >= deadline:
                    break
        probes = {}
        if args.trace:
            trace.enabled, trace.pass_id = True, -2
            probes = wl.probes(ctx)
            trace.enabled = False
    finally:
        stop_session(spark)

    pass_times = [sum(p.values()) for p in untraced]
    out = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "cpus": cpus, "work": wl.work, "passes": len(untraced), "setup": setup_parts,
        "attempted": tally.attempted, "failed": tally.failed,
        "errors": tally.errors[:20],
        "op_s": {op.name: median([p[op.name] for p in untraced]) for op in ops},
        "pass_times": pass_times,
        "e2e": {
            "setup_s": setup_s,
            "pass_s": median(pass_times),
            "input_mb_per_s": wl.work["input_mb"] * len(pass_times) / sum(pass_times),
            "peak_rss_mb": rss.peak / 1e6,
        },
    }
    w, e = wl.work, out["e2e"]
    if "mcells" in w:
        e["mcells_per_s"] = w["mcells"] * len(pass_times) / sum(pass_times)
    if "docs" in w:
        e["docs_per_s"] = w["docs"] * len(pass_times) / sum(pass_times)
    e["failed_frac"] = tally.failed / max(1, tally.attempted)
    if args.trace:
        out["layers"] = per_layer(trace, traced, untraced, warm, ops, probes,
                                  wl.stats(), session_start_s)
        out["trace"] = trace.dump()
    return out


def per_layer(trace, traced, untraced, warm, ops, probes, stats, session_start_s):
    """The per-layer ledger from the traced passes. A metric whose layer
    this workload does not exercise reads 0. ``session.worker_boot_s`` is
    what the cold warm pass costs over a warm one: Python-worker boot,
    first-use imports and JIT."""
    from perfbench.harness import median

    passes = set(range(len(traced)))
    spans = trace.span_medians(passes)
    selfs = trace.self_times(passes)

    def counter(name):
        return median(trace.per_pass(name, sorted(passes)))

    m = {
        "session.start_s": session_start_s,
        "session.worker_boot_s": sum(warm.values()) - median([sum(p.values()) for p in untraced]),
        "kernel.eval_nodes": counter("all.python_nodes"),
        "kernel.python_task_s": counter("all.python_task_s"),
        "kernel.python_boot_s": counter("all.python_boot_s"),
        "kernel.python_init_s": counter("all.python_init_s"),
        "kernel.arrow_mb_sent": counter("all.arrow_mb_sent"),
        "kernel.arrow_mb_received": counter("all.arrow_mb_received"),
        "operators.plan_s": counter("operators.build_s"),
        "operators.plan_jobs": counter("operators.build_jobs"),
        "operators.shuffle_mb": counter("operators.shuffle_mb"),
        "operators.shuffle_partitions": counter("operators.shuffle_partitions"),
        "operators.spill_mb": counter("operators.spill_mb"),
        "pipeline.plan_jobs": counter("pipeline.build_jobs"),
        "spark.jobs": counter("spark.build_jobs") + counter("spark.run_jobs"),
        "spark.stages": counter("spark.stages"),
        "spark.tasks": counter("spark.tasks"),
        "trace.overhead_s": (median([sum(p.values()) for p in traced])
                             - median([sum(p.values()) for p in untraced])),
    }
    for layer in PER_LAYER_LAYERS:
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    for op in ops:
        m[f"{op.layer}.{op.name}_s"] = spans.get(f"op.{op.name}", 0.0)
    m.update(stats)
    m.update(probes)
    return m


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "rasterframes_spark", "__init__.py")):
        print(f"perfbench: no rasterframes_spark package under {ROOT}; "
              "run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    # Spark's Python workers are separate interpreters: they import the
    # package through PYTHONPATH. Temp files stay inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=out_dir)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = tmp
    try:
        out = measure(args, tmp)
    finally:
        reap_descendants()
        shutil.rmtree(tmp, ignore_errors=True)

    if args.trace:
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({k: out[k] for k in ("workload", "seed", "layers", "trace")}, f)
        wanted, values = spec["per_layer"], out["layers"]
    else:
        wanted, values = spec["end_to_end"], out["e2e"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    report(out, values, {**EXTRA_UNITS, **units})
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in wanted},
    }), flush=True)
    return 0


# Printed for the workloads they apply to; not in BENCHMARK.json, whose
# end-to-end metrics exist on every workload and are never 0.
EXTRA_UNITS = {"mcells_per_s": "Mcells/s", "docs_per_s": "docs/s",
               "failed_frac": "frac"}


def report(out: dict, values: dict, units: dict) -> None:
    print(f"workload {out['workload']} seed {out['seed']} size {out['size']} "
          f"local[{out['cpus']}] passes {out['passes']} "
          f"attempted {out['attempted']} failed {out['failed']}")
    print("inputs " + " ".join(f"{k}={v:g}" for k, v in out["work"].items()))
    print("setup " + " ".join(f"{k}={v:.3f}" for k, v in out["setup"].items()))
    for k, v in out["e2e"].items():
        print(f"  {k:<32} {v:>14.6g} {units.get(k, '')}")
    print("pass times " + " ".join(f"{t:.3f}" for t in out["pass_times"]))
    for k, v in out["op_s"].items():
        print(f"  op.{k:<29} {v:>14.6g} s")
    if "layers" in out:
        for k, v in sorted(values.items()):
            print(f"  {k:<32} {v:>14.6g} {units.get(k, '')}")
    for e in out["errors"]:
        print(f"  error {e}")


if __name__ == "__main__":
    sys.exit(main())
