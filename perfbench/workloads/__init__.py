"""Workload registry and the pieces every workload shares.

A workload is built from ``(spark, seed, size, tmp)``: its constructor
generates the inputs from the seed (this is set-up) and its ``ops`` list
is the fixed op mix one pass runs. Each op returns a result that its
``check`` compares against an oracle computed with numpy or plain Python
from the same generated inputs; ``check`` returns ``None`` when the output
is right and a short description of the first mismatch otherwise.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd  # module-global: the identity UDF's type hints resolve here

TILE_T = "struct<cell_type:string,cols:int,rows:int,cells:binary>"
EXTENT_T = "struct<xmin:double,ymin:double,xmax:double,ymax:double>"


@dataclass
class Op:
    name: str
    layer: str
    run: Callable[[Any], Any]
    check: Callable[[Any], str | None]


class Workload:
    name = ""
    # filled by subclasses: counts of what one pass consumes
    work: dict

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def probes(self, ctx) -> dict[str, float]:
        """Traced run only: per-layer micro-measurements on this run's own
        inputs, keyed by per-layer metric name."""
        return {}

    def stats(self) -> dict[str, float]:
        """Per-layer figures the checks observed (recall, yields)."""
        return {}


def rng_for(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


def uint16_band(rng, shape, nodata_frac: float, hi: int = 9999) -> np.ndarray:
    """Values 1..hi with ``nodata_frac`` of cells set to NoData (0)."""
    a = rng.integers(1, hi + 1, size=shape, dtype=np.uint16)
    a[rng.random(shape) < nodata_frac] = 0
    return a


def rel_close(a: float, b: float, rel: float) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def first_mismatch(got: dict, want: dict, rel: float = 0.0) -> str | None:
    """Compare two {key: number} maps; ``rel`` 0 means exact."""
    if set(got) != set(want):
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        return f"keys differ: missing {missing} extra {extra}"
    for k in sorted(want):
        g, w = got[k], want[k]
        if (g != w) if rel == 0 else not rel_close(float(g), float(w), rel):
            return f"{k}: got {g!r} want {w!r}"
    return None


def median_seconds(fn, reps: int = 3, min_s: float = 0.0) -> float:
    """Median wall time of ``fn`` over at least ``reps`` calls and
    ``min_s`` seconds."""
    times, t_end = [], time.perf_counter() + min_s
    while len(times) < reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def time_mb_per_s(fn, nbytes: int) -> float:
    """Throughput of ``fn`` over ``nbytes``, from the median of calls
    repeated for at least 0.3 s."""
    return nbytes / 1e6 / median_seconds(fn, min_s=0.3)


def floor_seconds(ctx, df, column: str, return_type: str) -> float:
    """Median wall time of an identity pandas UDF over ``df[column]`` —
    the Arrow boundary's floor under the workload's own kernels."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def ident(s: pd.Series) -> pd.Series:
        return s

    q = df.select(F.length(pandas_udf(return_type)(ident)(F.col(column))).alias("b"))
    q = q.agg(F.sum("b"))
    ctx.op, ctx.layer = "kernel_floor", "kernel"
    with ctx.trace.span("kernel.floor", "kernel"):
        return median_seconds(q.collect)


# the benchmark's workloads (BENCHMARK.json)
NAMES = ("raster", "doc_dedup")


def load(name: str) -> type:
    """The workload class of ``name`` (module ``perfbench.workloads.<name>``)."""
    import importlib

    mod = importlib.import_module(f"perfbench.workloads.{name}")
    return next(v for v in vars(mod).values()
                if isinstance(v, type) and issubclass(v, Workload)
                and getattr(v, "name", "") == name)
