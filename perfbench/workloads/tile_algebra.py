"""The map-algebra part of the raster workload: a cached two-band uint16
layer.

Ops: one aggregation holding ``rf_agg_stats``, ``rf_normalized_difference``
-> ``rf_agg_mean`` and ``rf_mask_by_value`` -> ``rf_agg_data_cells``;
``rf_focal_mean`` -> ``rf_tile_sum``.

Kernels, the tile codec and the tile functions do almost all the work;
there is no file I/O, spatial join or pipeline operator.
"""

from __future__ import annotations

import numpy as np

from perfbench.workloads import (
    TILE_T, Op, Workload, first_mismatch, rel_close, rng_for, time_mb_per_s,
    uint16_band)

SIZES = {"full": (256, 256), "smoke": (4, 32)}   # (tiles, tile side)
CT = "uint16ud0"
SATURATED = 10000   # planted nir value the mask op removes


def _focal_mean_3x3(a: np.ndarray) -> np.ndarray:
    """Mean of the data cells in each 3x3 window of the last two axes
    (edges and NoData are left out); NaN where a window holds no data."""
    pad = [(0, 0)] * (a.ndim - 2) + [(1, 1), (1, 1)]
    v = np.pad(a.astype(np.float64), pad)
    d = np.pad((a != 0).astype(np.float64), pad)
    h, w = a.shape[-2:]
    s = sum(v[..., i:i + h, j:j + w] * d[..., i:i + h, j:j + w]
            for i in range(3) for j in range(3))
    c = sum(d[..., i:i + h, j:j + w] for i in range(3) for j in range(3))
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(c > 0, s / c, np.nan)


class TileAlgebra(Workload):
    def __init__(self, spark, seed, size, tmp):
        import rasterframes_spark as rf
        from rasterframes_spark.tile import Tile

        self.rf, self.spark = rf, spark
        n, t = SIZES[size]
        rng = rng_for(seed, 1)
        self.red = [uint16_band(rng, (t, t), 0.05) for _ in range(n)]
        self.nir = []
        for _ in range(n):
            b = uint16_band(rng, (t, t), 0.05)
            b[(b != 0) & (rng.random((t, t)) < 0.08)] = SATURATED
            self.nir.append(b)
        self.tiles = [Tile(a, CT) for a in self.red]
        rows = [(i, self.tiles[i].to_row(), Tile(self.nir[i], CT).to_row())
                for i in range(n)]
        cpus = spark.sparkContext.defaultParallelism
        self.df = spark.createDataFrame(
            rows, schema=f"id int, red {TILE_T}, nir {TILE_T}").repartition(cpus).cache()
        self.df.count()
        self.work = {"tiles": n, "bands": 2, "mcells": 2 * n * t * t / 1e6,
                     "input_mb": 2 * n * t * t * 2 / 1e6}
        self._oracle()

    def _oracle(self):
        red = np.stack(self.red).astype(np.int64)
        nir = np.stack(self.nir).astype(np.int64)
        d = red != 0
        vals = red[d]
        self.want_stats = {
            "data_cells": int(d.sum()), "no_data_cells": int((~d).sum()),
            "min": float(vals.min()), "max": float(vals.max()),
            "mean": float(vals.sum()) / vals.size, "variance": float(vals.var())}
        both = d & (nir != 0)
        nd = (nir[both] - red[both]) / (nir[both] + red[both])
        self.want_ndvi = float(nd.mean())
        self.want_masked = int((d & (nir != SATURATED)).sum())
        focal = np.concatenate([np.nansum(_focal_mean_3x3(red[k:k + 32]), axis=(1, 2))
                                for k in range(0, len(red), 32)])
        self.want_focal = {i: float(v) for i, v in enumerate(focal)}

    def ops(self):
        rf, df = self.rf, self.df

        def local_stats(ctx):
            with ctx.span("local_stats"):
                q = df.agg(
                    rf.rf_agg_stats("red").alias("s"),
                    rf.rf_agg_mean(rf.rf_normalized_difference("nir", "red")).alias("ndvi"),
                    rf.rf_agg_data_cells(rf.rf_mask_by_value("red", "nir", SATURATED)).alias("n"))
            r = ctx.collect(q)[0]
            return r["s"].asDict(), r["ndvi"], r["n"]

        def check_local_stats(got):
            s, ndvi, n = got
            exact = {k: s[k] for k in ("data_cells", "no_data_cells", "min", "max")}
            err = first_mismatch(exact, {k: self.want_stats[k] for k in exact})
            if err:
                return err
            for k, rel in (("mean", 1e-12), ("variance", 1e-9)):
                if not rel_close(s[k], self.want_stats[k], rel):
                    return f"{k}: got {s[k]!r} want {self.want_stats[k]!r}"
            if not rel_close(ndvi, self.want_ndvi, 1e-12):
                return f"mean ndvi {ndvi!r} want {self.want_ndvi!r}"
            if n != self.want_masked:
                return f"masked data cells {n} want {self.want_masked}"
            return None

        def focal(ctx):
            with ctx.span("rf_focal_mean"):
                q = df.select("id", rf.rf_tile_sum(
                    rf.rf_focal_mean("red", "square-1")).alias("s"))
            return {r["id"]: r["s"] for r in ctx.collect(q)}

        return [
            Op("local_stats", "functions", local_stats, check_local_stats),
            Op("focal", "functions", focal,
               lambda got: first_mismatch(got, self.want_focal, rel=1e-12)),
        ]

    def probes(self, ctx):
        import pandas as pd

        from rasterframes_spark.tile import decode_struct_pdf

        nbytes = sum(a.nbytes for a in self.red)
        pdf = pd.DataFrame([t.to_row() for t in self.tiles])
        with ctx.trace.span("tile.codec", "tile"):
            enc = time_mb_per_s(lambda: [t.to_row() for t in self.tiles], nbytes)
            dec = time_mb_per_s(lambda: decode_struct_pdf(pdf), nbytes)
        return {"tile.encode_mb_per_s": enc, "tile.decode_mb_per_s": dec}
