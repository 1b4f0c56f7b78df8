"""The spatial-join part of the raster workload.

- ``raster_join`` of a lon/lat layer (EPSG:4326) with a layer stored in
  Web Mercator (EPSG:3857) whose tile grid is shifted half a tile east, so
  extent reprojection runs and every left tile merges two or more right
  tiles.
- ``zonal_stats`` over rectangle zones whose edges lie on pixel edges.

Operators, geometry and the shuffle do the work; the kernels stay light
(``rf_tile_sum``).
"""

from __future__ import annotations

import math

import numpy as np

from perfbench.workloads import (
    EXTENT_T, TILE_T, Op, Workload, first_mismatch, median_seconds, rng_for,
    uint16_band)

# (left tiles across, down, tile side, zones)
SIZES = {"full": (4, 2, 256, 12), "smoke": (2, 2, 16, 4)}
CT = "uint16ud0"
LON0 = 10.0           # west edge of the left layer, degrees
R = 6378137.0         # spherical Mercator radius


def merc(lon, lat):
    """EPSG:4326 degrees -> EPSG:3857 metres (spherical Mercator)."""
    lon, lat = np.asarray(lon, np.float64), np.asarray(lat, np.float64)
    return (R * np.radians(lon),
            R * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2)))


def _wkt_polygon(xs, ys) -> str:
    pts = ", ".join(f"{x!r} {y!r}" for x, y in zip(list(xs) + [xs[0]], list(ys) + [ys[0]]))
    return f"POLYGON (({pts}))"


class SpatialJoin(Workload):
    def __init__(self, spark, seed, size, tmp):
        import rasterframes_spark as rf
        from rasterframes_spark.tile import Tile

        self.rf, self.spark, self.seed = rf, spark, seed
        gw, gh, t, nz = SIZES[size]
        self.gw, self.gh, self.t = gw, gh, t
        rng = rng_for(seed, 2)
        cpus = spark.sparkContext.defaultParallelism

        # left: gw x gh one-degree tiles, t x t pixels, north-up
        self.left = {}
        rows = []
        for j in range(gh):
            for i in range(gw):
                a = uint16_band(rng, (t, t), 0.05)
                ext = (LON0 + i, float(j), LON0 + i + 1, float(j + 1))
                self.left[(i, j)] = a
                rows.append((j * gw + i, Tile(a, CT).to_row(), ext, "EPSG:4326"))
        self.left_df = spark.createDataFrame(
            rows, f"id int, tile {TILE_T}, extent {EXTENT_T}, crs string"
        ).repartition(cpus).cache()

        # right: a Mercator tile grid, half a tile east of the left grid
        self.rw = R * math.radians(1.0)            # tile width, metres
        self.rx0 = R * math.radians(LON0 - 0.5)
        ytop = float(merc(0.0, gh)[1])
        self.rh = ytop / gh                        # tile height, metres
        self.rcols, self.rrows = gw + 1, gh
        self.right = {}
        rows = []
        for j in range(self.rrows):
            for i in range(self.rcols):
                a = uint16_band(rng, (t, t), 0.05)
                self.right[(i, j)] = a
                ext = (self.rx0 + i * self.rw, j * self.rh,
                       self.rx0 + (i + 1) * self.rw, (j + 1) * self.rh)
                rows.append((Tile(a, CT).to_row(), ext, "EPSG:3857"))
        self.right_df = spark.createDataFrame(
            rows, f"rtile {TILE_T}, extent {EXTENT_T}, crs string"
        ).repartition(cpus).cache()

        # zones: rectangles with pixel-aligned edges, 1-3 tiles wide
        W, H = gw * t, gh * t
        self.zones = []
        for z in range(nz):
            w, h = (int(v) for v in rng.integers(t // 2, 3 * t, 2))
            w, h = min(w, W), min(h, H)
            c0, r0 = int(rng.integers(0, W - w + 1)), int(rng.integers(0, H - h + 1))
            self.zones.append((z, c0, r0, w, h))
        self.zone_wkt = []
        for z, c0, r0, w, h in self.zones:
            x0, x1 = LON0 + c0 / t, LON0 + (c0 + w) / t
            y1, y0 = gh - r0 / t, gh - (r0 + h) / t   # row 0 is the north edge
            self.zone_wkt.append((z, _wkt_polygon([x0, x1, x1, x0], [y0, y0, y1, y1])))
        self.zones_df = spark.createDataFrame(self.zone_wkt, "zone_id int, wkt string").select(
            "zone_id", rf.st_geom_from_wkt("wkt").alias("geom")).cache()

        for df in (self.left_df, self.right_df, self.zones_df):
            df.count()

        cells = (len(self.left) + len(self.right)) * t * t
        self.work = {"left_tiles": len(self.left), "right_tiles": len(self.right),
                     "mcells": cells / 1e6, "zones": nz,
                     "input_mb": cells * 2 / 1e6}
        self._oracle()

    # -- oracles ------------------------------------------------------
    def _oracle(self):
        t = self.t
        # raster_join: each left pixel centre, projected to Mercator, takes
        # the right pixel containing it. Centres within 1e-7 pixel of a
        # right pixel edge could round either way; those tiles accept any
        # sum between the two choices.
        self.want_rj, self.rj_slack = {}, {}
        off = (np.arange(t) + 0.5) / t
        for (i, j), _ in self.left.items():
            lon = LON0 + i + off
            lat = (j + 1) - off
            gx, gy = np.meshgrid(*merc(lon, lat))
            fc = (gx - self.rx0) / self.rw * t       # global right pixel col
            fr = (self.rrows * self.rh - gy) / self.rh * t
            vals, alt = self._sample(fc, fr)
            edge = (np.abs(fc - np.round(fc)) < 1e-7) | (np.abs(fr - np.round(fr)) < 1e-7)
            s = int(vals.sum())
            self.want_rj[j * self.gw + i] = (s, int((vals != 0).sum()))
            if edge.any():
                d = alt[edge].astype(np.int64) - vals[edge].astype(np.int64)
                self.rj_slack[j * self.gw + i] = (int(d[d < 0].sum()), int(d[d > 0].sum()),
                                                  int(edge.sum()))
        # zonal: slice sums over the left mosaic (row 0 = north)
        mosaic = np.zeros((self.gh * t, self.gw * t), np.int64)
        for (i, j), a in self.left.items():
            r0 = (self.gh - 1 - j) * t
            mosaic[r0:r0 + t, i * t:(i + 1) * t] = a
        self.want_zonal = {}
        for z, c0, r0, w, h in self.zones:
            sl = mosaic[r0:r0 + h, c0:c0 + w]
            self.want_zonal[z] = (int(sl.sum()), int((sl != 0).sum()))

    def _sample(self, fc, fr):
        """Right-mosaic value at fractional global pixel coords, and the
        value across the nearest pixel edge (for the rounding slack)."""
        t = self.t
        if not hasattr(self, "_rmosaic"):
            m = np.zeros((self.rrows * t, self.rcols * t), np.int64)
            for (i, j), a in self.right.items():
                r0 = (self.rrows - 1 - j) * t
                m[r0:r0 + t, i * t:(i + 1) * t] = a
            self._rmosaic = m

        def at(c, r):
            ok = (c >= 0) & (c < self.rcols * t) & (r >= 0) & (r < self.rrows * t)
            out = np.zeros(c.shape, np.int64)
            out[ok] = self._rmosaic[r[ok], c[ok]]
            return out

        c, r = np.floor(fc).astype(np.int64), np.floor(fr).astype(np.int64)
        ca = np.where(fc - c < 0.5, c - 1, c + 1)
        ra = np.where(fr - r < 0.5, r - 1, r + 1)
        near_c = np.abs(fc - np.round(fc)) < np.abs(fr - np.round(fr))
        return at(c, r), at(np.where(near_c, ca, c), np.where(near_c, r, ra))

    def _check_rj(self, got):
        if set(got) != set(self.want_rj):
            return f"left tiles {len(got)} want {len(self.want_rj)}"
        for k, (s, n) in self.want_rj.items():
            gs, gn = got[k]
            lo, hi, e = self.rj_slack.get(k, (0, 0, 0))
            if not (s + lo <= gs <= s + hi and n - e <= gn <= n + e):
                return f"tile {k}: sum/cells {gs}/{gn} want {s}/{n}"
        return None

    # -- op mix ---------------------------------------------------------
    def ops(self):
        rf = self.rf

        def raster_join(ctx):
            with ctx.span("raster_join"):
                out = rf.raster_join(self.left_df, self.right_df, left_tile="tile",
                                     right_tiles=["rtile"], cell_size_deg=1.0)
                q = out.select("id", rf.rf_tile_sum("rtile").alias("s"),
                               rf.rf_data_cells("rtile").alias("n"))
            rows = ctx.collect(q)
            rf.release_raster_join_cache(out)
            return {r["id"]: (int(r["s"] or 0), int(r["n"])) for r in rows}

        def zonal(ctx):
            with ctx.span("zonal_stats"):
                q = rf.zonal_stats(self.left_df, self.zones_df, stats=("sum", "data_cells"))
            return {r["zone_id"]: (int(r["sum"] or 0), int(r["data_cells"]))
                    for r in ctx.collect(q)}

        return [
            Op("raster_join", "operators", raster_join, self._check_rj),
            Op("zonal_stats", "operators", zonal,
               lambda got: first_mismatch(got, self.want_zonal)),
        ]

    def probes(self, ctx):
        from pyspark.sql import functions as F

        from rasterframes_spark.geom import core as G
        from rasterframes_spark.geom import proj as P

        t = self.t
        # every left pixel centre
        lon, lat = np.meshgrid(LON0 + (np.arange(self.gw * t) + 0.5) / t,
                               (np.arange(self.gh * t) + 0.5) / t)

        with ctx.trace.span("geom.reproject", "geom"):
            reproject = median_seconds(lambda: P.transform_points(
                lon.ravel(), lat.ravel(), "EPSG:4326", "EPSG:3857"))
        # point-in-zone tests: every zone against 2000 seeded points
        polys = [G.wkt_loads(w) for _, w in self.zone_wkt]
        rng = rng_for(self.seed, 5)
        pts = [G.wkt_loads(f"POINT ({x!r} {y!r})")
               for x, y in zip(LON0 + rng.random(2000) * self.gw, rng.random(2000) * self.gh)]
        with ctx.trace.span("geom.intersects", "geom"):
            intersects = median_seconds(
                lambda: [G.intersects(p, g) for g in polys for p in pts], reps=1)

        ctx.op, ctx.layer = "shuffle_floor", "operators"
        q = self.left_df.repartition(self.spark.sparkContext.defaultParallelism * 2, "id")
        q = q.select(F.sum(F.length("tile.cells")))
        with ctx.trace.span("operators.shuffle_floor", "spark"):
            floor = median_seconds(q.collect)
        return {"geom.reproject_s": reproject, "geom.intersects_s": intersects,
                "operators.shuffle_floor_s": floor}
