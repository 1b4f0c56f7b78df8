"""The ingest part of the raster workload: GeoTIFF scenes in, GeoTIFF
tiles out.

Set-up writes seeded DEFLATE GeoTIFF scenes with NoData. The one op
reads them with ``read_raster``, realizes the tiles, computes
``rf_local_add`` and writes the result with ``write_tiles``; its check
reads every written file back bit for bit. Nothing is Spark-cached:
every pass reads the scenes again, and a read gain that costs the write
path shows in the same op.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from perfbench.workloads import Op, Workload, rng_for, time_mb_per_s, uint16_band

# (scenes, scene side, chunk side)
SIZES = {"full": (4, 512, 256), "smoke": (2, 64, 32)}
CRS = "EPSG:32617"
RES = 30.0        # metres per pixel
X0, Y0 = 500000.0, 4000000.0   # scene k's west edge is X0 + k * side * RES
ADD = 7           # constant the local op adds


class IngestWrite(Workload):
    def __init__(self, spark, seed, size, tmp):
        import rasterframes_spark as rf
        from rasterframes_spark.sources import geotiff as GT

        self.rf, self.spark, self.GT = rf, spark, GT
        ns, side, self.chunk = SIZES[size]
        rng = rng_for(seed, 3)
        self.dir = os.path.join(tmp, "scenes")
        self.out_dir = os.path.join(tmp, "written")
        os.makedirs(self.dir)
        self.scenes, self.paths = [], []
        nbytes = 0
        for k in range(ns):
            a = uint16_band(rng, (side, side), 0.05)
            x0 = X0 + k * side * RES
            data = GT.write_geotiff(a, (x0, Y0, x0 + side * RES, Y0 + side * RES),
                                    crs=CRS, nodata=0)
            p = os.path.join(self.dir, f"scene-{k}.tif")
            with open(p, "wb") as f:
                f.write(data)
            nbytes += len(data)
            self.scenes.append(a)
            self.paths.append(p)
        self.ymax = Y0 + side * RES
        self.side = side
        self.chunks = {(k, c0, r0) for k in range(ns)
                       for r0 in range(0, side, self.chunk) for c0 in range(0, side, self.chunk)}
        self.work = {"scenes": ns, "scene_tiles": len(self.chunks),
                     "mcells": ns * side * side / 1e6, "input_mb": nbytes / 1e6}
        self._files = 0

    def _key(self, xmin, ymax):
        """(scene, col_off, row_off) of the chunk with this NW corner."""
        k = int((xmin - X0) // (self.side * RES))
        return (k, int(round((xmin - X0) / RES)) - k * self.side,
                int(round((self.ymax - ymax) / RES)))

    def _tiles(self):
        """The read -> realize -> rf_local_add pipeline (nothing cached)."""
        from pyspark.sql import functions as F

        rf = self.rf
        df = rf.sources.read_raster(self.spark, self.paths,
                                    tile_dimensions=(self.chunk, self.chunk))
        return df.select("path", "extent", "crs", rf.rf_local_add(
            rf.sources.realize_tiles(F.col("tile_ref")), ADD).alias("tile"))

    def ops(self):
        def ingest(ctx):
            shutil.rmtree(self.out_dir, ignore_errors=True)
            with ctx.span("read_raster.write_tiles"):
                return self.rf.sources.write_tiles(self._tiles(), self.out_dir)

        return [Op("ingest", "sources", ingest, self._check_written)]

    def _check_written(self, catalog: str) -> str | None:
        """Every written file decodes to the expected chunk plus ADD, bit
        for bit, and NoData stays NoData."""
        import csv

        with open(catalog) as f:
            rows = list(csv.DictReader(f))
        seen = set()
        for r in rows:
            key = self._key(float(r["xmin"]), float(r["ymax"]))
            with open(r["path"], "rb") as f:
                arr, info = self.GT.read_full(f.read())
            k, c0, r0 = key
            src = self.scenes[k][r0:r0 + self.chunk, c0:c0 + self.chunk]
            d = src != 0
            # NoData reads back as the file's NoData value, or as NaN when
            # the written tile was a float tile with NaN NoData
            nd = arr[~d]
            nd_ok = np.all(np.isnan(nd)) if info.nodata is None else np.all(nd == info.nodata)
            if (arr.shape != src.shape or not nd_ok
                    or not np.array_equal(arr[d], src[d].astype(np.int64) + ADD)):
                return f"file {os.path.basename(r['path'])} differs from chunk {key}"
            seen.add(key)
        if seen != self.chunks:
            return f"{len(seen)} chunks written, want {len(self.chunks)}"
        self._files = len(rows)
        shutil.rmtree(self.out_dir, ignore_errors=True)
        return None

    def stats(self):
        return {"sources.files_written": float(self._files)}

    def probes(self, ctx):
        GT = self.GT
        with open(self.paths[0], "rb") as f:
            data = f.read()
        a = self.scenes[0]
        info = GT.read_info(data)
        ext = (X0, Y0, X0 + self.side * RES, self.ymax)
        with ctx.trace.span("sources.codec", "sources"):
            dec = time_mb_per_s(lambda: GT.read_window(data, info, 0, 0, self.side, self.side),
                                a.nbytes)
            enc = time_mb_per_s(lambda: GT.write_geotiff(a, ext, crs=CRS, nodata=0), a.nbytes)
        return {"sources.decode_mb_per_s": dec, "sources.encode_mb_per_s": enc}
