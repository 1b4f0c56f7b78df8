"""raster: map algebra, raster and zonal joins, and GeoTIFF ingest in one
pass.

The three parts would each pay a Spark session start and a warm pass if
they ran as separate workloads; in one process they fit the benchmark's
time budget. Their ops keep their own names and layers, so the per-op and
per-layer figures still separate the kernels and tile functions
(``TileAlgebra``), the operators and geometry (``SpatialJoin``) and the
GeoTIFF sources (``IngestWrite``).
"""

from __future__ import annotations

from perfbench.workloads import Workload, floor_seconds
from perfbench.workloads.ingest_write import IngestWrite
from perfbench.workloads.spatial_join import SpatialJoin
from perfbench.workloads.tile_algebra import TileAlgebra

PARTS = (TileAlgebra, SpatialJoin, IngestWrite)


class Raster(Workload):
    name = "raster"

    def __init__(self, spark, seed, size, tmp):
        self.parts = [p(spark, seed, size, tmp) for p in PARTS]

    @property
    def work(self):
        out = {}
        for p in self.parts:
            for k, v in p.work.items():
                out[k] = out.get(k, 0) + v
        return out

    def ops(self):
        return [op for p in self.parts for op in p.ops()]

    def stats(self):
        return {k: v for p in self.parts for k, v in p.stats().items()}

    def probes(self, ctx):
        out = {k: v for p in self.parts for k, v in p.probes(ctx).items()}
        out["kernel.floor_s"] = floor_seconds(ctx, self.parts[0].df, "red.cells", "binary")
        return out
