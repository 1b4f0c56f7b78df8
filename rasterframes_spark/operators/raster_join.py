"""raster_join — the reference's flagship composite spatial operator
(SURVEY.md §2.3, §3.3; ``core/.../extensions/RasterJoin.scala:57-133``).

Semantics (pinned by ``core/src/test/.../RasterJoinSpec.scala:40-120``):
left-outer spatial join on extent intersection (right extents reprojected
to the left CRS), then per-left-row merge of all matched right tiles into
the left tile's grid — NoData where no right coverage; left row count
preserved.

Scale-first divergence from the reference: the reference's join is a
BroadcastNestedLoopJoin on the ``st_intersects`` theta predicate (§4
"improvement opportunity"). Here both sides explode their extents to
fixed-grid cover cells (in EPSG:4326) and equi-join on the cell id — a
plain shuffle hash join that partitions by spatial locality — followed by
the exact bbox-intersect post-filter. At 1000 executors this scales as
O(cells) with no broadcast of either side; AQE handles skewed cells.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from rasterframes_spark.tile import CellType, Tile, TILE_SCHEMA
from rasterframes_spark._plan import (
    NARROW_NODES, RELATION_LEAVES, _plan_size_bytes, optimized_plan,
    plan_leaves)
from rasterframes_spark.functions._kernel import lazy_pandas_udf
from rasterframes_spark.geom import proj as P
from rasterframes_spark.geom.functions import rf_spatial_grid_cells

__all__ = ["raster_join", "spatial_join"]


@lazy_pandas_udf("struct<xmin:double,ymin:double,xmax:double,ymax:double>")
def _extent_to_4326_udf(e: pd.DataFrame, crs: pd.Series) -> pd.DataFrame:
    rows = []
    xm, ym, xM, yM = (e[c].values for c in ("xmin", "ymin", "xmax", "ymax"))
    for i in range(len(e)):
        if xm[i] is None or crs.values[i] is None:
            rows.append((None,) * 4)
        else:
            rows.append(P.transform_extent(
                (float(xm[i]), float(ym[i]), float(xM[i]), float(yM[i])),
                str(crs.values[i]), "EPSG:4326"))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def _merge_kernel(resampling: str):
    @lazy_pandas_udf(TILE_SCHEMA)
    def udf(ltile: pd.DataFrame, lext: pd.DataFrame, lcrs: pd.Series,
            rtiles: pd.Series) -> pd.DataFrame:
        from rasterframes_spark.tile import decode_struct_pdf, tiles_to_struct_pdf

        left_tiles = decode_struct_pdf(ltile)
        out = []
        for i in range(len(ltile)):
            lt = left_tiles[i]
            matches = rtiles.values[i]
            if lt is None:
                out.append(None)
                continue
            rows_, cols_ = lt.rows, lt.cols
            le = lext.iloc[i]
            lxmin, lymin, lxmax, lymax = (float(le["xmin"]), float(le["ymin"]),
                                          float(le["xmax"]), float(le["ymax"]))
            lcrs_s = str(lcrs.values[i])
            # dest pixel centers in left CRS (north-up grid)
            pw = (lxmax - lxmin) / cols_
            ph = (lymax - lymin) / rows_
            cx = lxmin + (np.arange(cols_) + 0.5) * pw
            cy = lymax - (np.arange(rows_) + 0.5) * ph
            gx, gy = np.meshgrid(cx, cy)

            dest = None
            dest_mask = np.ones((rows_, cols_), dtype=bool)
            dest_ct = None
            if matches is not None:
                for m in matches:
                    rt = m["tile"]
                    if rt is None or rt["cells"] is None:
                        continue
                    tile = Tile.from_parts(rt["cell_type"], rt["cols"], rt["rows"],
                                           bytes(rt["cells"]))
                    re_ = m["extent"]
                    rcrs = str(m["crs"])
                    rxmin, rymin, rxmax, rymax = (float(re_["xmin"]), float(re_["ymin"]),
                                                  float(re_["xmax"]), float(re_["ymax"]))
                    tx, ty = P.transform_points(gx.ravel(), gy.ravel(), lcrs_s, rcrs)
                    rpw = (rxmax - rxmin) / tile.cols
                    rph = (rymax - rymin) / tile.rows
                    fc = (tx - rxmin) / rpw
                    fr = (rymax - ty) / rph
                    if resampling in ("bilinear",):
                        sample, smask = _bilinear(tile, fc, fr)
                    else:
                        ci = np.floor(fc).astype("int64")
                        ri = np.floor(fr).astype("int64")
                        valid = (ci >= 0) & (ci < tile.cols) & (ri >= 0) & (ri < tile.rows)
                        sample = np.zeros(ci.shape, dtype="float64")
                        smask = ~valid
                        if valid.any():
                            vals = tile.masked().astype("float64")
                            sv = vals[ri[valid], ci[valid]]
                            sample[valid] = np.asarray(sv.filled(0))
                            smask[valid] |= np.ma.getmaskarray(sv)
                    sample = sample.reshape(rows_, cols_)
                    smask = smask.reshape(rows_, cols_)
                    if dest is None:
                        dest = np.zeros((rows_, cols_), dtype="float64")
                        dest_ct = tile.cell_type
                    # merge: first non-NoData wins (GeoTrellis merge semantics)
                    fill = dest_mask & ~smask
                    dest[fill] = sample[fill]
                    dest_mask &= ~fill
            if dest is None:
                dest = np.zeros((rows_, cols_), dtype="float64")
                dest_ct = lt.cell_type
            ct = dest_ct if dest_ct.has_nodata else CellType.from_numpy(dest_ct.dtype, "default")
            out.append(Tile(np.ma.masked_array(dest.astype(ct.dtype), mask=dest_mask), ct))
        return tiles_to_struct_pdf(out)

    return udf


def _bilinear(tile: Tile, fc: np.ndarray, fr: np.ndarray):
    """Bilinear sample at fractional pixel coords (pixel-center convention)."""
    vals = tile.masked().astype("float64")
    filled = vals.filled(np.nan)
    x = fc - 0.5
    y = fr - 0.5
    x0 = np.clip(np.floor(x).astype("int64"), 0, tile.cols - 1)
    y0 = np.clip(np.floor(y).astype("int64"), 0, tile.rows - 1)
    x1 = np.clip(x0 + 1, 0, tile.cols - 1)
    y1 = np.clip(y0 + 1, 0, tile.rows - 1)
    wx = np.clip(x - x0, 0, 1)
    wy = np.clip(y - y0, 0, 1)
    v00 = filled[y0, x0]
    v01 = filled[y0, x1]
    v10 = filled[y1, x0]
    v11 = filled[y1, x1]
    sample = (v00 * (1 - wx) * (1 - wy) + v01 * wx * (1 - wy)
              + v10 * (1 - wx) * wy + v11 * wx * wy)
    inside = (fc >= 0) & (fc <= tile.cols) & (fr >= 0) & (fr <= tile.rows)
    smask = ~inside | np.isnan(sample)
    return np.where(smask, 0.0, sample), smask


_PAYLOAD_DDL = ("struct<tile:struct<cell_type:string,cols:int,rows:int,cells:binary>,"
                "extent:struct<xmin:double,ymin:double,xmax:double,ymax:double>,"
                "crs:string>")


_MERGE_TARGET_BYTES = 16 * 1024 * 1024  # per merge-shuffle partition
_MERGE_MAX_PARTITIONS = 4096
# Safety multiplier on Catalyst's free sizeInBytes estimate when it is
# used to SKIP the eager volume jobs: covers the estimate reading
# compressed bytes (parquet zstd on natural rasters ~1-4x) where the
# vol() jobs price uncompressed cell volume.  Inputs compressed harder
# than this (constant/smooth synthetic tiles) can slip past the gate —
# the consequence is the pre-r14 plan (session-default merge
# partitions, graceful sort-spill), not wrongness; force sizing with an
# int merge_partitions when that matters.
_PLAN_STAT_INFLATION = 4.0


def _stat_trustworthy(df) -> bool:
    """True when Catalyst's sizeInBytes for this plan prices the bytes
    that actually flow: materialized caches (exact), file scans (file
    bytes) and local data, under narrow projections only.
    Python-eval, Generate, Join, Aggregate or Range nodes can
    put the real payload orders of magnitude past the estimate (binary
    columns price at schema-default width through them — a UDF-decoded
    tile frame reads as KBs), so their presence disqualifies the
    free skip and the precise metadata estimate runs instead.  An
    InMemoryRelation counts only once materialized — before that its
    stats are the (possibly opaque) child's."""
    try:
        # LogicalRDD is deliberately NOT a trusted leaf: a
        # localCheckpoint inherits its ORIGIN plan's stats, so a
        # checkpointed UDF-generated tile frame reads ~1000x under its
        # real payload (measured: 1.6 KB stat for a 1.6 MB mapInPandas
        # payload), and createDataFrame frames read Long.MaxValue.
        leaves = plan_leaves(optimized_plan(df), NARROW_NODES,
                             RELATION_LEAVES)
        return leaves is not None and all(
            n.cacheBuilder().isCachedColumnBuffersLoaded()
            for n in leaves if n.nodeName() == "InMemoryRelation")
    except Exception:  # noqa: BLE001 — unknown shape = untrusted
        return False


def _merge_shuffle_partitions(L, R, right_tiles,
                              left_tile) -> int | None:
    """Size the merge-stage shuffles from estimated TILE VOLUME instead
    of inheriting the session default (r13 100x rehearsal: an 8 GB
    payload shuffle over 32 session partitions spilled 13 GB of disk in
    the premerge sort — graceful, but partition count must scale with
    data, VERDICT r13 #2).

    One metadata-only aggregate per side prices rows x cols x rows x
    dtype-width (width parsed from the cell_type's bit count; widthless
    names price at the 8-byte upper bound).  Each payload byte crosses
    ~2 merge shuffles (payload join + premerge, partials + final join),
    so the estimate is 2x(L + R) over a 16 MiB/partition target — small
    relative to Spark's usual 100-200 MB because the pandas merge
    kernel inflates Arrow payloads ~2-4x in worker memory and the
    premerge window-sort buffers whole groups (the 32 MiB form still
    memory-spilled ~5 GB against local[32]'s 8g execution pool).  Returns
    None (leave every plan untouched — the common small-join case) when
    the sized count does not exceed the session default; capped at 4096
    (beyond that, raise the session default — the cap is an AQE-era
    sanity bound, not a tuning point)."""
    spark = L.sparkSession
    try:
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        default = 200

    # Free short-circuit (r15, VERDICT r14 #1): the eager metadata
    # aggregates priced EVERY "auto" call — two plan-time Spark jobs
    # even for trivially small joins where the sized count then changed
    # nothing.  When both plans' Catalyst size stats price the real
    # payload (_stat_trustworthy) and even an inflated reading cannot
    # push the sized count past the session default (n > default ⟺
    # est > default x target), return None without launching anything.
    # Untrusted shapes and unknown/huge stats fall through to the
    # precise estimate — the conservative direction.
    if _stat_trustworthy(L) and _stat_trustworthy(R):
        szL, szR = _plan_size_bytes(L), _plan_size_bytes(R)
        if szL is not None and szR is not None:
            bound = _PLAN_STAT_INFLATION * 2.0 * (szL + szR)
            if bound <= float(default) * _MERGE_TARGET_BYTES:
                return None

    def vol(df, tile_cols):
        try:
            per_row = None
            for tc in tile_cols:
                width_bytes = F.coalesce(
                    F.nullif(F.regexp_extract(
                        F.col(f"{tc}.cell_type"), r"(\d+)", 1),
                        F.lit("")).cast("long"),
                    F.lit(64)) / F.lit(8)
                b = (F.col(f"{tc}.cols").cast("long")
                     * F.col(f"{tc}.rows").cast("long") * width_bytes)
                per_row = b if per_row is None else per_row + b
            return float(df.agg(F.sum(per_row)).head()[0] or 0.0)
        except Exception:  # noqa: BLE001 — lazy-ref/odd schemas: no scaling
            return 0.0

    est = 2.0 * (vol(L, [left_tile]) + vol(R, right_tiles))
    n = int(est // _MERGE_TARGET_BYTES) + 1
    if n <= default:
        return None
    return min(n, _MERGE_MAX_PARTITIONS)


def _chunked_premerge(L, matched, kernel, right_tiles, left_tile, left_extent,
                      left_crs, max_fan_in: int, n_merge: int | None = None):
    """Two-level bounded merge: (lid, chunk) partial canvases on the left
    grid (each grouped task holds ≤ max_fan_in right tiles), then chunk-
    ordered partial list per lid. Output schema matches the single-pass
    grouped aggregate (__lid, __rl_<band> array<payload>)."""
    from pyspark.sql import Window

    lmeta = L.select(
        "__lid", "__lid2",
        F.col(left_extent).alias("__lext"), F.col(left_crs).alias("__lcrs"),
        F.col(f"{left_tile}.cell_type").alias("__lct"),
        F.col(f"{left_tile}.cols").alias("__lcols"),
        F.col(f"{left_tile}.rows").alias("__lrows"),
    ).dropDuplicates(["__lid", "__lid2"])
    w = Window.partitionBy("__lid", "__lid2").orderBy("__rid", "__rid2",
                                                      "__rid3")
    chunked = (
        matched.withColumn(
            "__chunk", F.floor((F.row_number().over(w) - 1) / max_fan_in))
        .join(lmeta, ["__lid", "__lid2"])
    )
    mid_schema = "__lid long, __lid2 long, __chunk long, " + ", ".join(
        f"__rp_{rt} {_PAYLOAD_DDL}" for rt in right_tiles)
    kfn = kernel.fn

    def premerge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from rasterframes_spark.tile import tiles_to_struct_pdf

        pdf = pdf.sort_values(["__rid", "__rid2", "__rid3"])
        r0 = pdf.iloc[0]
        lext_d = dict(r0["__lext"])
        ct = CellType.parse(str(r0["__lct"]))
        canvas = Tile(
            np.ma.masked_array(
                np.zeros((int(r0["__lrows"]), int(r0["__lcols"])), dtype=ct.dtype),
                mask=True),
            ct)
        ltile_pdf = tiles_to_struct_pdf([canvas])
        lext_pdf = pd.DataFrame([{k: float(lext_d[k])
                                  for k in ("xmin", "ymin", "xmax", "ymax")}])
        lcrs_series = pd.Series([str(r0["__lcrs"])])
        out = {"__lid": [key[0]], "__lid2": [key[1]], "__chunk": [int(key[2])]}
        for rt in right_tiles:
            matches = pd.Series([list(pdf[f"__rp_{rt}"])], dtype=object)
            res = kfn(ltile_pdf, lext_pdf, lcrs_series, matches)
            out[f"__rp_{rt}"] = [{
                "tile": {c: res[c].iloc[0] for c in
                         ("cell_type", "cols", "rows", "cells")},
                "extent": lext_d,
                "crs": str(r0["__lcrs"]),
            }]
        return pd.DataFrame(out)

    partials = chunked.groupBy("__lid", "__lid2", "__chunk").applyInPandas(
        premerge, schema=mid_schema)
    if n_merge:
        # partial canvases re-shuffle for the chunk-order agg; sized
        # hash partitioning on (lid,lid2) satisfies the agg's clustering
        # so this REPLACES (not adds to) its exchange
        partials = partials.repartition(n_merge, "__lid", "__lid2")
    return partials.groupBy("__lid", "__lid2").agg(
        *[F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col("__chunk").alias("c"),
                         F.col(f"__rp_{rt}").alias("p")))),
            lambda s: s["p"]).alias(f"__rl_{rt}")
          for rt in right_tiles]
    )


def raster_join(
    left: DataFrame,
    right: DataFrame,
    left_tile: str = "tile",
    right_tiles: list[str] | None = None,
    left_extent: str = "extent",
    left_crs: str = "crs",
    right_extent: str = "extent",
    right_crs: str = "crs",
    resampling: str = "nearest",
    cell_size_deg: float | None = None,
    max_fan_in: int | None = 256,
    cache_inputs: bool = True,
    merge_partitions: int | str | None = "auto",
) -> DataFrame:
    """Left-outer spatial join + reproject-merge (RasterJoin.scala:68-133).

    Returns left's columns plus, for each right tile column, a tile merged
    onto the left grid (same column name; NoData where no coverage).

    ``max_fan_in`` (default 256) bounds how many matched right tiles one
    task ever buffers — without it a deep temporal stack (thousands of
    scenes over one left tile) OOMs the merge task. Bounded mode is a
    chunked two-level merge: right tiles pre-merge onto the left grid in
    rid-ordered chunks of ≤N per grouped task, then the (few) partial
    canvases merge in chunk order. Value-identical to the single-pass
    aggregate (first-non-NoData-wins in the same rid order; the final pass
    resamples identity-grid partials exactly), measured +10% on small
    footprint joins — the price of the hard memory bound.
    ``max_fan_in=None`` opts into the single-pass aggregate (fastest when
    fan-in is known small). ``cache_inputs=False`` skips the persists
    when the caller manages caching or inputs are already materialized
    tables.

    ``merge_partitions`` sizes the merge-stage shuffles: ``"auto"``
    (default) first bounds the payload with Catalyst's free sizeInBytes
    estimate — joins that provably cannot exceed the session default's
    budget plan with ZERO eager work (r15; the common small-join case)
    — and only past that bound estimates tile volume with one
    metadata-only aggregate per side AT PLAN TIME (two small eager
    jobs; with ``cache_inputs=True`` they just move cache
    materialization earlier, with ``cache_inputs=False`` they recompute
    upstream lineage once — see :func:`_merge_shuffle_partitions`); an
    ``int`` pins the count
    with no estimate job; ``None`` disables sizing entirely — combined
    with ``cache_inputs=False`` the operator builds its plan with ZERO
    eager work, the pre-r14 contract.  Joins whose payload exceeds the
    session default's ~16 MiB/partition budget get sized explicit hash
    partitioning on the join keys and the left id instead of inheriting
    ``spark.sql.shuffle.partitions`` — at 100x the sf1 leg that bound
    cut the premerge sort's 13 GB disk spill to zero; small joins keep
    their exact unsized plans.

    Cache lifetime: the persisted stamped inputs stay alive as long as the
    returned DataFrame may be recomputed (Spark evicts them LRU / spills
    under memory pressure, and deterministic ids make eviction-triggered
    recompute value-identical, so the leak is bounded — but repeated
    raster_join calls in one long session accumulate). Release explicitly
    with ``release_raster_join_cache(result)`` once the result is
    materialized (written / collected / re-cached), or pass
    ``cache_inputs=False``.
    """
    right_tiles = right_tiles or ["tile"]

    # DETERMINISTIC row ids (128-bit content hashes), not
    # monotonically_increasing_id: both sides branch into (bucket-join,
    # payload/final-join) sub-plans that re-evaluate the id expression —
    # with mono ids, AQE re-planning or task retries can partition the two
    # evaluations differently and hand the SAME row DIFFERENT ids,
    # silently mis-joining payloads (observed as a nondeterministic
    # value-hash failure at sf0.1). Content hashes are evaluation-order
    # independent; duplicate rows sharing an id are harmless here (the
    # merge paints identical pixels; the final left join re-expands
    # duplicate left rows with their shared — correct — merge result).
    # Hash only the join-relevant METADATA (extent, crs, tile shape):
    # the match set of a row is fully determined by its extent, and the
    # merge canvas by its tile dims/cell type — so rows agreeing on all
    # of these are interchangeable for every id-keyed step (shared-id
    # rows produce identical groupings and the payload join fans each
    # pair back out to every payload). Hashing cell DATA would force the
    # bbox metadata pass to deserialize every tile (measured 5x slower at
    # sf0.1, and it would defeat Parquet column pruning at scale).
    def _ids(df, extent_c, crs_c, tile_c, a, b):
        key = F.struct(
            F.col(extent_c), F.col(crs_c),
            F.col(f"{tile_c}.cols"), F.col(f"{tile_c}.rows"),
            F.col(f"{tile_c}.cell_type"))
        return (df.withColumn(a, F.xxhash64(key))
                .withColumn(b, F.xxhash64(F.lit(7), key)))

    L = _ids(left, left_extent, left_crs, left_tile, "__lid", "__lid2")
    R = _ids(right, right_extent, right_crs, right_tiles[0],
             "__rid", "__rid2")
    if cache_inputs:
        # Both sides fan into two sub-plans each (bbox metadata pass +
        # payload/final join). Caching the stamped frames evaluates the
        # upstream lineage ONCE instead of per branch (measured 6x on a
        # derived-tiles input at sf0.1). Pure perf: with deterministic
        # ids, eviction-triggered recompute is value-identical.
        L = L.persist()
        R = R.persist()

    # .once: the overlap condition's inferred isnotnull constraints
    # otherwise push below these projections and duplicate the
    # reprojection eval per side
    l4326 = L.select(
        "__lid", "__lid2",
        _extent_to_4326_udf.once(F.col(left_extent), F.col(left_crs)).alias("__e4326"),
    )
    r4326 = R.select(
        "__rid", "__rid2",
        _extent_to_4326_udf.once(F.col(right_extent), F.col(right_crs)).alias("__e4326"),
    )

    if cell_size_deg is None:
        # one metadata-scale pass: grid cell ≈ the 90th-pct left extent width,
        # so most extents explode to ≤ 4 cells
        stats = l4326.agg(
            F.percentile_approx(
                F.col("__e4326.xmax") - F.col("__e4326.xmin"), 0.9
            ).alias("w")
        ).head()
        cell_size_deg = max(float(stats["w"] or 1.0), 1e-9) * 2

    lcells = l4326.select(
        "__lid", "__lid2", "__e4326",
        F.explode(rf_spatial_grid_cells("__e4326", cell_size_deg)).alias("__cell"),
    )
    rcells = r4326.select(
        "__rid", "__rid2", F.col("__e4326").alias("__re4326"),
        F.explode(rf_spatial_grid_cells("__e4326", cell_size_deg)).alias("__cell"),
    )

    pairs = (
        lcells.join(rcells, "__cell")
        .where(
            (F.col("__e4326.xmin") <= F.col("__re4326.xmax"))
            & (F.col("__re4326.xmin") <= F.col("__e4326.xmax"))
            & (F.col("__e4326.ymin") <= F.col("__re4326.ymax"))
            & (F.col("__re4326.ymin") <= F.col("__e4326.ymax"))
        )
        .select("__lid", "__lid2", "__rid", "__rid2")
        .dropDuplicates(["__lid", "__lid2", "__rid", "__rid2"])
    )

    r_payload = R.select(
        "__rid", "__rid2",
        *[
            F.struct(
                F.col(rt).alias("tile"),
                F.col(right_extent).alias("extent"),
                F.col(right_crs).alias("crs"),
            ).alias(f"__rp_{rt}")
            for rt in right_tiles
        ],
    )
    # third sort key: full-payload hash, computed ONLY on the payload
    # branch (post-join, where cells are read anyway) — it breaks merge-
    # order ties among right rows that share extent/shape metadata (deep
    # stacks) identically in both the single-pass and chunked paths,
    # without the metadata pass ever touching cell data
    r_payload = r_payload.withColumn(
        "__rid3", F.xxhash64(*[F.col(f"__rp_{rt}") for rt in right_tiles]))
    # volume-scaled merge shuffles (None = session default, plan as-is)
    if merge_partitions == "auto":
        n_merge = _merge_shuffle_partitions(L, R, right_tiles, left_tile)
    elif merge_partitions is None:
        n_merge = None
    else:
        n_merge = max(1, int(merge_partitions))
    if n_merge:
        # The payload join is where the r13 100x spill actually lived
        # (per-stage attribution, PLANS.md r14): AQE coalesces the
        # join's reduce partitions from the KB-scale pairs side, so the
        # GB-scale payload sort-merge collapsed into ONE task that
        # sort-spilled ~6 GB.  Sized explicit repartitioning of BOTH
        # join inputs pins the parallelism (user repartitions are
        # exempt from AQE coalescing), and the shuffle_hash hint builds
        # on the small pairs side so the payload side is never sorted
        # at all — sort spill cannot occur by construction.
        pairs = pairs.repartition(n_merge, "__rid", "__rid2")
        r_payload = r_payload.repartition(n_merge, "__rid", "__rid2")
        matched = pairs.hint("shuffle_hash").join(
            r_payload, ["__rid", "__rid2"])
        # sized hash partitioning on the left id satisfies the window /
        # premerge / final-agg clustering downstream, so this REPLACES
        # the exchange those stages would insert anyway
        matched = matched.repartition(n_merge, "__lid", "__lid2")
    else:
        matched = pairs.join(r_payload, ["__rid", "__rid2"])
    kernel = _merge_kernel(resampling)

    def _single_pass(m):
        # rid-ordered merge list: collect_list order is arrival order
        # (nondeterministic under retries/partitioning); sorting by __rid
        # makes first-non-NoData-wins deterministic and identical to the
        # chunked max_fan_in path
        return m.groupBy("__lid", "__lid2").agg(
            *[F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("__rid").alias("r"),
                             F.col("__rid2").alias("r2"),
                             F.col("__rid3").alias("r3"),
                             F.col(f"__rp_{rt}").alias("p")))),
                lambda s: s["p"]).alias(f"__rl_{rt}")
              for rt in right_tiles]
        )

    if max_fan_in is None:
        grouped = _single_pass(matched)
    else:
        # Every row takes the chunked pre-merge. Measured on a 64-row
        # footprint join (fan-in 2, min-of-3, local[8]): single-pass
        # 3.32 s, chunked-for-all 3.66 s (+10%) — a hybrid that filtered
        # small fan-ins to the single-pass aggregate cost 5.74 s (+73%)
        # because the branch duplicates the whole spatial-prejoin subtree
        # and exchange reuse never fires (monotonically_increasing_id is
        # nondeterministic, so the branches never canonicalize equal).
        # 10% on small joins buys a hard per-task memory bound.
        grouped = _chunked_premerge(
            L, matched, kernel, right_tiles, left_tile, left_extent,
            left_crs, int(max_fan_in), n_merge=n_merge)

    joined = L.join(grouped, ["__lid", "__lid2"], "left")
    out_cols = [c for c in left.columns]
    merged = joined.select(
        *out_cols,
        *[
            kernel(
                F.col(left_tile), F.col(left_extent), F.col(left_crs), F.col(f"__rl_{rt}")
            ).alias(rt if rt not in out_cols else f"{rt}_right")
            for rt in right_tiles
        ],
    )
    if cache_inputs:
        # handles for release_raster_join_cache — a plain attribute on the
        # result (no global registry to leak through)
        merged._rf_cached_inputs = (L, R)
    return merged


def release_raster_join_cache(result: DataFrame) -> bool:
    """Unpersist the input frames an operator persisted for ``result``
    (any result carrying a ``_rf_cached_inputs`` handle: raster_join with
    ``cache_inputs=True``, minhash_dedup_pairs / simhash_near_pairs
    signature caches).  Call after the result has been materialized
    (written, collected, or cached itself); recomputing afterwards is
    still correct, just slower.  Also exported as
    ``rasterframes_spark.release_cache``.  Returns True if there was a
    cache to release."""
    cached = getattr(result, "_rf_cached_inputs", None)
    if not cached:
        return False
    for df in cached:
        df.unpersist()
    result._rf_cached_inputs = None
    return True


def spatial_join(left: DataFrame, right: DataFrame,
                 on: list[str] = ("spatial_key",), how: str = "inner") -> DataFrame:
    """Layer × layer equi-join on spatial (+temporal) key — plain Spark
    hash/sort-merge join (RasterFrameLayerMethods.scala:138-191)."""
    return left.join(right, list(on), how)
