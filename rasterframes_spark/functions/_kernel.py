"""Kernel framework: lift numpy functions over masked arrays into
Arrow-vectorized pandas UDFs over tile struct columns.

This is the engine's replacement for the reference's Catalyst-expression
zoo (``core/.../expressions/``): instead of per-row JVM ``eval`` with
CodegenFallback (see SURVEY.md §3.2), each kernel receives an Arrow batch,
decodes tile structs to ``numpy.ma`` arrays, applies a SIMD numpy ufunc,
and re-encodes. NoData == mask propagation comes free from ``numpy.ma``.

Scale notes: kernels are stateless and embarrassingly parallel — one
Python worker per core, Arrow batches of whole tiles. The per-row Python
loop is over *tiles* (~64K cells each), so interpreter overhead is
amortized ~1e4× per iteration.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf

from rasterframes_spark.tile import (
    CellType,
    Tile,
    TILE_SCHEMA,
    decode_struct_pdf,
    tiles_to_struct_pdf,
)

__all__ = [
    "col_or_name",
    "lazy_pandas_udf",
    "unary_tile_op",
    "binary_tile_op",
    "tile_to_scalar",
    "TileExpr",
]


def col_or_name(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def lazy_pandas_udf(return_type):
    """Defer pandas_udf creation until first call — DDL-string return types
    need an active SparkSession to parse, and this package must be importable
    without one (driver imports __spark_entry__ before building the session).

    ``.once`` on the returned callable is the same kernel (same name in
    the plan, bit-identical values) marked nondeterministic — the
    single-eval form.  Use it where a column computed by the kernel is
    then filtered on, or equi-joined on, and also carried downstream:
    Catalyst otherwise pushes the filter (or the join's inferred
    ``isnotnull``) below the projection and DUPLICATES the Python eval,
    so every row crosses Arrow and runs the kernel twice.  The cost: a
    nondeterministic projection is a pushdown barrier — no filter above
    it, not even one on an unrelated column, moves below it or into the
    scan, and rows the filter drops still pay the kernel once.  Use the
    plain call everywhere else."""
    import functools

    def deco(fn):
        holder: dict = {}

        def make(key, build):
            def call(*cols):
                if key not in holder:
                    holder[key] = build()
                return holder[key](*cols)
            return functools.wraps(fn)(call)

        call = make("udf", lambda: pandas_udf(return_type)(fn))
        call.once = make("once", lambda: pandas_udf(return_type)(
            fn).asNondeterministic())
        call.fn = fn
        call.returnType = return_type
        return call

    return deco


def _encode_result(res: np.ndarray | np.ma.MaskedArray, out_ct: CellType | None) -> Tile:
    if not isinstance(res, np.ma.MaskedArray):
        res = np.ma.masked_array(res)
    if out_ct is None:
        ct = CellType.from_numpy(res.dtype, "default")
    else:
        ct = out_ct
    return Tile(res, ct)


# ---------------------------------------------------------------------------
# kernel fusion
# ---------------------------------------------------------------------------
#
# Every tile op attaches a symbolic kernel DAG (``TileExpr``) to the Column
# it returns. When an op's input Column carries such a DAG, the numpy
# kernels are *composed* and compiled into ONE pandas UDF, so a chain like
# ``rf_mask(rf_local_clamp(rf_local_add(t, b), 0, 10), m)`` crosses the
# Arrow boundary once instead of three times. This removes the dominant
# per-op fixed cost (Arrow serialization + Python runner round-trip) for
# chained local algebra — the reference gets the same effect from JVM-side
# Catalyst expression trees (``core/.../expressions/``), which fuse free
# inside whole-stage codegen.
#
# Semantics are identical to the unfused path: each interior node applies
# its declared output CellType cast (via ``_encode_result(...).masked()``)
# before feeding the next kernel, exactly as the Arrow round-trip would.


class TileExpr:
    """A fusable kernel DAG: ``fn(vals)`` over ``inputs`` -> masked array.

    ``inputs`` is a list of ``(key, Column, kind)`` with kind ``"tile"``
    (struct column, decoded to a Tile) or ``"scalar"`` (numeric column,
    passed per-row as float). ``fn`` receives values aligned to ``inputs``.
    """

    __slots__ = ("fn", "inputs", "out_ct")

    def __init__(self, fn, inputs, out_ct: CellType | None = None):
        self.fn = fn
        self.inputs = inputs
        self.out_ct = out_ct


_PLAIN_COL_RE = __import__("re").compile(r"[A-Za-z_][A-Za-z0-9_.]*")


def _expr_key(col: Column) -> str:
    try:
        s = str(col._jc)
    except Exception:
        return f"@{id(col)}"
    if _PLAIN_COL_RE.fullmatch(s):
        return s  # plain named column: dedupe by name is safe
    # opaque expressions (e.g. two distinct pandas UDF calls both named
    # 'udf(...)') can stringify identically — key on object identity so a
    # fused binary op never silently feeds one column to both sides
    return f"{s}@{id(col)}"


def _as_tile_expr(arg) -> TileExpr:
    col = col_or_name(arg)
    e = getattr(col, "_rf_expr", None)
    if isinstance(e, TileExpr):
        return e
    return TileExpr(lambda vals: vals[0], [(_expr_key(col), col, "tile")], None)


def _boundary(e: TileExpr):
    """Eval fn reproducing the full Arrow round-trip of the unfused path:
    Tile construction (dtype cast) -> encode_cells (sentinel fill of masked
    cells) -> mask re-derivation via ``CellType.mask_of`` (exactly what
    ``Tile.from_parts`` does on decode). Values equal to the NoData
    sentinel therefore become NoData at every op boundary, fused or not —
    bit-identical chains."""

    def fn(vals, _f=e.fn, _ct=e.out_ct):
        t = _encode_result(_f(vals), _ct)
        raw = t.to_numpy()
        return np.ma.masked_array(raw, t.cell_type.mask_of(raw))

    return fn


def _merge_inputs(e1: TileExpr, e2: TileExpr):
    inputs = list(e1.inputs)
    pos = {k: i for i, (k, _, _) in enumerate(inputs)}
    idx2 = []
    for k, c, kind in e2.inputs:
        if k in pos:
            idx2.append(pos[k])
        else:
            pos[k] = len(inputs)
            inputs.append((k, c, kind))
            idx2.append(len(inputs) - 1)
    return inputs, idx2


def _decode_batch_cols(args, kinds):
    cols = []
    for a, kind in zip(args, kinds):
        cols.append(decode_struct_pdf(a) if kind == "tile" else a.values)
    return cols


def _row_vals(cols, kinds, i):
    """Aligned kernel inputs for row i, or None if any input is null."""
    vals = []
    for c, kind in zip(cols, kinds):
        v = c[i]
        if kind == "tile":
            if v is None:
                return None
            vals.append(v.masked())
        else:
            if v is None or (isinstance(v, float) and np.isnan(v)):
                return None
            vals.append(float(v))
    return vals


def _compile_tile(e: TileExpr) -> Column:
    kinds = [k for _, _, k in e.inputs]
    fn, out_ct = e.fn, e.out_ct

    @pandas_udf(TILE_SCHEMA)
    def udf(*args):
        cols = _decode_batch_cols(args, kinds)
        out: list[Tile | None] = []
        for i in range(len(cols[0])):
            vals = _row_vals(cols, kinds, i)
            out.append(None if vals is None else _encode_result(fn(vals), out_ct))
        return tiles_to_struct_pdf(out)

    col = udf(*[c for _, c, _ in e.inputs])
    try:
        col._rf_expr = e
    except Exception:
        pass
    return col


_SCALAR_DT = None


def _scalar_dtype(name: str):
    global _SCALAR_DT
    if _SCALAR_DT is None:
        from pyspark.sql import types as T

        _SCALAR_DT = {
            "double": T.DoubleType(), "float": T.FloatType(),
            "long": T.LongType(), "int": T.IntegerType(),
            "boolean": T.BooleanType(), "string": T.StringType(),
        }
    return _SCALAR_DT[name]


def _compile_scalar(e: TileExpr, fn, return_type: str) -> Column:
    inner = _boundary(e)
    kinds = [k for _, _, k in e.inputs]

    @pandas_udf(_scalar_dtype(return_type))
    def sudf(*args):
        cols = _decode_batch_cols(args, kinds)
        out = []
        for i in range(len(cols[0])):
            vals = _row_vals(cols, kinds, i)
            if vals is None:
                out.append(None)
                continue
            v = fn(inner(vals))
            if v is np.ma.masked:
                v = None
            out.append(v)
        return pd.Series(out, dtype=object)

    return sudf(*[c for _, c, _ in e.inputs])


def unary_tile_op(fn: Callable[[np.ma.MaskedArray], np.ma.MaskedArray], out_ct: str | None = None):
    """(tile) -> tile column function from a masked-array kernel."""
    octype = CellType.parse(out_ct) if out_ct else None

    def op(tile) -> Column:
        e = _as_tile_expr(tile)
        inner = _boundary(e)
        return _compile_tile(
            TileExpr(lambda vals, _i=inner: fn(_i(vals)), e.inputs, octype))

    return op


def binary_tile_op(
    fn: Callable[[np.ma.MaskedArray, np.ma.MaskedArray | float], np.ma.MaskedArray],
    out_ct: str | None = None,
):
    """(tile, tile|scalar) -> tile column function.

    Mirrors the reference's ``BinaryRasterFunction`` dispatch
    (``core/.../expressions/BinaryRasterFunction.scala:34``): the rhs may be
    a tile column or a numeric scalar/column. A python numeric is lifted to
    a closure constant; a Column rhs is treated as tile-struct (numeric
    column rhs goes through ``op.scalar``).
    """
    octype = CellType.parse(out_ct) if out_ct else None

    def op(left, right) -> Column:
        e1 = _as_tile_expr(left)
        i1 = _boundary(e1)
        if isinstance(right, (int, float, np.integer, np.floating)):
            rv = float(right)
            return _compile_tile(
                TileExpr(lambda vals, _a=i1: fn(_a(vals), rv), e1.inputs, octype))
        e2 = _as_tile_expr(right)
        i2 = _boundary(e2)
        inputs, idx2 = _merge_inputs(e1, e2)
        n1 = len(e1.inputs)

        def nf(vals, _a=i1, _b=i2, _idx=tuple(idx2), _n1=n1):
            return fn(_a(vals[:_n1]), _b([vals[i] for i in _idx]))

        return _compile_tile(TileExpr(nf, inputs, octype))

    def scalar(left, right):
        e1 = _as_tile_expr(left)
        i1 = _boundary(e1)
        rc = col_or_name(right).cast("double")
        inputs = e1.inputs + [(_expr_key(rc), rc, "scalar")]
        n1 = len(e1.inputs)

        def nf(vals, _a=i1, _n1=n1):
            return fn(_a(vals[:_n1]), vals[_n1])

        return _compile_tile(TileExpr(nf, inputs, octype))

    op.scalar = scalar
    op.tile_tile = lambda left, right: op(col_or_name(left), col_or_name(right))
    return op


def tile_to_scalar(fn: Callable[[np.ma.MaskedArray], object], return_type: str):
    """(tile) -> scalar column function (double/long/boolean). A fused-DAG
    input collapses the whole chain + reduction into one UDF crossing."""

    @lazy_pandas_udf(return_type)
    def udf(t: pd.DataFrame) -> pd.Series:
        tiles = decode_struct_pdf(t)
        out = []
        for tile in tiles:
            if tile is None:
                out.append(None)
            else:
                v = fn(tile.masked())
                if v is np.ma.masked:
                    v = None
                out.append(v)
        return pd.Series(out, dtype=object)

    def op(tile) -> Column:
        col = col_or_name(tile)
        e = getattr(col, "_rf_expr", None)
        if isinstance(e, TileExpr):
            return _compile_scalar(e, fn, return_type)
        return udf(col)

    return op
