"""Driver-side reads of Catalyst's optimized logical plan — metadata and
parquet footers only, NO Spark jobs.

Sizing heuristics (raster_join's merge partitions, the spread target,
the ANN training-sample fraction) ask a plan whether it is made only of
nodes whose statistics price what actually flows, and what those
statistics or the parquet footers under it say.  The node sets are each
caller's policy and stay with the caller; the walk, the statistic reads
and the footer sum live here once.
"""

from __future__ import annotations

__all__ = ["NARROW_NODES", "RELATION_LEAVES", "FOOTER_MAX_FILES",
           "optimized_plan", "plan_leaves", "row_count_stat",
           "footer_row_count"]

# Unary nodes that neither add rows nor change what a row carries.
NARROW_NODES = frozenset({
    "Project", "Filter", "SubqueryAlias", "Sort",
    "Repartition", "RepartitionByExpression"})
# Scans, materialized caches and local data.
RELATION_LEAVES = frozenset({
    "LogicalRelation", "Relation", "InMemoryRelation", "LocalRelation"})

# A corpus with more files than this scans as that many partitions
# anyway, so the sizing a footer sum feeds no longer matters — and the
# driver-side footer reads stop costing only milliseconds.
FOOTER_MAX_FILES = 64


def optimized_plan(df):
    """py4j handle of ``df``'s optimized logical plan."""
    return df._jdf.queryExecution().optimizedPlan()


def plan_leaves(jp, inner, leaves) -> list | None:
    """The nodes of plan ``jp`` named in ``leaves`` (not descended), when
    every node above them is named in ``inner``; None as soon as any
    other node occurs."""
    out, stack = [], [jp]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name in leaves:
            out.append(node)
        elif name in inner:
            ch = node.children()
            stack.extend(ch.apply(i) for i in range(ch.size()))
        else:
            return None
    return out


def row_count_stat(jp) -> int | None:
    """Catalyst's ``rowCount`` statistic at plan ``jp`` — exact for
    materialized caches and local data — or None when undefined."""
    rc = jp.stats().rowCount()
    return int(str(rc.get())) if rc.isDefined() else None


def footer_row_count(df) -> int | None:
    """Sum of the parquet footer row counts over ``df.inputFiles()``;
    None unless the inputs are 1..FOOTER_MAX_FILES parquet files."""
    files = df.inputFiles()
    if not files or len(files) > FOOTER_MAX_FILES or \
            not all(f.endswith(".parquet") for f in files):
        return None
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows
        for f in files)


def _plan_size_bytes(df) -> float | None:
    """Catalyst's estimated sizeInBytes of the optimized logical plan.
    Accurate for materialized caches, localCheckpoints and file scans
    (file bytes); unknown sources default to Long.MaxValue, which
    callers must treat as 'huge'."""
    try:
        return float(optimized_plan(df).stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — estimate only; None = unknown
        return None
