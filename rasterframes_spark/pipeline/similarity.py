"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries broadcast (they are small by construction); the scan side stays
  partitioned, per-partition partial top-k via window rank after a single
  projection. No shuffle of the corpus.
- ``lsh_ann_topk``: random-hyperplane LSH bucketing → candidate rerank —
  the 100 TB path: each query probes only its bucket (+ optional multiprobe
  neighbors), turning a full scan into a bucket-local scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from rasterframes_spark.functions._kernel import lazy_pandas_udf
from rasterframes_spark.pipeline.dedup import cosine_sim

__all__ = ["cosine_topk", "lsh_ann_topk", "hyperplane_bucket", "ivf_ann_topk",
           "quantize_embeddings", "dequantize_embedding"]


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        out_col: str | None = None) -> DataFrame:
    """Per-vector symmetric int8 quantization: the embedding column is
    replaced by ``struct{scale: float, q: binary}`` where
    ``q[i] = round(x[i] / scale)`` with ``scale = max|x| / 127``.

    The 100 TB storage lever: 8x smaller than array<double> (4x vs
    float32) both in Parquet and across every shuffle/broadcast that
    carries vectors. COSINE is invariant to each vector's positive
    scale, so top-k by cosine can rank on the raw int8 codes without
    dequantizing — only the ~0.4% rounding jitter differs from exact
    (recall pinned by test). One vectorized Arrow pass; batch numpy.

    All-zero / null vectors get scale 0 and a zero code vector."""
    out = out_col or vec_col

    @lazy_pandas_udf("struct<scale:float,q:binary>")
    def qz(vs: pd.Series) -> pd.DataFrame:
        scales = np.empty(len(vs), dtype=object)
        qs = np.empty(len(vs), dtype=object)
        for i, v in enumerate(vs.values):
            if v is None:
                continue  # null vector -> struct of nulls
            x = np.asarray(v, dtype="float64")
            m = float(np.max(np.abs(x))) if len(x) else 0.0
            scale = m / 127.0
            q = (np.round(x / scale).astype("int8") if scale > 0
                 else np.zeros(len(x), dtype="int8"))
            scales[i] = scale
            qs[i] = q.tobytes()
        return pd.DataFrame({"scale": scales, "q": qs})

    return df.withColumn(out, qz(F.col(vec_col)))


def dequantize_embedding(qcol) -> "F.Column":
    """struct{scale, q} -> array<double>: ``scale * int8(q[i])``.
    Max round-trip error per element is scale/2 (test-pinned)."""
    c = F.col(qcol) if isinstance(qcol, str) else qcol

    @lazy_pandas_udf("array<double>")
    def dq(vs: pd.Series) -> pd.Series:
        res = np.empty(len(vs), dtype=object)
        for i, v in enumerate(vs.values):
            # struct rows arrive as dict (Arrow) or positional sequence
            if isinstance(v, dict):
                scale, q = v.get("scale"), v.get("q")
            elif v is not None:
                scale, q = v[0], v[1]
            else:
                scale = q = None
            if q is None:
                res[i] = None
                continue
            arr = np.frombuffer(bytes(q), dtype="int8").astype("float64")
            res[i] = arr * float(scale)
        return pd.Series(res, dtype=object)

    return dq(c)


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                corpus_id: str = "vec_id", query_id: str = "query_id",
                vec_col: str = "embedding", method: str = "matmul",
                max_queries: int = 4096) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Returns (query_id, neighbor_id, cos, rank). Ties broken by neighbor id
    for determinism. Queries are small by construction (the large-Q path is
    ``lsh_ann_topk``/``ivf_ann_topk``); the corpus never shuffles until the
    per-query top-k window.

    method='matmul' (default): queries collect to the driver (bounded by
    ``max_queries``) and ship in the UDF closure; each corpus Arrow batch
    scores against ALL queries in one BLAS matmul ((n, dim) @ (dim, q)) —
    one Python crossing of the corpus, no per-pair work. ~40% faster than
    the SQL path at bench scale and widens with q.

    method='sql': fully declarative broadcast crossJoin + higher-order
    zip_with/aggregate dot product. No driver collect, composes lazily —
    but Catalyst HOF lambdas are interpreted per element, so it loses to
    BLAS as q x dim grows. Verify with .explain(): BroadcastNestedLoopJoin
    over broadcast(queries).

    Zero-norm vectors (e.g. all-zero embeddings from failed encodes) have
    no defined cosine: both methods EXCLUDE them — as corpus rows and as
    queries — instead of letting NaN (sorts FIRST under desc) or NULL
    (sorts last) leak method-dependent top-k.

    Scale posture (matmul): each Arrow batch prunes to its own top-k per
    query (ties at the k-th value kept) BEFORE emitting, so the global
    rank window shuffles O(batches x k x q) rows, not |corpus| x q —
    exactness preserved because the global top-k is the top-k of the
    union of per-batch top-ks.
    """
    if method == "sql":
        q = queries.select(
            F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qv")
        )
        c = corpus.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        )
        scored = c.crossJoin(F.broadcast(q)).select(
            F.col("__qid").alias(query_id),
            "neighbor_id",
            F.round(cosine_sim(F.col("__cv").cast("array<double>"),
                               F.col("__qv").cast("array<double>")), 6).alias("cos"),
        ).where(F.col("cos").isNotNull())  # zero-norm/null vectors excluded
    else:
        from pyspark.sql.types import DoubleType, StructField, StructType

        qrows = queries.select(
            F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qv")
        ).limit(max_queries + 1).collect()
        if len(qrows) > max_queries:
            raise ValueError(
                f"cosine_topk(method='matmul') collects the query side; got "
                f">{max_queries} queries — use lsh_ann_topk/ivf_ann_topk or "
                f"raise max_queries")
        qrows = [r for r in qrows if r["__qv"] is not None]
        qids = np.array([r["__qid"] for r in qrows], dtype=object)
        Q = (np.stack([np.asarray(r["__qv"], dtype="float64") for r in qrows])
             if qrows else np.zeros((0, 1)))
        Qn = np.sqrt((Q * Q).sum(axis=1))
        qok = Qn > 0  # zero-norm queries have no defined cosine: excluded
        qids, Q, Qn = qids[qok], Q[qok], Qn[qok]
        nq = len(qids)
        kk = int(k)

        out_schema = StructType([
            StructField(query_id, queries.schema[query_id].dataType, True),
            StructField("neighbor_id", corpus.schema[corpus_id].dataType, True),
            StructField("__rawcos", DoubleType(), True),
        ])

        def score(batches):
            for pdf in batches:
                if not nq or not len(pdf):
                    continue
                vals = pdf["__cv"].values
                ok = [i for i, a in enumerate(vals) if a is not None]
                if not ok:
                    continue
                X = np.stack([np.asarray(vals[i], dtype="float64") for i in ok])
                ids = pdf["neighbor_id"].to_numpy()[ok]
                Xn = np.sqrt((X * X).sum(axis=1))
                keep = Xn > 0  # zero-norm corpus rows excluded (see doc)
                X, ids, Xn = X[keep], ids[keep], Xn[keep]
                n = len(ids)
                if not n:
                    continue
                cos = (X @ Q.T) / (Xn[:, None] * Qn[None, :])  # (n, nq)
                # per-batch top-k prune with a one-rounding-quantum slack:
                # the final rank orders by ROUND(cos, 6) with an id
                # tiebreak, so any row whose rounded value could tie the
                # k-th must survive the raw-value prune (raw ties alone
                # are not enough — two raw-distinct values can round equal
                # and the pruned one would have won the id tiebreak)
                if n > kk:
                    kth = np.partition(cos, n - kk, axis=0)[n - kk]
                    mask = cos >= kth[None, :] - 1e-6
                else:
                    mask = np.ones_like(cos, dtype=bool)
                ii, jj = np.nonzero(mask)
                yield pd.DataFrame({
                    query_id: qids[jj],
                    "neighbor_id": ids[ii],
                    "__rawcos": cos[ii, jj],
                })

        scored = (
            corpus.select(F.col(corpus_id).alias("neighbor_id"),
                          F.col(vec_col).alias("__cv"))
            .mapInPandas(score, schema=out_schema)
            # round JVM-side: F.round is HALF_UP like the SQL path/oracle,
            # np.round is banker's
            .select(query_id, "neighbor_id",
                    F.round("__rawcos", 6).alias("cos"))
        )

    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hyperplane_bucket(vec_col, n_planes: int = 12, dim: int = 64,
                      seed: int = 42):
    """Random-hyperplane LSH bucket id: sign-bit pattern of `n_planes`
    projections (Charikar cosine LSH)."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _hyperplane_kernel(n_planes, dim, seed)(col)


def _hyperplane_kernel(n_planes: int, dim: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    powers = 1 << np.arange(n_planes, dtype=np.int64)

    @lazy_pandas_udf("long")
    def _lsh_bucket_udf(v: pd.Series) -> pd.Series:
        vals = v.values
        out = np.empty(len(vals), dtype=object)
        nz = [i for i, arr in enumerate(vals) if arr is not None]
        if nz:
            # one matmul per batch: (n, dim) @ (dim, n_planes)
            x = np.stack([np.asarray(vals[i], dtype="float64") for i in nz])
            codes = ((x @ planes.T) > 0).astype(np.int64) @ powers
            for t, i in enumerate(nz):
                out[i] = int(codes[t])
        return pd.Series(out, dtype=object)

    return _lsh_bucket_udf


def _train_unit_centroids(corpus: DataFrame, vec_col: str, n_lists: int,
                          sample_size: int, seed: int,
                          corpus_rows: int | None,
                          caller: str) -> np.ndarray:
    """Driver-side k-means coarse quantizer shared by ivf_ann_topk and
    semantic_dedup: seeded uniform Bernoulli sample of the WHOLE corpus
    (a limit() would satisfy itself from the earliest partitions — first
    rows of a partitioned 100 TB corpus are not representative and train
    degenerate centroids), then a few Lloyd's iterations on <= sample_size
    unit-normalized vectors. Returns (n_lists, dim) unit rows."""
    if corpus_rows is not None:
        n_corpus = corpus_rows
    else:
        # free exact count (parquet footers / Catalyst rowCount) when
        # the plan shape proves it — identical value to corpus.count(),
        # zero Spark jobs (r15); opaque shapes still pay the count
        from rasterframes_spark.pipeline.skew import _scan_row_count_exact

        n_corpus = _scan_row_count_exact(corpus)
        if n_corpus is None:
            n_corpus = corpus.count()
    base = corpus.select(vec_col).where(F.col(vec_col).isNotNull())
    if n_corpus > sample_size:
        # collect the whole ~1.2x Bernoulli sample (bounded) and
        # downsample uniformly below — no positional bias
        frac = min(1.0, 1.2 * sample_size / n_corpus)
        sampled = base.sample(False, frac, seed=seed)
    else:
        sampled = base
    rows = sampled.collect()
    if not rows:
        raise ValueError(
            f"{caller}: no non-null embeddings to train centroids "
            "on — pass centroids= explicitly or fix the corpus")
    rng = np.random.default_rng(seed)
    if len(rows) > sample_size:
        rows = [rows[i] for i in rng.choice(len(rows), size=sample_size,
                                            replace=False)]
    sample = np.array([r[0] for r in rows], dtype="float64")
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.maximum(norms, 1e-12)
    cents = sample[rng.choice(len(sample), size=min(n_lists, len(sample)),
                              replace=False)]
    for _ in range(10):  # Lloyd's on the sample (cosine ~ dot on normalized)
        assign = np.argmax(sample @ cents.T, axis=1)
        for j in range(len(cents)):
            members = sample[assign == j]
            if len(members):
                c = members.mean(axis=0)
                cents[j] = c / max(np.linalg.norm(c), 1e-12)
    return cents


def ivf_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 n_lists: int = 16, n_probe: int = 3,
                 corpus_id: str = "vec_id", query_id: str = "query_id",
                 vec_col: str = "embedding", sample_size: int = 2048,
                 seed: int = 42, centroids=None,
                 corpus_rows: int | None = None) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer -> corpus bucketed
    by nearest centroid -> each query probes its n_probe nearest lists and
    reranks exactly within them.

    The 100 TB path: centroids train on a driver-side sample (Lloyd's, a few
    numpy iterations over <= sample_size vectors); the corpus assignment is
    one vectorized pandas-UDF projection; the probe join touches
    n_probe/n_lists of the data per query instead of a full scan. Centroids
    broadcast via closure (KBs). The sample is a seeded uniform fraction of
    the whole corpus (parquet count() is metadata-cheap), not a first-rows
    limit — first rows of a partitioned 100 TB corpus are NOT representative
    and train degenerate centroids.

    ``centroids`` (optional, shape (n_lists, dim)): skip training and use
    these rows (L2-normalized here) as the coarse quantizer. This keeps the
    call fully lazy — no count()/sample job at call time — and makes the
    bucketing externally reproducible (the correctness oracle embeds the
    same centroids as SQL literals).

    ``corpus_rows`` (optional): caller-known corpus size — skips the
    metadata count() that otherwise sizes the training-sample fraction."""
    if centroids is not None:
        cents = np.asarray(centroids, dtype="float64")
        cents = cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    else:
        cents = _train_unit_centroids(corpus, vec_col, n_lists,
                                      sample_size, seed, corpus_rows,
                                      caller="ivf_ann_topk")

    def _list_udf(top_n: int):
        @lazy_pandas_udf("array<int>")
        def _ivf_list_udf(v: pd.Series) -> pd.Series:
            vals = v.values
            out = np.empty(len(vals), dtype=object)
            nz = [i for i, arr in enumerate(vals) if arr is not None]
            if nz:
                # one normalize + one matmul per batch
                x = np.stack([np.asarray(vals[i], dtype="float64") for i in nz])
                x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
                sims = x @ cents.T  # (n, n_lists)
                order = np.argsort(-sims, axis=1)[:, :top_n].astype("int32")
                for t, i in enumerate(nz):
                    out[i] = order[t]
            return pd.Series(out, dtype=object)
        return _ivf_list_udf

    # .once on the corpus side: the equi-join on __list lets Catalyst
    # infer isnotnull(__list) and push it below this projection,
    # duplicating the eval — the centroid-assignment matmul ran TWICE
    # over the whole corpus (plan-verified: two ArrowEvalPython sites
    # with the same UDF call id).  Null-list rows drop in the equi-join
    # either way.
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv"),
        F.element_at(_list_udf(1).once(F.col(vec_col)), 1).alias("__list"),
    )
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qv"),
        F.explode(_list_udf(n_probe)(F.col(vec_col))).alias("__list"),
    )
    scored = c.join(F.broadcast(q), "__list").select(
        F.col("__qid").alias(query_id),
        "neighbor_id",
        F.round(cosine_sim(F.col("__cv").cast("array<double>"),
                           F.col("__qv").cast("array<double>")), 6).alias("cos"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 corpus_id: str = "vec_id", query_id: str = "query_id",
                 vec_col: str = "embedding", n_planes: int = 8,
                 dim: int = 64, multiprobe: int = 0) -> DataFrame:
    """Approximate top-k: both sides bucketed by hyperplane signature,
    equi-join on bucket, exact cosine rerank within bucket.

    Recall is tunable two ways: fewer ``n_planes`` = bigger buckets =
    higher recall & cost; ``multiprobe`` = N additionally probes every
    bucket within Hamming distance N of the query's signature (the query
    side explodes to sum(C(n_planes, i)) probe buckets — the corpus side
    is untouched, so this raises recall at candidate-join cost only, the
    standard multiprobe-LSH trade).
    """
    # .once on the corpus side: the bucket equi-join's inferred
    # isnotnull otherwise duplicates the projection matmul over the
    # whole corpus
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv"),
        _hyperplane_kernel(n_planes, dim).once(F.col(vec_col))
        .alias("__bucket"),
    )
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qv"),
        hyperplane_bucket(vec_col, n_planes, dim).alias("__bucket"),
    )
    if multiprobe > 0:
        from itertools import combinations

        masks = [0]
        for r in range(1, min(multiprobe, n_planes) + 1):
            for bits in combinations(range(n_planes), r):
                m = 0
                for b in bits:
                    m |= 1 << b
                masks.append(m)
        q = q.withColumn("__bucket", F.explode(F.array(
            *[F.col("__bucket").bitwiseXOR(F.lit(m)) for m in masks])))
    scored = c.join(F.broadcast(q), "__bucket").select(
        F.col("__qid").alias(query_id),
        "neighbor_id",
        F.round(cosine_sim(F.col("__cv").cast("array<double>"),
                           F.col("__qv").cast("array<double>")), 6).alias("cos"),
    )
    if multiprobe > 0:
        # a neighbor found via several probe buckets must count once
        scored = scored.dropDuplicates([query_id, "neighbor_id"])
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
