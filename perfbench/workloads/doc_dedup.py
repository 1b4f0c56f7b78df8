"""doc_dedup: the LLM-data pipeline operators on a seeded corpus.

The corpus is drawn from a seeded pseudo-word vocabulary with planted
near-duplicate documents; the embeddings have planted near-duplicate
vectors. Ops: ``minhash_dedup_pairs``, ``semantic_dedup`` and
``ivf_ann_topk``. There are no tiles, so tile, kernel-codec and sources
changes predict no change here.
"""

from __future__ import annotations

import numpy as np

from perfbench.workloads import Op, Workload, floor_seconds, rng_for

# (docs, near-duplicate pairs, vectors, dim, queries)
SIZES = {"full": (600, 30, 600, 32, 48), "smoke": (120, 8, 200, 16, 8)}
THRESHOLD = 0.8       # minhash verify threshold (exact Jaccard)
SEM_THRESHOLD = 0.95  # semantic_dedup cosine threshold
K = 10                # ANN top-k
RECALL_FLOOR = 0.9    # ANN recall@K and planted-pair recall must reach this


def shingle_set(text: str, n: int = 3) -> set:
    t = text.split(" ")
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


class DocDedup(Workload):
    name = "doc_dedup"

    def __init__(self, spark, seed, size, tmp):
        import rasterframes_spark as rf

        self.rf, self.spark = rf, spark
        nd, npairs, nv, dim, nq = SIZES[size]
        rng = rng_for(seed, 4)
        cpus = spark.sparkContext.defaultParallelism

        # Word lengths by frequency rank and document lengths are fixed, and
        # the sources of the planted copies are evenly spaced, so every seed
        # gives a corpus of nearly the same size: input_mb_per_s then
        # varies with the speed of the run, not with the seed.
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = ["".join(rng.choice(letters, 3 + i % 6)) for i in range(4000)]
        zipf = 1.0 / np.arange(1, len(vocab) + 1)
        zipf /= zipf.sum()

        def words(k):
            return [vocab[i] for i in rng.choice(len(vocab), k, p=zipf)]

        docs = [words(60 + (37 * i) % 100) for i in range(nd - npairs)]
        self.planted = []
        for k in range(npairs):               # copies with ~2% words replaced
            src = k * (len(docs) // npairs)
            copy = list(docs[src])
            for p in rng.choice(len(copy), max(1, len(copy) // 50), replace=False):
                copy[p] = vocab[int(rng.integers(0, len(vocab)))]
            self.planted.append((src, len(docs)))
            docs.append(copy)
        order = rng.permutation(len(docs))    # ids carry no hint of the planting
        rank = {int(d): i for i, d in enumerate(order)}
        self.text = {rank[d]: " ".join(docs[d]) for d in range(len(docs))}
        self.planted = [tuple(sorted((rank[a], rank[b]))) for a, b in self.planted]
        self.docs_df = spark.createDataFrame(
            sorted(self.text.items()), "doc_id long, text string").repartition(cpus).cache()

        centers = rng.normal(size=(8, dim))
        v = centers[rng.integers(0, 8, nv)] + 0.6 * rng.normal(size=(nv, dim))
        self.sem_planted = []
        for i in range(nv // 40):             # near-identical vector pairs
            a, b = 2 * i, 2 * i + 1
            v[b] = v[a] + 0.01 * rng.normal(size=dim)
            self.sem_planted.append((a, b))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        self.vecs = v
        q = v[rng.integers(0, nv, nq)] + 0.3 * rng.normal(size=(nq, dim)).astype(np.float32)
        self.queries = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
        self.vec_df = spark.createDataFrame(
            [(i, v[i].tolist()) for i in range(nv)], "vec_id long, embedding array<float>"
        ).repartition(cpus).cache()
        self.query_df = spark.createDataFrame(
            [(i, self.queries[i].tolist()) for i in range(nq)],
            "query_id long, embedding array<float>").cache()
        for df in (self.docs_df, self.vec_df, self.query_df):
            df.count()

        text_mb = sum(len(t) for t in self.text.values()) / 1e6
        self.work = {"docs": nd, "vectors": nv, "dim": dim, "queries": nq,
                     "input_mb": text_mb + (nv + nq) * dim * 4 / 1e6}
        self._oracle()
        self._verified = 0      # pairs the last minhash op returned
        self._recall = 0.0      # recall@K of the last ANN op

    def _oracle(self):
        v = self.vecs.astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        q = self.queries.astype(np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        self.want_knn = {i: set(np.argsort(-(v @ q[i]), kind="stable")[:K].tolist())
                         for i in range(len(q))}
        # brute-force near-duplicate components (cosine >= SEM_THRESHOLD)
        sim = v @ v.T
        comp = list(range(len(v)))

        def find(x):
            while comp[x] != x:
                comp[x] = comp[comp[x]]
                x = comp[x]
            return x

        for a, b in zip(*np.nonzero(np.triu(sim >= SEM_THRESHOLD - 1e-9, 1))):
            comp[find(int(a))] = find(int(b))
        self.sem_comp = [find(i) for i in range(len(v))]

    # -- checks ---------------------------------------------------------
    def _check_minhash(self, pairs):
        for a, b, j in pairs:
            want = jaccard(self.text[a], self.text[b])
            # the operator reports Jaccard rounded to 6 decimals
            if abs(j - want) > 5.000001e-7 or want < THRESHOLD:
                return f"pair ({a},{b}) jaccard {j!r} exact {want!r}"
        found = {(min(a, b), max(a, b)) for a, b, _ in pairs}
        real = [p for p in self.planted if jaccard(self.text[p[0]], self.text[p[1]]) >= THRESHOLD]
        recall = sum(p in found for p in real) / max(1, len(real))
        self._verified = len(pairs)
        if recall < RECALL_FLOOR:
            return f"planted-pair recall {recall:.3f} < {RECALL_FLOOR}"
        return None

    def _check_semantic(self, rows):
        if sorted(r[0] for r in rows) != list(range(len(self.vecs))):
            return "semantic_dedup must return every vector once"
        group = {i: g for i, g, _ in rows}
        kept: dict[int, int] = {}
        for i, g, k in rows:
            if self.sem_comp[i] != self.sem_comp[g]:
                return f"vector {i} merged into group {g} without a near-duplicate path"
            kept[g] = kept.get(g, 0) + bool(k)
        if any(n != 1 for n in kept.values()):
            return "a duplicate group does not keep exactly one vector"
        recall = sum(group[a] == group[b] for a, b in self.sem_planted) / len(self.sem_planted)
        if recall < RECALL_FLOOR:
            return f"planted-pair recall {recall:.3f} < {RECALL_FLOOR}"
        return None

    def _check_ann(self, got):
        hits = sum(len(got.get(q, set()) & want) for q, want in self.want_knn.items())
        recall = hits / (K * len(self.want_knn))
        self._recall = recall
        if any(len(got.get(q, ())) != K for q in self.want_knn):
            return f"some query did not get {K} neighbours"
        if recall < RECALL_FLOOR:
            return f"recall@{K} {recall:.3f} < {RECALL_FLOOR}"
        return None

    # -- op mix ---------------------------------------------------------
    def ops(self):
        P = self.rf.pipeline

        def minhash(ctx):
            with ctx.span("minhash_dedup_pairs"):
                q = P.minhash_dedup_pairs(self.docs_df, "doc_id", "text", threshold=THRESHOLD)
            rows = ctx.collect(q)
            self.rf.release_cache(q)   # the signatures the operator cached
            return [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows]

        def semantic(ctx):
            with ctx.span("semantic_dedup"):
                q = P.semantic_dedup(self.vec_df, "vec_id", "embedding", n_clusters=8,
                                     threshold=SEM_THRESHOLD)
                q = q.select("vec_id", "sem_cluster", "kept")
            return [(r[0], r[1], r[2]) for r in ctx.collect(q)]

        def ann(ctx):
            with ctx.span("ivf_ann_topk"):
                q = P.ivf_ann_topk(self.vec_df, self.query_df, k=K, n_lists=8, n_probe=3)
            out: dict[int, set] = {}
            for r in ctx.collect(q):
                out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return out

        return [Op("minhash", "pipeline", minhash, self._check_minhash),
                Op("semantic_dedup", "pipeline", semantic, self._check_semantic),
                Op("ivf_ann", "pipeline", ann, self._check_ann)]

    def stats(self):
        return {"pipeline.ann_recall": self._recall}

    def probes(self, ctx):
        from pyspark.sql import functions as F

        P = self.rf.pipeline
        ctx.op, ctx.layer = "lsh_candidates", "pipeline"
        sig = self.docs_df.select("doc_id", P.minhash_signature_text("text").alias("minhash"))
        with ctx.span("minhash_lsh_candidates"):
            cands = P.minhash_lsh_candidates(sig.where(F.col("minhash").isNotNull()),
                                             "doc_id", "minhash", bands=16).count()
        return {"pipeline.lsh_candidates": float(cands),
                "pipeline.pair_yield": self._verified / cands if cands else 0.0,
                "kernel.floor_s": floor_seconds(ctx, self.docs_df, "text", "string")}
