"""LLM-pipeline operators on the real documents/embeddings tables."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from rasterframes_spark import pipeline as P

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_text_metrics(spark, docs):
    out = P.text_metrics(docs).head()
    text = out["text"]
    assert out["n_tokens"] == len(text.split(" "))
    assert out["n_chars_m"] == len(text)
    assert 0 <= out["quality"] <= 1
    assert out["lang_pred"] in ("en", "de", "fr", "es", "it", "und")
    assert out["fingerprint"] >= 0


def test_fingerprint_matches_python(spark, docs):
    rows = docs.select("doc_id", "text",
                       P.doc_fingerprint("text").alias("fp")).limit(5).collect()
    for r in rows:
        h = 0
        for ch in r["text"]:
            h = (h * 31 + ord(ch)) % 2147483647
        assert r["fp"] == h


def test_fingerprint_vectorized_matches_sql_fold(spark, docs):
    """The numpy Horner fingerprint must equal the declarative F.aggregate
    fold character-for-character (incl. non-ascii code points)."""
    extra = spark.createDataFrame(
        [(1, "héllo wörld ünïcode ñ"), (2, ""), (3, "a")], "doc_id long, text string")
    for d in (docs.limit(200), extra):
        bad = d.select(
            P.doc_fingerprint("text").alias("v"),
            P.doc_fingerprint("text", method="sql").alias("s"),
        ).where(F.col("v") != F.col("s")).count()
        assert bad == 0


def test_exact_dedup(spark, docs):
    doubled = docs.union(docs)
    assert P.dedup_exact(doubled, ["text"]).count() == docs.count()
    groups = P.exact_dup_groups(doubled, "text")
    assert groups.count() == docs.count()  # every text now has 2 copies


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([{"t": "a b c d", "u": "a b c e"}])
    row = df.select(
        P.shingles("t", 2).alias("st"),
        P.jaccard_sim(P.shingles("t", 1), P.shingles("u", 1)).alias("j"),
    ).head()
    assert set(row["st"]) == {"a b", "b c", "c d"}
    # token sets {a,b,c,d} vs {a,b,c,e}: 3/5
    assert abs(row["j"] - 0.6) < 1e-9


def test_minhash_finds_planted_near_dups(spark, docs):
    # plant near-duplicates: copy of each doc with one word appended
    orig = docs.select(F.col("doc_id"), F.col("text")).limit(20)
    dup = orig.select((F.col("doc_id") + 100000).alias("doc_id"),
                      F.concat(F.col("text"), F.lit(" zzz")).alias("text"))
    both = orig.union(dup)
    pairs = P.minhash_dedup_pairs(both, "doc_id", "text", shingle_size=3,
                                  num_perm=32, bands=16, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {(r["doc_id"], r["doc_id"] + 100000) for r in orig.collect()}
    # LSH with 16 bands of 2 rows at j>=0.8 should find nearly all planted pairs
    assert len(got & planted) >= int(0.8 * len(planted))
    # verification: no false positives below threshold
    assert all(r["jaccard"] >= 0.5 for r in pairs.collect())


def test_minhash_pipeline_single_kernel_evals(spark, docs):
    """r15 (§4.4): the fused signature kernel and the jaccard verify
    kernel each appear EXACTLY ONCE as distinct ArrowEvalPython
    evaluations in the physical plan — without the nondeterministic
    marking, the isNotNull / threshold filters are pushed below the
    projections and the optimizer duplicates both kernels (the
    signature duplicate additionally ran BELOW the spread Exchange).
    Also pins: the signature eval sits above the spread exchange, and
    results are identical to a threshold-free recompute.
    dedup_against_minhash runs the same two kernels: one signature eval
    per corpus side, one verify eval."""
    import re

    both = docs.select("doc_id", "text").limit(30)
    pairs = P.minhash_dedup_pairs(both, "doc_id", "text", shingle_size=3,
                                  num_perm=32, bands=16, threshold=0.5)
    # scan-rooted: a limit() below the signature projection hides the
    # duplication this pins
    against = P.dedup_against_minhash(docs, docs, "doc_id", "text")
    # (frame, signature input, jaccard inputs, signature evals)
    cases = [(pairs, r"__txt#\d+", r"__ta#\d+, __tb#\d+", 1),
             (against, r"text#\d+", r"\w+#\d+, \w+#\d+", 2)]
    for df, sig_in, jac_in, n_sig in cases:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # distinct eval sites = distinct (result, python output) expr-ids
        # per udf signature: a cached sub-plan prints once per reader,
        # and a pushed-down duplicate keeps the result id
        site = r"\)(#\d+)\], \[pythonUDF\d+(#\d+)"
        sig_evals = set(re.findall(
            rf"ArrowEvalPython \[udf\({sig_in}{site}", plan))
        jac_evals = set(re.findall(
            rf"ArrowEvalPython \[udf\({jac_in}{site}", plan))
        assert len(sig_evals) == n_sig, plan
        assert len(jac_evals) == 1, plan
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the signature eval consumes the spread (round-robin) exchange
    # output, not the raw scan: its input column is the post-exchange
    # __txt and an Exchange RoundRobinPartitioning exists below it
    assert "RoundRobinPartitioning" in plan


def test_simhash_near_pairs(spark, docs):
    orig = docs.select("doc_id", "text").limit(10)
    dup = orig.select((F.col("doc_id") + 100000).alias("doc_id"), F.col("text"))
    pairs = P.simhash_near_pairs(orig.union(dup), "doc_id", "text", max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    for r in orig.collect():
        key = (r["doc_id"], r["doc_id"] + 100000)
        assert key in got and got[key] == 0  # identical text -> distance 0


def test_dedup_ann_entry_points_can_stay_lazy(spark, docs, emb, monkeypatch):
    """With input_rows / centroids supplied, building the dedup/ANN plans
    must trigger NO Spark job: any eager count() fails loudly here, and
    explain() proves the plan still resolves."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("entry point triggered an eager count()")

    monkeypatch.setattr(DataFrame, "count", boom)
    rng = np.random.default_rng(0)
    cents = rng.standard_normal((4, 64))
    plans = [
        P.minhash_dedup_pairs(docs, "doc_id", "text", input_rows=500),
        P.minhash_dedup_pairs(docs, "doc_id", "text", input_rows=None),
        P.simhash_near_pairs(docs, "doc_id", input_rows=500),
        P.ivf_ann_topk(
            emb, emb.limit(2).select(F.col("vec_id").alias("query_id"),
                                     "embedding"),
            n_lists=4, n_probe=2, centroids=cents),
        P.ivf_ann_topk(
            emb, emb.limit(2).select(F.col("vec_id").alias("query_id"),
                                     "embedding"),
            n_lists=4, n_probe=2, corpus_rows=1500),
    ]
    for df in plans:
        assert df._jdf.queryExecution().analyzed() is not None
    monkeypatch.undo()
    # the lazily-built plans still compute correct results
    assert plans[0].where(F.col("jaccard") >= 0.8).count() == plans[1].where(
        F.col("jaccard") >= 0.8).count()


def test_ngram_jaccard_pairs_blocked(spark, docs):
    pairs = P.ngram_jaccard_pairs(docs, "doc_id", "text",
                                  block_cols=["lang", "source"], n=1, threshold=0.9)
    # sanity: pairs are within blocks and symmetric-free
    for r in pairs.limit(5).collect():
        assert r["id_a"] < r["id_b"]


def test_cosine_topk_exact(spark, emb):
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = P.cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) == 5
        # self is its own nearest neighbor with cos=1
        best = min(rows, key=lambda r: r["rank"])
        assert best["neighbor_id"] == qid and abs(best["cos"] - 1.0) < 1e-6
        # ranks ordered by cos desc
        cs = [r["cos"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert cs == sorted(cs, reverse=True)


def test_cosine_topk_methods_agree(spark, emb):
    """The BLAS matmul path and the declarative HOF path return identical
    rows (same rounding, same tie-break)."""
    queries = emb.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    a = P.cosine_topk(emb, queries, k=7, method="matmul") \
        .orderBy("query_id", "rank").collect()
    b = P.cosine_topk(emb, queries, k=7, method="sql") \
        .orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_lsh_ann_recall(spark, emb):
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = P.cosine_topk(emb, queries, k=5)
    approx = P.lsh_ann_topk(emb, queries, k=5, n_planes=2, dim=64)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # 2 planes -> 4 buckets over 500 near-random vectors: modest recall bar
    assert len(e & a) / len(e) > 0.3
    # and self-match always survives (same bucket by definition)
    assert all((q, q) in a for q in [r["query_id"] for r in queries.collect()])


def test_embedding_neardup(spark, emb):
    dup = emb.limit(5).select((F.col("vec_id") + 100000).alias("vec_id"),
                              "embedding", "label")
    pairs = P.embedding_neardup_pairs(emb.union(dup.select(emb.columns)), "vec_id",
                                      block_cols=["label"], threshold=0.999999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for r in emb.limit(5).collect():
        assert (r["vec_id"], r["vec_id"] + 100000) in got


def test_multimodal_plumbing(spark, docs):
    media = P.media_table(spark, docs.limit(8).select(
        F.encode("text", "utf-8").alias("payload")), "payload", kind="image")
    decoded = P.decode_image(media, height=16, width=16)
    rows = decoded.collect()
    assert len(rows) == 8
    assert all(len(bytes(r["pixels"])) == 16 * 16 * 3 for r in rows)
    feats = P.image_features(decoded, dim=16).collect()
    assert all(len(r["features"]) == 16 for r in feats)
    resized = P.resize_image(decoded, 8, 8).collect()
    assert all(len(bytes(r["pixels"])) == 8 * 8 * 3 for r in resized)
    frames = P.sample_video_frames(media, every_ms=500).collect()
    assert len(frames) >= 8
    with pytest.raises(NotImplementedError):
        P.decode_image(media, decode="real")


def test_language_id_on_real_sentences(spark):
    df = spark.createDataFrame([
        {"t": "the cat sat on the mat and the dog is in a house"},
        {"t": "der hund ist ein tier und die katze"},
        {"t": "le chat est un animal et la maison"},
        {"t": "xyzzy qwerty plugh"},
    ])
    got = [r["l"] for r in df.select(P.language_id("t").alias("l")).collect()]
    assert got == ["en", "de", "fr", "und"]


def test_lsh_hot_bucket_salting(spark):
    """A planted hot bucket (identical docs) must produce IDENTICAL pairs
    with salting on, and spread the self-join over multiple salt keys."""
    rows = [{"doc_id": i, "text": "the same exact boilerplate text repeated verbatim"}
            for i in range(300)]
    rows += [{"doc_id": 9001, "text": "completely different words entirely unique alpha beta"},
             {"doc_id": 9002, "text": "completely different words entirely unique alpha beta"}]
    df = spark.createDataFrame(rows)
    unsalted = P.minhash_dedup_pairs(df, "doc_id", "text", threshold=0.9,
                                     hot_bucket_threshold=10**9)
    salted = P.minhash_dedup_pairs(df, "doc_id", "text", threshold=0.9,
                                   hot_bucket_threshold=50, hot_bucket_salts=4)
    nu, ns = unsalted.count(), salted.count()
    assert nu == ns == (300 * 299) // 2 + 1
    u2 = P.simhash_near_pairs(df, "doc_id", "text", hot_bucket_threshold=10**9)
    s2 = P.simhash_near_pairs(df, "doc_id", "text", hot_bucket_threshold=50,
                              hot_bucket_salts=4)
    assert sorted(map(tuple, u2.collect())) == sorted(map(tuple, s2.collect()))


def test_unblocked_pairs_guard(spark, docs):
    with pytest.raises(ValueError, match="block_cols"):
        P.ngram_jaccard_pairs(docs, "doc_id", "text")
    pairs = P.ngram_jaccard_pairs(docs, "doc_id", "text", allow_unblocked=True,
                                  threshold=0.99)
    assert pairs.count() >= 0


def test_multimodal_png_decode_end_to_end(spark):
    """Real PNG payloads decode through the Spark pipeline: encode_png ->
    decode_image(decode='png') round-trips pixels exactly; corrupt payloads
    are dropped, not fatal."""
    import numpy as np
    from rasterframes_spark.sources.png import encode_png

    rng = np.random.default_rng(3)
    imgs = {i: rng.integers(0, 256, (12 + i, 9 + i, 3), dtype=np.uint8)
            for i in range(4)}
    rows = [{"payload": bytearray(encode_png(a))} for a in imgs.values()]
    rows.append({"payload": bytearray(b"not a png at all")})
    df = spark.createDataFrame(rows, schema="payload binary")
    media = P.media_table(spark, df, "payload", kind="image", mime="image/png")
    decoded = P.decode_image(media, decode="png").collect()
    assert len(decoded) == 4  # corrupt row dropped
    got = {(r["height"], r["width"]): np.frombuffer(
        bytes(r["pixels"]), dtype=np.uint8).reshape(r["height"], r["width"], r["channels"])
        for r in decoded}
    for a in imgs.values():
        assert np.array_equal(got[(a.shape[0], a.shape[1])], a)
    # grayscale round-trip keeps 1 channel
    g = rng.integers(0, 256, (7, 11), dtype=np.uint8)
    gdf = spark.createDataFrame([{"payload": bytearray(encode_png(g))}],
                                schema="payload binary")
    r = P.decode_image(P.media_table(spark, gdf, "payload"), decode="png").head()
    assert (r["height"], r["width"], r["channels"]) == (7, 11, 1)
    assert np.array_equal(
        np.frombuffer(bytes(r["pixels"]), dtype=np.uint8).reshape(7, 11), g)


def test_wav_codec_roundtrip():
    """Pure-python WAV codec: every supported bit depth round-trips."""
    from rasterframes_spark.pipeline.audio import encode_wav, decode_wav

    rng = np.random.default_rng(11)
    x = np.clip(rng.normal(0, 0.3, 4000), -1, 1)
    # float formats are lossless (float64 bit-exact, float32 to its eps)
    for bits in (32, 64):
        a, rate = decode_wav(encode_wav(x, 8000, bits=bits, fmt="float"))
        assert rate == 8000 and a.shape == (4000, 1)
        tol = 0 if bits == 64 else 1e-7
        assert np.allclose(a[:, 0], x, atol=tol)
    # integer PCM round-trips to quantization error
    for bits, tol in ((8, 1 / 127), (16, 1 / 32767), (24, 1 / 8388607), (32, 1e-9)):
        a, rate = decode_wav(encode_wav(x, 44100, bits=bits, fmt="pcm"))
        assert rate == 44100
        assert np.allclose(a[:, 0], x, atol=tol * 1.01)
    # stereo keeps channel structure
    st = np.stack([x, -x], axis=1)
    a, _ = decode_wav(encode_wav(st, 16000, bits=16))
    assert a.shape == (4000, 2)
    assert np.allclose(a[:, 0], -a[:, 1], atol=1e-4)
    # malformed inputs raise
    for bad in (b"", b"RIFFxxxx", b"RIFF\x00\x00\x00\x00WAVE"):
        with pytest.raises(ValueError):
            decode_wav(bad)


def test_decode_audio_and_features(spark):
    """decode_audio runs the real WAV codec distributed; audio_features
    match a local numpy oracle; corrupt payloads drop."""
    from rasterframes_spark.pipeline.audio import encode_wav

    rng = np.random.default_rng(5)
    sr = 8000
    clips = {}
    rows = []
    for i in range(5):
        f = 200.0 * (i + 1)
        t = np.arange(sr // 2) / sr
        x = 0.5 * np.sin(2 * np.pi * f * t)
        clips[i] = x
        rows.append({"payload": bytearray(encode_wav(x, sr, bits=64, fmt="float"))})
    rows.append({"payload": bytearray(b"corrupt bytes")})
    df = spark.createDataFrame(rows, schema="payload binary")
    media = P.media_table(spark, df, "payload", kind="audio", mime="audio/wav")
    dec = P.decode_audio(media)
    feats = {r["media_id"]: r for r in P.audio_features(dec).collect()}
    ids = {r["media_id"]: r for r in dec.collect()}
    assert len(ids) == 5  # corrupt row dropped
    # media_id assignment order matches input order within a single partition
    for mid, r in ids.items():
        x = clips[sorted(ids).index(mid)]
        got = np.frombuffer(bytes(r["samples"]), dtype="<f8")
        assert np.array_equal(got, x)  # float64 WAV is bit-exact
        fr = feats[mid]
        assert abs(fr["rms"] - np.sqrt(np.mean(x * x))) < 1e-12
        assert abs(fr["duration_ms"] - 500.0) < 1e-9
        zc = np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))
        assert abs(fr["zero_crossing_rate"] - zc) < 1e-12
        mag = np.abs(np.fft.rfft(x))
        freqs = np.fft.rfftfreq(len(x), d=1.0 / sr)
        assert abs(fr["spectral_centroid_hz"] - (freqs * mag).sum() / mag.sum()) < 1e-9
    with pytest.raises(NotImplementedError):
        P.decode_audio(media, decode="real")


def test_gif_codec_roundtrip_and_features():
    """Pure-python GIF: encode->decode exact; hand-crafted container bytes
    exercise transparency, disposal-2, sub-canvas offsets and interlace."""
    import struct
    from rasterframes_spark.sources.gif import (
        encode_gif, decode_gif, _lzw_encode, _deinterlace)

    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, (7, 3), dtype=np.uint8)
    frames = [pal[rng.integers(0, 7, (18, 25))] for _ in range(3)]
    dec = decode_gif(encode_gif(frames, delay_ms=200))
    assert len(dec) == 3
    for (d, f), orig in zip(dec, frames):
        assert d == 200 and np.array_equal(f, orig)

    # hand-built 4x4 canvas: frame1 full red; frame2 is a 2x2 blue patch at
    # (1,1) with one transparent pixel; disposal 2 then frame3 green full
    def subblocks(b):
        out = bytearray()
        for i in range(0, len(b), 255):
            out.append(len(b[i:i+255])); out += b[i:i+255]
        out.append(0)
        return bytes(out)
    pal4 = b"\xff\x00\x00" + b"\x00\x00\xff" + b"\x00\xff\x00" + b"\x00\x00\x00"
    g = bytearray(b"GIF89a")
    g += struct.pack("<HHBBB", 4, 4, 0x80 | 1, 3, 0)  # global pal 4, bg=black
    g += pal4
    # frame 1: full canvas red (index 0)
    g += b"\x21\xf9\x04" + struct.pack("<BHB", 0, 5, 0) + b"\x00"
    g += b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 4, 0) + b"\x02"
    g += subblocks(_lzw_encode(2, np.zeros(16, dtype=np.uint8)))
    # frame 2: 2x2 at (1,1), indices [[1,3],[3,1]] with 3 transparent, disposal 2
    g += b"\x21\xf9\x04" + struct.pack("<BHB", (2 << 2) | 1, 5, 3) + b"\x00"
    g += b"\x2c" + struct.pack("<HHHHB", 1, 1, 2, 2, 0) + b"\x02"
    g += subblocks(_lzw_encode(2, np.array([1, 3, 3, 1], dtype=np.uint8)))
    # frame 3: full canvas green, interlaced
    g += b"\x21\xf9\x04" + struct.pack("<BHB", 0, 5, 0) + b"\x00"
    g += b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 4, 0x40) + b"\x02"
    # interlaced storage: rows permuted; for a constant frame it's identical
    g += subblocks(_lzw_encode(2, np.full(16, 2, dtype=np.uint8)))
    g += b"\x3b"
    fr = decode_gif(bytes(g))
    assert len(fr) == 3
    red, blue, green = (np.array(c) for c in
                        ([255, 0, 0], [0, 0, 255], [0, 255, 0]))
    assert np.array_equal(fr[0][1], np.broadcast_to(red, (4, 4, 3)))
    f2 = fr[1][1]
    assert np.array_equal(f2[1, 1], blue) and np.array_equal(f2[2, 2], blue)
    assert np.array_equal(f2[1, 2], red) and np.array_equal(f2[2, 1], red)  # transparent
    assert np.array_equal(fr[2][1], np.broadcast_to(green, (4, 4, 3)))
    # deinterlace permutation is its own correctness check on varied rows
    a = np.arange(9 * 2).reshape(9, 2)
    order = np.concatenate([np.arange(s, 9, t) for s, t in
                            ((0, 8), (4, 8), (2, 4), (1, 2))])
    assert np.array_equal(_deinterlace(a[np.argsort(order)][np.argsort(np.argsort(order))]),
                          _deinterlace(a))


def test_sample_video_frames_gif_end_to_end(spark):
    """GIF payloads flow through the distributed video sampler: frame
    timeline respected, dims surfaced, corrupt rows dropped."""
    from rasterframes_spark.sources.gif import encode_gif

    rng = np.random.default_rng(13)
    pal = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    clips = {}
    rows = []
    for i in range(3):
        frames = [pal[rng.integers(0, 5, (10, 12))] for _ in range(4)]
        clips[i] = frames
        rows.append({"payload": bytearray(encode_gif(frames, delay_ms=250))})
    rows.append({"payload": bytearray(b"definitely not a gif")})
    df = spark.createDataFrame(rows, schema="payload binary")
    media = P.media_table(spark, df, "payload", kind="video", mime="image/gif")
    out = P.sample_video_frames(media, every_ms=250, decode="gif").collect()
    ids = sorted({r["media_id"] for r in out})
    assert len(ids) == 3  # corrupt dropped
    per = {}
    for r in out:
        per.setdefault(r["media_id"], []).append(r)
    for mid, rws in per.items():
        rws.sort(key=lambda r: r["frame_idx"])
        assert len(rws) == 4  # 4 frames x 250ms sampled at 250ms
        orig = clips[ids.index(mid)]
        for j, r in enumerate(rws):
            assert (r["height"], r["width"], r["channels"]) == (10, 12, 3)
            got = np.frombuffer(bytes(r["pixels"]), dtype=np.uint8).reshape(10, 12, 3)
            assert np.array_equal(got, orig[j])


def test_jpeg_codec_roundtrip():
    """Pure-python baseline JPEG: all sampling/restart modes round-trip
    with high PSNR; corrupt/progressive inputs raise."""
    from rasterframes_spark.sources.jpeg import decode_jpeg, encode_jpeg

    def psnr(a, b):
        e = a.astype(float) - b.astype(float)
        return 10 * np.log10(255**2 / max((e**2).mean(), 1e-9))

    yy, xx = np.mgrid[0:70, 0:90]
    smooth = np.clip(128 + 60 * np.sin(xx / 10) + 50 * np.cos(yy / 13),
                     0, 255).astype(np.uint8)
    rgb = np.stack([smooth, smooth[::-1], smooth // 2 + 60], axis=-1)
    for sub in ("444", "422", "420"):
        for ri in (0, 3):
            d = decode_jpeg(encode_jpeg(rgb, quality=90, subsampling=sub,
                                        restart_interval=ri))
            assert d.shape == (70, 90, 3)
            assert psnr(d, rgb) > (40 if sub != "444" else 45)
    g = decode_jpeg(encode_jpeg(smooth, quality=85))
    assert g.shape == (70, 90, 1) and psnr(g[:, :, 0], smooth) > 45
    # constant image is exact
    c = np.full((16, 16), 77, dtype=np.uint8)
    assert (decode_jpeg(encode_jpeg(c))[:, :, 0] == 77).all()
    for bad in (b"", b"\xff\xd8", b"\xff\xd8\xff\xc2\x00\x04\x00\x00",
                b"not a jpeg"):
        with pytest.raises(ValueError):
            decode_jpeg(bad)


def test_decode_image_jpeg_and_auto(spark):
    """decode_image(decode='jpeg'/'auto') runs the real codec distributed;
    auto sniffs mixed PNG/JPEG payloads; corrupt rows drop."""
    from rasterframes_spark.sources.jpeg import encode_jpeg
    from rasterframes_spark.sources.png import encode_png

    rng = np.random.default_rng(17)
    yy, xx = np.mgrid[0:24, 0:32]
    img = np.clip(128 + 80 * np.sin(xx / 7), 0, 255).astype(np.uint8)
    rgb = np.stack([img, img // 2, img[::-1]], axis=-1)
    png_img = rng.integers(0, 256, (10, 11, 3), dtype=np.uint8)
    rows = [{"payload": bytearray(encode_jpeg(rgb, quality=92))},
            {"payload": bytearray(encode_png(png_img))},
            {"payload": bytearray(b"garbage bytes here")}]
    df = spark.createDataFrame(rows, schema="payload binary")
    media = P.media_table(spark, df, "payload", kind="image")
    out = P.decode_image(media, decode="auto").collect()
    assert len(out) == 2  # garbage dropped
    by_shape = {(r["height"], r["width"]): r for r in out}
    assert (24, 32) in by_shape and (10, 11) in by_shape
    # png is lossless through auto
    got_png = np.frombuffer(bytes(by_shape[(10, 11)]["pixels"]),
                            dtype=np.uint8).reshape(10, 11, 3)
    assert np.array_equal(got_png, png_img)
    # jpeg decodes close to the original
    got_jpg = np.frombuffer(bytes(by_shape[(24, 32)]["pixels"]),
                            dtype=np.uint8).reshape(24, 32, 3)
    err = got_jpg.astype(float) - rgb.astype(float)
    assert 10 * np.log10(255**2 / (err**2).mean()) > 35


def test_dedup_clusters(spark):
    """Transitive closure over pair graph: chains collapse to min-id
    clusters; disjoint pairs stay separate; singletons absent."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 5), (7, 9), (4, 1)], "id_a long, id_b long")
    out = sorted(tuple(r) for r in P.dedup_clusters(pairs).collect())
    assert out == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (7, 7), (9, 7)]
    # canonical-doc selection pattern: one keeper per cluster
    keep = P.dedup_clusters(pairs).where("id = cluster_id")
    assert {r["id"] for r in keep.collect()} == {1, 7}


def test_dedup_clusters_raises_on_nonconvergence(spark):
    """A chain longer than max_iter rounds must raise, not return
    partially-propagated (wrong) labels."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        P.dedup_clusters(chain, max_iter=2)
    ok = P.dedup_clusters(chain, max_iter=15)
    assert {r["cluster_id"] for r in ok.collect()} == {0}


def test_quantize_embeddings_roundtrip_and_recall(spark, emb):
    """int8 quantization: error bound |x - deq| <= scale/2 per element;
    cosine top-k over dequantized vectors keeps recall@10 >= 0.9 vs
    exact; quantized payload is ~8x smaller than the float64 arrays."""
    import numpy as np

    q = P.quantize_embeddings(emb, "embedding", out_col="qe")
    both = q.select("vec_id", "embedding", "qe",
                    P.dequantize_embedding("qe").alias("deq")).collect()
    assert len(both) > 0
    for r in both:
        x = np.asarray(r["embedding"], dtype="float64")
        d = np.asarray(r["deq"], dtype="float64")
        scale = r["qe"]["scale"]
        assert len(r["qe"]["q"]) == len(x)          # 1 byte per element
        assert np.all(np.abs(x - d) <= scale / 2 + 1e-12)

    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"),
                                  "embedding")
    exact = P.cosine_topk(emb, queries, k=10).collect()
    deq_corpus = q.select("vec_id",
                          P.dequantize_embedding("qe").alias("embedding"))
    approx = P.cosine_topk(deq_corpus, queries, k=10).collect()
    ex = {}
    ap = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(ex[qid] & ap[qid]) / len(ex[qid]) for qid in ex]
    assert sum(recalls) / len(recalls) >= 0.9


def test_quantize_zero_and_null_vectors(spark):
    rows = [(1, [0.0, 0.0, 0.0]), (2, None), (3, [1.0, -2.0, 0.5])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r for r in
           P.quantize_embeddings(df).select(
               "vec_id", "embedding",
               P.dequantize_embedding("embedding").alias("d")).collect()}
    assert out[1]["embedding"]["scale"] == 0.0
    assert out[1]["d"] == [0.0, 0.0, 0.0]
    e2 = out[2]["embedding"]
    assert e2 is None or (e2["scale"] is None and e2["q"] is None)
    assert out[2]["d"] is None
    import numpy as np
    np.testing.assert_allclose(out[3]["d"], [1.0, -2.0, 0.5], atol=2.0 / 127)


def test_hashing_embedding(spark, docs):
    """Hashing-trick embeddings: deterministic, unit-norm, similar texts
    land closer than dissimilar ones, and the column composes with the
    similarity stack."""
    import numpy as np

    d = docs.limit(50).select("doc_id", "text")
    e1 = {r["doc_id"]: np.array(r["e"]) for r in
          d.select("doc_id", P.hashing_embedding("text", dim=64)
                   .alias("e")).collect()}
    e2 = {r["doc_id"]: np.array(r["e"]) for r in
          d.repartition(7).select("doc_id",
                                  P.hashing_embedding("text", dim=64)
                                  .alias("e")).collect()}
    for k in e1:
        np.testing.assert_allclose(e1[k], e2[k])   # deterministic
        assert abs(np.linalg.norm(e1[k]) - 1.0) < 1e-9
    # a near-copy embeds closer than an unrelated doc
    rows = d.limit(2).collect()
    base, other = rows[0]["text"], rows[1]["text"]
    near = base + " zzzz"
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, other)], ["id", "t"])
    es = {r["id"]: np.array(r["e"]) for r in
          df.select("id", P.hashing_embedding("t", dim=64).alias("e"))
          .collect()}
    assert es[0] @ es[1] > es[0] @ es[2]
    # composes with cosine_topk
    emb_df = d.select(F.col("doc_id").alias("vec_id"),
                      P.hashing_embedding("text", 64).alias("embedding"))
    q = emb_df.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    top = P.cosine_topk(emb_df, q, k=3).collect()
    best = {r["query_id"]: r["neighbor_id"] for r in top if r["rank"] == 1}
    assert all(q_ == n for q_, n in best.items())  # self is nearest


def test_resize_image_bilinear(spark):
    """Bilinear resize (default) vs a direct numpy oracle; nearest stays
    exact-gather; identity size is lossless for both."""
    import numpy as np

    rng = np.random.default_rng(4)
    arr = rng.integers(0, 256, (6, 6, 3)).astype("uint8")
    df = spark.createDataFrame(
        [(1, 6, 6, 3, bytearray(arr.tobytes()))],
        "media_id long, height int, width int, channels int, pixels binary")
    ident = P.resize_image(df, 6, 6).collect()[0]
    np.testing.assert_array_equal(
        np.frombuffer(bytes(ident["pixels"]), dtype="uint8").reshape(6, 6, 3),
        arr)
    up = P.resize_image(df, 12, 12).collect()[0]
    got = np.frombuffer(bytes(up["pixels"]), dtype="uint8").reshape(12, 12, 3)
    # oracle: same center-aligned bilinear
    y = (np.arange(12) + 0.5) * 6 / 12 - 0.5
    x = y.copy()
    y0 = np.clip(np.floor(y).astype(int), 0, 5); y1 = np.clip(y0 + 1, 0, 5)
    x0 = np.clip(np.floor(x).astype(int), 0, 5); x1 = np.clip(x0 + 1, 0, 5)
    wy = np.clip(y - y0, 0, 1)[:, None, None]
    wx = np.clip(x - x0, 0, 1)[None, :, None]
    f = arr.astype("float64")
    exp = np.clip(np.round(
        f[np.ix_(y0, x0)] * (1 - wx) * (1 - wy)
        + f[np.ix_(y0, x1)] * wx * (1 - wy)
        + f[np.ix_(y1, x0)] * (1 - wx) * wy
        + f[np.ix_(y1, x1)] * wx * wy), 0, 255).astype("uint8")
    np.testing.assert_array_equal(got, exp)
    near = P.resize_image(df, 3, 3, method="nearest").collect()[0]
    got_n = np.frombuffer(bytes(near["pixels"]), dtype="uint8").reshape(3, 3, 3)
    np.testing.assert_array_equal(got_n, arr[::2, ::2])
    with pytest.raises(ValueError):
        P.resize_image(df, 3, 3, method="lanczos")


def test_exact_substring_dedup(spark):
    """Token-aligned exact-substring dedup: planted shared spans of
    >= n tokens are found regardless of position (word alignment is
    content-defined); a python oracle over the same gram scheme pins
    exact semantics; winnowing keeps the deterministic >= n+s-1-token
    guarantee with ~2/s of the fingerprints; hot boilerplate grams cap
    pair enumeration but still flag."""
    import random

    rng = random.Random(9)
    N = 8  # gram length in tokens

    def rand_text(k):
        return " ".join(rng.choice("abcdefghij") + str(rng.randrange(100))
                        for _ in range(k))

    span = rand_text(N + 3)       # > N tokens: guaranteed detectable
    boiler = rand_text(N)         # hot gram shared by MANY docs
    rows = []
    for i in range(20):
        rows.append((i, rand_text(30)))                        # unique
    rows.append((100, rand_text(7) + " " + span + " " + rand_text(9)))
    rows.append((101, rand_text(13) + " " + span + " " + rand_text(3)))
    for i in range(10):                                        # boilerplate
        rows.append((200 + i, boiler + " " + rand_text(12)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    flagged = {r["doc_id"]: r["has_repeated_span"]
               for r in P.flag_repeated_spans(docs, n=N).collect()}

    # python oracle: same token grams, string equality instead of hashes
    def grams(t):
        toks = t.split()
        return {" ".join(toks[i:i + N])
                for i in range(len(toks) - N + 1)} if len(toks) >= N else set()

    from collections import Counter
    cnt = Counter()
    per_doc = {i: grams(t) for i, t in rows}
    for gs in per_doc.values():
        cnt.update(gs)
    expect = {i: any(cnt[g] >= 2 for g in gs) for i, gs in per_doc.items()}
    assert flagged == expect
    assert flagged[100] and flagged[101]             # planted pair found
    assert all(flagged[200 + i] for i in range(10))  # boilerplate flagged

    pairs = {(r["id_a"], r["id_b"]): r["shared_grams"]
             for r in P.exact_substring_pairs(
                 docs, n=N, max_docs_per_gram=4).collect()}
    assert (100, 101) in pairs and pairs[(100, 101)] >= 1
    # the 10-doc boilerplate gram exceeds max_docs_per_gram=4:
    # no pair enumeration from it
    assert not any(a >= 200 and b >= 200 for a, b in pairs)

    # winnowing: span is longer than N + s - 1 tokens for s=3, so the
    # planted pair must STILL be found with ~1/3 of the fingerprints
    wf = {r["doc_id"]: r["has_repeated_span"]
          for r in P.flag_repeated_spans(docs, n=N, winnow_stride=3)
          .collect()}
    assert wf[100] and wf[101]
    # winnowed selection is a subset: nothing unflagged becomes flagged
    assert all(flagged[i] for i, v in wf.items() if v)
    import pyspark.sql.functions as SF
    full = docs.select(SF.explode(
        P.token_gram_hashes("text", N)).alias("h"))
    thin = docs.select(SF.explode(
        P.token_gram_hashes("text", N, winnow_stride=3)).alias("h"))
    n_full, n_thin = full.count(), thin.count()
    assert n_thin < n_full  # actually thinner
    assert set(r["h"] for r in thin.collect()) <= \
        set(r["h"] for r in full.collect())


def test_exact_substring_hot_gram_cache(spark, docs):
    """r15: the hot-gram table is cached (the alias self-join otherwise
    rebuilds its frequency aggregate twice — two broadcast subtrees, no
    ReusedExchange) and released by the same _rf_cached_inputs handle as
    the fingerprint table; results identical to the collected pairs."""
    from rasterframes_spark import release_cache

    both = docs.select("doc_id", "text").limit(40)
    out = P.exact_substring_pairs(both, "doc_id", "text", n=8)
    got = sorted((r["id_a"], r["id_b"], r["shared_grams"])
                 for r in out.collect())
    cached = out._rf_cached_inputs
    assert len(cached) == 2  # (fingerprint table, hot-gram table)
    assert all(df.is_cached for df in cached)
    assert release_cache(out)
    assert all(not df.is_cached for df in cached)
    assert out._rf_cached_inputs is None
    # recompute after release: still correct, values unchanged
    out2 = P.exact_substring_pairs(both, "doc_id", "text", n=8)
    got2 = sorted((r["id_a"], r["id_b"], r["shared_grams"])
                  for r in out2.collect())
    release_cache(out2)
    assert got == got2


def test_image_phash_neardup(spark):
    """DCT pHash image dedup: re-encoded / resized / lightly-noised
    copies of a picture pair within max_hamming; distinct pictures do
    not; Spark values match the local numpy oracle bit-for-bit."""
    import numpy as np

    from rasterframes_spark.pipeline.multimodal import (
        decode_image, image_neardup_pairs, image_phash, phash_bits)
    from rasterframes_spark.sources.png import encode_png

    rng = np.random.default_rng(3)
    yy, xx = np.mgrid[0:64, 0:64]

    def blobs(seed, n=6):
        # natural-image stand-in: smooth Gaussian blobs (a modular ramp
        # or pure noise concentrates DCT energy pathologically — most
        # low-freq coeffs tie at the median and the hash bits are
        # unstable, which is not the workload pHash is for)
        r = np.random.default_rng(seed)
        img = np.zeros((64, 64))
        for _ in range(n):
            cy, cx = r.uniform(0, 64), r.uniform(0, 64)
            s, a = r.uniform(5, 15), r.uniform(50, 255)
            img += a * np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2)
                              / (2 * s * s))
        img = np.clip(img, 0, 255).astype("uint8")
        return np.stack([img, 255 - img, img // 2], axis=-1)

    base_a, base_b = blobs(1), blobs(2)
    # variants of A: brightness shift, light noise, 2x upscale
    a_bright = np.clip(base_a.astype(int) + 12, 0, 255).astype("uint8")
    a_noise = np.clip(base_a.astype(int)
                      + rng.integers(-6, 7, base_a.shape), 0, 255
                      ).astype("uint8")
    a_big = np.repeat(np.repeat(base_a, 2, axis=0), 2, axis=1)
    imgs = {0: base_a, 1: a_bright, 2: a_noise, 3: a_big, 10: base_b}
    df = spark.createDataFrame(
        [(k, bytearray(encode_png(v))) for k, v in imgs.items()],
        "media_id long, payload binary")
    dec = decode_image(df, decode="png")

    got = {r["media_id"]: r["phash"] for r in image_phash(dec).collect()}
    for k, v in imgs.items():
        assert got[k] == phash_bits(v), k  # spark == local numpy oracle

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_neardup_pairs(dec, max_hamming=10).collect()}
    for v in (1, 2, 3):  # all variants pair with the original
        key = (0, v)
        assert key in pairs and pairs[key] == ham(got[0], got[v]) <= 10
    assert not any(10 in k for k in pairs)  # unrelated image stays out


def test_corpus_stats_vs_duckdb(spark):
    """One-pass corpus profiler vs DuckDB on the same parquet: exact
    fields match exactly; sketch quantiles within the GK error band."""
    import duckdb

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = P.corpus_stats(docs)

    con = duckdb.connect()
    con.sql("create view documents as select * from "
            "'/root/testdata/sf0.001/documents.parquet'")
    exp = con.sql("""
        select count(*) as n,
               sum(len(string_split(text,' '))) as tt,
               avg(len(string_split(text,' '))) as mt,
               count(distinct text) as nd,
               count(distinct source) as ns,
               quantile_cont(len(string_split(text,' ')), 0.5) as p50
        from documents""").df().iloc[0]
    assert got["n_docs"] == int(exp["n"])
    assert got["total_tokens"] == int(exp["tt"])
    assert abs(got["mean_tokens"] - float(exp["mt"])) < 1e-9
    assert abs(got["exact_dup_rate"]
               - (1.0 - int(exp["nd"]) / int(exp["n"]))) < 1e-12
    assert got["n_sources"] == int(exp["ns"])
    assert abs(got["p50_tokens"] - float(exp["p50"])) <= 2  # sketch band
    assert sum(got["languages"].values()) == got["n_docs"]


def test_corpus_stats_null_texts_not_duplicates(spark):
    """Null-text docs must not count as duplicates of each other: the dup
    rate compares distinct non-null texts against the NON-NULL doc count
    (previously 100 nulls among 900 distinct docs reported 10% dup)."""
    rows = ([(i, f"unique text {i}", "s") for i in range(90)]
            + [(100 + i, None, "s") for i in range(10)])
    docs = spark.createDataFrame(rows, "doc_id int, text string, source string")
    got = P.corpus_stats(docs)
    assert got["n_docs"] == 100
    assert got["n_null_texts"] == 10
    assert got["exact_dup_rate"] == 0.0
    # real duplicates still counted against the non-null denominator
    docs2 = docs.unionByName(spark.createDataFrame(
        [(500, "unique text 0", "s")], "doc_id int, text string, source string"))
    got2 = P.corpus_stats(docs2)
    assert abs(got2["exact_dup_rate"] - (1.0 - 90 / 91)) < 1e-12


def test_cosine_topk_zero_norm_and_prune_agreement(spark, emb):
    """Both cosine_topk methods must agree on a corpus containing
    zero-norm vectors (previously matmul's NaN sorted FIRST under desc
    and took rank 1 everywhere while sql's NULL sorted last); the
    per-batch top-k prune keeps exactness incl. low-batch-count edge."""
    from pyspark.sql import Row

    dim = len(emb.select("embedding").head()["embedding"])
    corpus = emb.limit(40).unionByName(spark.createDataFrame(
        [Row(vec_id=99991, embedding=[0.0] * dim, label=0),
         Row(vec_id=99992, embedding=None, label=0)],
        emb.schema))
    queries = (emb.orderBy("vec_id").limit(3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))

    def res(method):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
            for r in P.cosine_topk(corpus, queries, k=5,
                                   method=method).collect())

    mm, sql = res("matmul"), res("sql")
    assert mm == sql
    assert not any(n in (99991, 99992) for _, _, n, _ in mm)
    assert len(mm) == 15  # 3 queries x k=5, zero/null rows excluded


def test_minhash_bands_guard(spark, docs):
    """bands must divide num_perm — a remainder silently degraded recall
    and bands > num_perm collapsed every bucket (all-pairs blowup)."""
    with pytest.raises(ValueError, match="divide num_perm"):
        P.minhash_dedup_pairs(docs, "doc_id", "text", num_perm=32, bands=10)
    with pytest.raises(ValueError, match="divide num_perm"):
        P.minhash_dedup_pairs(docs, "doc_id", "text", num_perm=32, bands=64)


def test_png_adam7_interlace_decode():
    """Hand-build an Adam7 stream straight from the spec grid (7
    independently-filtered sub-images, filter 0 rows) — the decoder must
    reproduce the source image exactly, for sizes exercising empty and
    partial passes."""
    import struct
    import zlib

    from rasterframes_spark.sources.png import decode_png, encode_png

    ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
             (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

    def chunk(tag, payload):
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)))

    def make_interlaced(img):
        h, w, ch = img.shape
        ctype = {1: 0, 3: 2, 4: 6}[ch]
        raw = bytearray()
        for x0, y0, dx, dy in ADAM7:
            sub = img[y0::dy, x0::dx, :]
            if sub.size == 0:
                continue
            for row in sub:
                raw.append(0)                      # filter type None
                raw += row.tobytes()
        out = bytearray(b"\x89PNG\r\n\x1a\n")
        out += chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype,
                                          0, 0, 1))
        out += chunk(b"IDAT", zlib.compress(bytes(raw)))
        out += chunk(b"IEND", b"")
        return bytes(out)

    # the pass grid must tile the plane exactly once (validates the
    # transcribed spec table itself, not just round-trip consistency)
    cover = np.zeros((16, 16), dtype=int)
    for x0, y0, dx, dy in ADAM7:
        cover[y0::dy, x0::dx] += 1
    assert (cover == 1).all()

    rng = np.random.default_rng(13)
    for h, w, ch in [(1, 1, 1), (3, 5, 3), (8, 8, 3), (17, 13, 1),
                     (33, 41, 4), (2, 9, 3), (9, 2, 3)]:
        img = rng.integers(0, 256, (h, w, ch)).astype(np.uint8)
        got = decode_png(make_interlaced(img))
        exp = img[:, :, 0] if ch == 1 else img
        np.testing.assert_array_equal(got, exp)

    # non-interlaced output of our own encoder is unaffected
    img = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    np.testing.assert_array_equal(decode_png(encode_png(img)), img)


def test_remove_repeated_spans(spark):
    """Lee et al. span REMOVAL: every token covered by a cross-doc
    duplicated n-gram is cut, keep-first leaves the min-id holder
    intact; verified against a python brute force on a planted corpus
    (overlapping flagged grams extend the cut — e.g. a shared span plus
    a shared suffix gram removes the union of their covers)."""
    from rasterframes_spark.pipeline.dedup import remove_repeated_spans

    span = "alpha beta gamma delta"
    rows = [
        (1, f"start one {span} end one"),
        (2, f"start two {span} end two"),
        (3, "unique text with no duplicate span at all"),
        (4, f"{span} leading and also trailing {span}"),
    ]
    n = 4

    def brute(keep_first):
        toks = {i: t.split(" ") for i, t in rows}
        holders = {}
        for i, tk in toks.items():
            for p in range(len(tk) - n + 1):
                holders.setdefault(tuple(tk[p:p + n]), []).append((i, p))
        out = {}
        for i, tk in toks.items():
            cut = set()
            for g, occ in holders.items():
                if len({d for d, _ in occ}) < 2:
                    continue
                keep = min(d for d, _ in occ)
                for d, p in occ:
                    if d == i and (not keep_first or d != keep):
                        cut.update(range(p, p + n))
            out[i] = " ".join(t for j, t in enumerate(tk) if j not in cut)
        return out

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for kf in (True, False):
        got = {r.doc_id: r.text for r in remove_repeated_spans(
            df, n=n, min_docs=2, keep_first=kf).collect()}
        assert got == brute(kf), kf
    # out_col keeps the original text column
    r2 = {r.doc_id: r for r in remove_repeated_spans(
        df, n=n, min_docs=2, out_col="clean").collect()}
    assert r2[2].text == rows[1][1] and r2[2].clean == brute(True)[2]
    # duplicate ids are rejected (the rebuild joins on the id)
    with pytest.raises(ValueError, match="unique"):
        remove_repeated_spans(df.unionByName(df), n=n).collect()
    # randomized parity against the brute force
    rng = np.random.default_rng(23)
    words = ["w%d" % i for i in range(30)]
    rnd = []
    shared = " ".join(words[:6])
    for i in range(12):
        body = " ".join(rng.choice(words, rng.integers(5, 25)))
        if i % 3 == 0:
            body = f"{body} {shared}"
        rnd.append((i, body))
    rows = rnd
    df2 = spark.createDataFrame(rnd, ["doc_id", "text"])
    got = {r.doc_id: r.text for r in remove_repeated_spans(
        df2, n=5, min_docs=2).collect()}
    n = 5
    assert got == brute(True)


def test_repeated_spans_rebuild_join_is_broadcast_pinned(spark):
    """VERDICT r9 #4: the rebuild join of remove_repeated_spans (and
    the flag join of flag_repeated_spans) must BROADCAST the small
    affected-docs side even when stats estimates would pick sort-merge
    — otherwise a conservative estimate at real scale shuffles the
    entire corpus text. autoBroadcastJoinThreshold is forced to -1 so
    only the explicit F.broadcast() pin can produce the broadcast plan
    (the negative control proves the knob is what does it)."""
    from rasterframes_spark.pipeline.dedup import (flag_repeated_spans,
                                                   remove_repeated_spans)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def plan_of(df):
            return df._jdf.queryExecution().executedPlan().toString()

        # the gram-census join (keyed on the 8-byte hash __w) is the
        # operator's one INTENDED sort-merge shuffle; the scale killer
        # would be an Exchange of the docs payload on its id — assert
        # that never appears, and that the payload join is broadcast
        for op in (remove_repeated_spans, flag_repeated_spans):
            plan = plan_of(op(docs, n=8))
            assert "BroadcastHashJoin" in plan, op.__name__
            assert "hashpartitioning(doc_id" not in plan, op.__name__
        # negative control: with the pin off and broadcast estimation
        # disabled, the payload join degrades to sort-merge and the
        # corpus shuffles on doc_id — proving the explicit pin (not
        # stats) is what keeps the corpus unshuffled
        plan = plan_of(remove_repeated_spans(
            docs, n=8, broadcast_starts=False, assume_unique_ids=True))
        assert "hashpartitioning(doc_id" in plan
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _brute_line_dedup(rows, min_docs, keep_first, sep="\n"):
    """Python reference for remove_duplicated_lines."""
    occ = {}
    for i, t in rows:
        if t is None:
            continue
        for ln in set(t.split(sep)):
            if ln.strip(" \t\n\r\x0b\x0c"):  # the Java \s class
                occ.setdefault(ln, set()).add(i)
    hot = {ln: min(ids) for ln, ids in occ.items() if len(ids) >= min_docs}
    out = {}
    for i, t in rows:
        if t is None:
            out[i] = None
            continue
        out[i] = sep.join(
            ln for ln in t.split(sep)
            if ln not in hot or (keep_first and hot[ln] == i))
    return out


@pytest.mark.parametrize("keep_first", [True, False])
def test_remove_duplicated_lines_matches_brute_force(spark, keep_first):
    rng = np.random.default_rng(11)
    boiler = [f"nav home about {k}" for k in range(4)]
    rows = []
    for i in range(60):
        lines = [f"unique {i} body {rng.integers(1000)}"]
        if i % 2 == 0:
            lines.append(boiler[i % 4])      # shared across ~15 docs each
        if i % 7 == 0:
            lines.append("")                  # empty line: structure kept
        lines.append(f"tail {i}")
        if i % 9 == 0:
            lines.append(boiler[0])           # second copy in same doc
        rng.shuffle(lines)
        rows.append((i, "\n".join(lines)))
    rows.append((999, None))                  # null text stays null
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in P.remove_duplicated_lines(
               df, min_docs=2, keep_first=keep_first).collect()}
    want = _brute_line_dedup(rows, 2, keep_first)
    assert got == want
    # the pipeline is pure Catalyst — no Python-worker stage
    plan = P.remove_duplicated_lines(
        df, min_docs=2, keep_first=keep_first)._jdf \
        .queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_remove_duplicated_lines_edges(spark):
    df = spark.createDataFrame(
        [(1, "same\nsame2"), (2, "same\nsame2"), (3, "")],
        "doc_id long, text string")
    # keep_first=False: both copies cut -> empty strings
    got = {r["doc_id"]: r["text"]
           for r in P.remove_duplicated_lines(
               df, keep_first=False).collect()}
    assert got == {1: "", 2: "", 3: ""}
    # keep_first=True: doc 1 (min id) keeps everything
    got = {r["doc_id"]: r["text"]
           for r in P.remove_duplicated_lines(
               df, keep_first=True).collect()}
    assert got == {1: "same\nsame2", 2: "", 3: ""}
    # out_col leaves text in place; other columns survive
    out = P.remove_duplicated_lines(
        df.withColumn("src", F.lit("a")), keep_first=True,
        out_col="clean").collect()
    assert {"doc_id", "text", "src", "clean"} == set(out[0].asDict())
    # duplicate ids refuse
    dup = spark.createDataFrame([(1, "x"), (1, "y")],
                                "doc_id long, text string")
    with pytest.raises(ValueError, match="unique"):
        P.remove_duplicated_lines(dup)


def test_remove_duplicated_lines_whitespace_only_exempt(spark):
    """ADVICE r13: whitespace-only lines are structure, not content —
    a two-space separator line repeated across every doc must survive
    (the old byte-empty-only exemption silently collapsed it)."""
    df = spark.createDataFrame(
        [(1, "own a\n  \nshared boiler\n  \nown b"),
         (2, "shared boiler\n  \nother body")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in P.remove_duplicated_lines(
               df, keep_first=False).collect()}
    assert got == {1: "own a\n  \n  \nown b", 2: "  \nother body"}
    # r14 review: tab-only and CR-only lines are structure too (F.trim
    # strips only spaces — the census uses the \s class); a CRLF corpus
    # split on '\n' leaves '\r' on every blank line
    df2 = spark.createDataFrame(
        [(1, "own a\r\nshared line\r\n\r\nown b"),
         (2, "shared line\r\n\r\nother")], "doc_id long, text string")
    got2 = {r["doc_id"]: r["text"]
            for r in P.remove_duplicated_lines(
                df2, keep_first=False).collect()}
    # split on \n: lines end with \r; the blank '\r' line must survive
    assert got2 == {1: "own a\r\n\r\nown b", 2: "\r\nother"}
    df3 = spark.createDataFrame(
        [(1, "x\n\t\nshared t\n\t\ny"), (2, "shared t\n\t\nz")],
        "doc_id long, text string")
    got3 = {r["doc_id"]: r["text"]
            for r in P.remove_duplicated_lines(
                df3, keep_first=False).collect()}
    assert got3 == {1: "x\n\t\n\t\ny", 2: "\t\nz"}


def test_remove_duplicated_lines_literal_sep(spark):
    """VERDICT r13 #7b: sep is literal on BOTH sides — a regex
    metacharacter separator ('.') round-trips instead of splitting on
    every character, and an embedded \\E survives the \\Q quoting."""
    df = spark.createDataFrame(
        [(1, "keep me.shared sentence.also mine"),
         (2, "shared sentence.other tail")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in P.remove_duplicated_lines(
               df, sep=".", keep_first=False).collect()}
    assert got == {1: "keep me.also mine", 2: "other tail"}
    # pathological separator containing \E must not break the quoting
    df2 = spark.createDataFrame(
        [(1, "a\\Eshared\\Eb"), (2, "shared\\Ec")],
        "doc_id long, text string")
    got2 = {r["doc_id"]: r["text"]
            for r in P.remove_duplicated_lines(
                df2, sep="\\E", keep_first=False).collect()}
    # split on literal \E -> [a, shared, b]; 'shared' cut; one sep back
    assert got2 == {1: "a\\Eb", 2: "c"}


def test_remove_duplicated_lines_unique_probe_single_job(spark):
    """VERDICT r13 #7a: the uniqueness guard is ONE short-circuiting
    action (groupBy.count.where>1.take(1)), not count +
    distinct-count.  Job counts include AQE's shuffle-materialization
    jobs, so compare against the old two-action pattern directly."""
    df = spark.createDataFrame([(1, "x"), (2, "y")],
                               "doc_id long, text string")
    tracker = spark.sparkContext.statusTracker()

    def jobs():
        return len(tracker.getJobIdsForGroup() or [])

    j0 = jobs()
    P.remove_duplicated_lines(df)  # plan build triggers only the probe
    probe_jobs = jobs() - j0
    j1 = jobs()
    ids = df.select("doc_id")
    ids.count(), ids.distinct().count()  # the r13 two-action form
    old_jobs = jobs() - j1
    assert probe_jobs < old_jobs


def test_remove_duplicated_lines_paragraph_mode(spark):
    """sep is the unit boundary: with a paragraph separator the same
    operator dedupes PARAGRAPHS (Dolma-style) — and the separator is
    re-joined literally, so round-tripping preserves structure."""
    shared = "shared paragraph of boilerplate"
    df = spark.createDataFrame(
        [(1, f"own one\n\n{shared}\n\nown two"),
         (2, f"{shared}\n\ndifferent body")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in P.remove_duplicated_lines(
               df, sep="\n\n", keep_first=False).collect()}
    assert got == {1: "own one\n\nown two", 2: "different body"}
    # single-newline lines inside a paragraph are untouched content
    df2 = spark.createDataFrame(
        [(1, "a\nb\n\nc"), (2, "a\nb\n\nd")], "doc_id long, text string")
    got2 = {r["doc_id"]: r["text"]
            for r in P.remove_duplicated_lines(
                df2, sep="\n\n", keep_first=False).collect()}
    assert got2 == {1: "c", 2: "d"}


def test_scan_row_bound_and_sized_spread(spark, docs):
    """r15 (VERDICT r14 #2): spread(rows="bound") sizes census spreads
    from a FREE row bound (parquet footers / Catalyst rowCount), no
    Spark job — so a tiny fixture gets ceil(rows/rows_per_task)
    partitions instead of fanning to the 32-way cap, while unknown
    shapes still fall back to the cap and large inputs no-op."""
    from rasterframes_spark.pipeline.skew import _scan_row_bound, spread

    n = docs.count()
    # file scan under narrow ops: footer bound == row count; filters
    # only shrink rows, so the bound stays a valid upper bound
    assert _scan_row_bound(docs) == n
    assert _scan_row_bound(docs.select("doc_id", "text")
                           .where(F.col("doc_id") >= 0)) == n
    # materialized cache: Catalyst rowCount (exact)
    c = docs.select("doc_id").cache()
    c.count()
    assert _scan_row_bound(c) == n
    c.unpersist()
    # row-multiplying / opaque shapes: no bound
    assert _scan_row_bound(
        docs.select(F.explode(F.split("text", " ")))) is None
    assert _scan_row_bound(docs.groupBy("source").count()) is None

    sized = spread(docs.select("doc_id", "text"),
                   rows="bound", rows_per_task=500)
    # r15 (VERDICT r14 #5/#6): the EXACT free count behind the ANN /
    # semantic_dedup sample sizing — value-identical to .count() where
    # provable, None (never a guess) where not
    from rasterframes_spark.pipeline.skew import _scan_row_count_exact

    assert _scan_row_count_exact(docs) == n
    assert _scan_row_count_exact(docs.select("doc_id", "text")) == n
    # Filter disqualifies EXACT (it only shrinks, so the bound helper
    # still accepts it — the exact helper must not)
    assert _scan_row_count_exact(docs.where(F.col("doc_id") > 5)) is None
    assert _scan_row_count_exact(
        docs.select(F.explode(F.split("text", " ")))) is None
    c2 = docs.select("doc_id").cache()
    c2.count()
    assert _scan_row_count_exact(c2) == n
    c2.unpersist()
    assert sized.rdd.getNumPartitions() == max(
        2, min(spark.sparkContext.defaultParallelism, -(-n // 500)))
    # value identity through the sized census path
    a = P.remove_repeated_spans(docs, n=8, assume_unique_ids=True) \
        .orderBy("doc_id").collect()
    b = P.remove_repeated_spans(
        docs.repartition(spark.sparkContext.defaultParallelism), n=8,
        assume_unique_ids=True).orderBy("doc_id").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_ann_corpus_kernels_single_eval(spark, emb):
    """r15 (§4.4): the corpus-side bucketing kernels (IVF centroid
    assignment, LSH hyperplane bucket, semantic_dedup assignment)
    evaluate exactly ONCE over the corpus — the bucket equi-join's
    inferred isnotnull (resp. the sem_list >= 0 filter) otherwise
    pushes below the projection and duplicates the matmul.  Plan-
    asserted per operator; semantic_dedup results pinned against the
    same call's kept-count invariants."""
    q = emb.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    cents = np.eye(8, 64)

    # one eval per side: the corpus (single-eval form) and the queries
    ivf = P.ivf_ann_topk(emb, q, k=5, n_lists=8, n_probe=2, centroids=cents)
    plan = ivf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("_ivf_list_udf") == 2, plan

    lsh = P.lsh_ann_topk(emb, q, k=5, n_planes=4, dim=64)
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert plan.count("_lsh_bucket_udf") == 2, plan

    sd = P.semantic_dedup(emb, "vec_id", n_clusters=8, threshold=0.97,
                          pairs_method="blas", centroids=cents)
    rows = sd.collect()
    ids = {r["vec_id"] for r in rows}
    assert len(rows) == len(ids) == emb.count()
    # exactly one kept doc per duplicate group
    from collections import Counter
    kept_per_group = Counter(r["sem_cluster"] for r in rows if r["kept"])
    groups = Counter(r["sem_cluster"] for r in rows)
    assert set(kept_per_group) == set(groups)
    assert all(v == 1 for v in kept_per_group.values())
