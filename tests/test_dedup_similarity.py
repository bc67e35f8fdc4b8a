"""Unit tests: dedup family (exact / MinHash-LSH / SimHash / Jaccard),
similarity search (brute-force + LSH ANN), multimodal plumbing.

Golden values are computed by slow, obviously-correct pure-Python twins
inside the tests (same md5 hashing, same shingling contract)."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from datacanary_spark.operators import dedup as dd
from datacanary_spark.operators import multimodal as mm
from datacanary_spark.operators import similarity as sim

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again"),
    (1, "the quick brown fox jumps over the lazy dog again and again!"),  # near-dup of 0
    (2, "completely different content about spark physical plans and shuffles"),
    (3, "the quick brown fox jumps over the lazy dog again and again"),   # exact dup of 0
    (4, ""),                                                               # empty
    (5, "short"),                                                          # < shingle size
]


def py_norm(t: str) -> str:
    import re
    return re.sub(r"\s+", " ", t).lower()


def py_shingles(t: str, k: int = 5) -> set[str]:
    n = py_norm(t)
    if len(n) >= k:
        return {n[i:i + k] for i in range(len(n) - k + 1)}
    return {n} if n else set()


def py_minhash(sh: set[str], n_hashes: int = 16) -> list[str]:
    return [min(hashlib.md5(f"{s}:{x}".encode()).hexdigest() for x in sh)
            if sh else None for s in range(n_hashes)]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id: long, text: string")


def test_char_shingles_matches_python(spark, docs_df):
    rows = docs_df.select(
        "doc_id", dd.char_shingles(F.col("text")).alias("sh")).collect()
    for r in rows:
        assert set(r["sh"]) == py_shingles(DOCS[r["doc_id"]][1]), r["doc_id"]


def _expr_nodes(e):
    yield e
    children = e.children()
    for i in range(children.size()):
        yield from _expr_nodes(children.apply(i))


def test_char_shingles_normalizes_outside_lambdas(spark, docs_df):
    """Lambda bodies are outside subexpression elimination: a whitespace
    regex or case-fold inside the shingle lambda re-normalizes the whole
    text at every shingle position, O(length²) per doc."""
    plan = docs_df.select(dd.char_shingles(F.col("text")).alias("sh")) \
        ._jdf.queryExecution().optimizedPlan()
    exprs = plan.expressions()
    nodes = [n for i in range(exprs.size())
             for n in _expr_nodes(exprs.apply(i))]
    lambdas = [n for n in nodes
               if n.getClass().getSimpleName() == "LambdaFunction"]
    assert lambdas
    names = {n.getClass().getSimpleName() for n in nodes}
    assert {"RegExpReplace", "Lower"} <= names
    for lam in lambdas:
        inner = {n.getClass().getSimpleName()
                 for n in _expr_nodes(lam.function())}
        assert not inner & {"RegExpReplace", "Lower"}, lam.toString()


def test_minhash_signature_matches_python(spark, docs_df):
    rows = docs_df.where(F.col("doc_id").isin(0, 1, 2)).select(
        "doc_id",
        dd.minhash_signature(dd.char_shingles(F.col("text")), 8).alias("sig"),
    ).collect()
    for r in rows:
        expected = py_minhash(py_shingles(DOCS[r["doc_id"]][1]), 8)
        assert list(r["sig"]) == expected, r["doc_id"]


def test_exact_dedup_keeps_min_id(spark, docs_df):
    surv = dd.dedup_exact(docs_df)
    ids = sorted(r["doc_id"] for r in surv.collect())
    assert ids == [0, 1, 2, 4, 5]  # 3 is an exact dup of 0


def test_near_dup_pipeline_finds_planted_pair(spark, docs_df):
    pairs = dd.near_dup_pairs(docs_df, threshold=0.6).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 3) in got            # exact dup: jaccard 1.0
    assert (0, 1) in got and (1, 3) in got  # near-dups
    assert not any(2 in p for p in got)     # unrelated doc never pairs
    j01 = {p[:2]: p[2] for p in
           ((r["id_a"], r["id_b"], r["jaccard"]) for r in pairs)}[(0, 1)]
    a, b = py_shingles(DOCS[0][1]), py_shingles(DOCS[1][1])
    assert j01 == pytest.approx(len(a & b) / len(a | b))


def test_simhash_similar_docs_close(spark, docs_df):
    rows = dict(docs_df.select(
        "doc_id", dd.simhash16(
            F.filter(F.split("text", r"\s+"), lambda w: w != F.lit(""))
        ).alias("sh")).collect())
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(rows[0], rows[3]) == 0          # identical docs
    assert ham(rows[0], rows[1]) <= 4          # near-dup: few bits differ
    assert ham(rows[0], rows[2]) >= 4          # different doc: many bits


def test_simhash16_matches_python_golden(spark, docs_df):
    """Exact bit-for-bit pin of the SQL simhash16 against an
    independent pure-Python twin (guards the single-pass array-
    accumulator refactor and any future expression rewrite)."""
    got = dict(docs_df.select(
        "doc_id", dd.simhash16(
            F.filter(F.split("text", r"\s+"), lambda w: w != F.lit(""))
        ).alias("sh")).collect())

    def py_simhash16(t):
        import re
        toks = [w for w in re.split(r"\s+", t or "") if w]
        votes = [0] * 16
        for w in toks:
            hx = hashlib.md5(w.encode()).hexdigest()
            for i in range(16):
                votes[i] += 1 if hx[i] in "89abcdef" else -1
        return sum((1 << i) for i in range(16) if votes[i] > 0)

    for i, t in DOCS:
        assert got[i] == py_simhash16(t), i


def test_simhash64_udf_matches_python(spark, docs_df):
    got = {r["doc_id"]: r["sh"] for r in docs_df.select(
        "doc_id", dd.make_simhash64_udf()(F.col("text")).alias("sh")).collect()}

    def py_simhash64(t):
        import re
        toks = [w for w in re.split(r"[ \t\n\x0B\f\r]+", t or "") if w]
        if not toks:
            return 0
        votes = [0] * 64
        for w in toks:
            h = int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "little")
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        v = sum((1 << b) for b in range(64) if votes[b] > 0)
        return v - (1 << 64) if v >= (1 << 63) else v

    for i, t in DOCS:
        assert got[i] == py_simhash64(t), i
    # near-dups are Hamming-close, unrelated docs are not
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(got[0], got[3]) == 0
    assert ham(got[0], got[1]) <= 12
    assert ham(got[0], got[2]) >= 12


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(99)
    vecs = rng.standard_normal((40, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>"), vecs


def test_brute_force_topk_matches_numpy(spark, emb_df):
    df, vecs = emb_df
    queries = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = sim.brute_force_topk(df, queries, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    sims = vecs @ vecs.T
    for q in range(3):
        order = sorted(range(40), key=lambda j: (-sims[q, j], j))[:4]
        assert [n for _, n in sorted(by_q[q])] == order


def test_ann_lsh_topk_candidates_share_bucket(spark, emb_df):
    df, vecs = emb_df
    queries = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = sim.ann_topk(df, queries, dim=16, k=4, n_bits=4, n_tables=2)
    rows = got.collect()
    assert len(rows) > 0
    # rank 1 of query q must be q itself (cosine 1.0 with itself, and a
    # vector always shares its own bucket)
    top1 = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}
    # every returned score must match numpy's cosine
    for r in rows:
        q, n = r["query_id"], r["neighbor_id"]
        assert r["score"] == pytest.approx(
            float(vecs[q] @ vecs[n]), abs=1e-5)


def test_embedding_near_dup_lsh_agrees_with_exact(spark, emb_df):
    df, vecs = emb_df
    # plant a near-dup: vector 50 = perturbed copy of vector 0
    v50 = vecs[0] * 1.05 + 0.01
    aug = spark.createDataFrame(
        [(50, [float(x) for x in v50])], "vec_id: long, embedding: array<double>")
    corpus = df.unionByName(aug)
    exact = sim.embedding_near_dup_pairs(corpus, threshold=0.9)
    lsh = sim.embedding_near_dup_pairs(corpus, threshold=0.9, dim=16,
                                       use_lsh=True, n_bits=4, n_tables=4)
    epairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    lpairs = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    assert (0, 50) in epairs
    assert lpairs <= epairs          # LSH never invents pairs
    assert (0, 50) in lpairs         # and finds the planted one (4 tables)


def test_srp_udf_assignment_matches_literal(spark, emb_df):
    """The broadcast-matrix pandas-UDF bucket assignment (the high-dim
    path) must produce the SAME (id, table, bucket) rows as the
    plan-literal expression form — including bucket 0 for null vectors."""
    df, _ = emb_df
    withnull = df.unionByName(spark.createDataFrame(
        [(99, None)], "vec_id: long, embedding: array<double>"))
    lit_rows = {(r["vec_id"], r["table"], r["bucket"]) for r in
                sim.with_lsh_buckets(withnull, dim=16, n_bits=6,
                                     n_tables=3, assignment="literal").collect()}
    udf_rows = {(r["vec_id"], r["table"], r["bucket"]) for r in
                sim.with_lsh_buckets(withnull, dim=16, n_bits=6,
                                     n_tables=3, assignment="udf").collect()}
    assert lit_rows == udf_rows
    assert (99, 0, 0) in udf_rows  # null vec → bucket 0, every table


def test_ivf_udf_assignment_matches_literal(spark, emb_df):
    """ivf_topk with assignment='udf' must return the identical result
    frame as the literal form (same cells, same probes, same tie-breaks)."""
    df, _ = emb_df
    queries = df.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    lit = sim.ivf_topk(df, queries, dim=16, k=4, n_centroids=8, n_probe=3,
                       assignment="literal").collect()
    udf = sim.ivf_topk(df, queries, dim=16, k=4, n_centroids=8, n_probe=3,
                       assignment="udf").collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(((r["query_id"], r["rank"], r["neighbor_id"], r["score"])
                   for r in lit)) == \
           sorted(((r["query_id"], r["rank"], r["neighbor_id"], r["score"])
                   for r in udf))


def test_high_dim_auto_dispatch_keeps_plan_flat(spark):
    """Above LITERAL_ASSIGN_BUDGET (real embedding dims), 'auto' must
    switch to the UDF path: one ArrowEvalPython node, plan size flat in
    dim — never 10^5 literal expression nodes."""
    dim = 768
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(dim)])
            for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    assert dim * 8 * 4 > sim.LITERAL_ASSIGN_BUDGET
    b = sim.with_lsh_buckets(df, dim=dim, n_bits=8, n_tables=4)
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert len(plan) < 20_000  # literal form at this dim would be ~MBs
    assert b.count() == 8 * 4  # one row per (vec, table)

    # IVF side: 256 centroids at dim 768 also crosses the budget
    q = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = sim.ivf_topk(df, q, dim=dim, k=3, n_centroids=8, n_probe=8,
                       assignment="udf")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    top1 = {r["query_id"]: r["neighbor_id"]
            for r in out.collect() if r["rank"] == 1}
    assert top1 == {0: 0, 1: 1}  # probing every cell → self is rank 1


def test_registered_ann_queries_stay_on_literal_path(spark):
    """The oracle-paired queries at fixture dim must keep the literal
    (SQL-expressible) assignment under 'auto' — the driver's DuckDB
    oracle can't run a pandas UDF."""
    from datacanary_spark import entry_queries as eq

    for name in ("ann_lsh_top5", "ann_ivf_top5"):
        plan = eq.QUERIES[name](spark, "/root/testdata/sf0.01") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan, name


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_decode_and_containment(spark):
    media = mm.make_fixture_media(spark, n=30)
    out = mm.decode_media(media)
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 30
    bad = [r for r in rows.values() if not r["ok"]]
    assert bad and all(r["error"] for r in bad)       # corrupt rows contained
    good = [r for r in rows.values() if r["ok"]]
    assert good
    for r in good:
        assert len(r["features"]) == mm.N_FEATURES
        assert math.isclose(sum(r["features"]), 1.0, rel_tol=1e-5)
        assert r["width"] >= 4 and r["n_bytes"] > 0


def test_multimodal_frame_sampling(spark):
    media = mm.make_fixture_media(spark, n=30)
    frames = mm.sample_frames(media, every_k=2).collect()
    assert frames
    decoded = {r["media_id"]: r for r in mm.decode_media(media).collect()}
    for fr in frames:
        d = decoded[fr["media_id"]]
        assert d["kind"] == "video" and d["ok"]
        assert fr["frame_ix"] % 2 == 0 and fr["frame_ix"] < d["n_frames"]
        assert len(fr["frame_bytes"]) > 0


def test_multimodal_resize_exact_pixels(spark):
    # 4x2 gray PGM with known pixels; nearest-neighbor to 2x1 must pick
    # the top-left sample of each 2x2 cell: rows [0], cols [0, 2]
    raster = bytes([10, 20, 30, 40,
                    50, 60, 70, 80])
    pgm = b"P5 4 2 255\n" + raster
    media = spark.createDataFrame(
        [(0, "image", bytearray(pgm), None)], mm.MEDIA_SCHEMA)
    r = mm.resize_media(media, out_w=2, out_h=1,
                        codec=mm.NetpbmImageCodec()).collect()[0]
    assert r["ok"] and (r["width"], r["height"]) == (2, 1)
    assert bytes(r["body"]) == bytes([10, 30])


def test_multimodal_resize_rejects_odd_channel_counts(spark):
    # a body whose length implies a non-{1,3,4} channel count means the
    # declared frame geometry doesn't describe the bytes (e.g. a codec
    # reporting frames it didn't materialize) — contained, not scrambled
    p = mm.encode_fake_media("image", 4, 2, 1, b"\x00" * (4 * 2 * 2))
    media = spark.createDataFrame(
        [(0, "image", bytearray(p), None)], mm.MEDIA_SCHEMA)
    r = mm.resize_media(media, out_w=2, out_h=1).collect()[0]
    assert not r["ok"] and "2 channels" in r["error"]


def test_multimodal_resize_fixture_and_containment(spark):
    media = mm.make_fixture_media(spark, n=30)
    rows = {r["media_id"]: r for r in
            mm.resize_media(media, out_w=8, out_h=8).collect()}
    assert len(rows) == 30
    bad = [r for r in rows.values() if not r["ok"]]
    assert bad and all(r["error"] for r in bad)       # corrupt rows contained
    for r in rows.values():
        if r["ok"]:
            # every frame resized, geometry preserved in the frame count
            assert len(r["body"]) == 8 * 8 * max(r["n_frames"], 1)
    # video rows keep their frame count
    decoded = {r["media_id"]: r for r in mm.decode_media(media).collect()}
    vids = [m for m, d in decoded.items()
            if d["ok"] and d["kind"] == "video"]
    assert vids and all(rows[m]["n_frames"] == decoded[m]["n_frames"]
                        for m in vids)


def test_pillow_codec_plumbing_with_fake_module(monkeypatch):
    """PillowImageCodec drives PIL through the adapter contract —
    verified by injecting a fake PIL module (the real library is absent
    in this sandbox), mirroring test_model_adapters' fake fasttext."""
    import sys
    import types

    class _FakeImg:
        size = (8, 6)
        n_frames = 3

        def convert(self, mode):
            assert mode == "RGB"
            return types.SimpleNamespace(tobytes=lambda: b"\x01\x02" * 72)

    fake_image = types.SimpleNamespace(open=lambda bio: _FakeImg())
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)

    kind, w, h, f, body = mm.PillowImageCodec().decode(b"\x89PNG-ish")
    # the fake image advertises n_frames=3, but convert() materializes
    # only the current frame — the codec must report 1 so the body
    # length matches the declared geometry (w*h*ch*n_frames)
    assert (kind, w, h, f) == ("I", 8, 6, 1)
    assert body == b"\x01\x02" * 72

    # the default chain routes non-FAKEMM payloads to Pillow…
    kind2, *_ = mm.CodecChain(
        [mm.FakeContainerCodec(), mm.PillowImageCodec()]).decode(b"\x89PNG-ish")
    assert kind2 == "I"
    # …and FAKEMM payloads never touch it
    p = mm.encode_fake_media("image", 4, 4, 1, b"\x00" * 16)
    assert mm.FakeContainerCodec().decode(p)[1] == 4

    # a TRUNCATED FAKEMM payload is corrupt FAKEMM data — precise
    # diagnosis, never handed to the image codec for a wrong error
    with pytest.raises(ValueError, match="truncated FAKEMM"):
        mm.CodecChain([mm.FakeContainerCodec(),
                       mm.PillowImageCodec()]).decode(b"FAKEMM\x00")


def test_pillow_codec_missing_library_is_gated():
    """Without Pillow installed, the codec raises an ImportError with
    install guidance (and decode_media contains it per row) — never an
    opaque crash."""
    import builtins
    import sys

    if any(k == "PIL" or k.startswith("PIL.") for k in sys.modules):
        pytest.skip("Pillow present in this environment")
    with pytest.raises(ImportError, match="Pillow"):
        mm.PillowImageCodec().decode(b"\x89PNG-not-fake")
    assert builtins  # keep import honest


def test_decode_media_custom_codec_end_to_end(spark):
    """A user codec object flows through the mapInPandas closure into
    the workers (cloudpickle ships the class by value) — the adapter
    seam the real Pillow/ffmpeg codecs use."""

    class UpperKindCodec:
        def decode(self, payload):
            if payload is None or not bytes(payload).startswith(b"OK:"):
                raise ValueError("bad payload")
            body = bytes(payload)[3:]
            return "X", 2, 2, 1, body

    rows = [(0, "image", bytearray(b"OK:abcd"), None),
            (1, "image", bytearray(b"NOPE"), None)]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in
           mm.decode_media(df, codec=UpperKindCodec()).collect()}
    assert got[0]["ok"] and got[0]["n_bytes"] == 4
    assert not got[1]["ok"] and "bad payload" in got[1]["error"]


def test_near_dup_hash_modes_agree(spark):
    """md5 (oracle mode) and xxhash64 (scale mode) MinHash must both find
    every planted near-duplicate; Jaccard values for shared pairs are
    hash-independent and identical."""
    from pyspark.sql import functions as F

    from datacanary_spark.operators import dedup as dd

    d = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
         .select("doc_id", "text").where(F.col("doc_id") < 100))
    aug = d.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tiny trailer")).alias("text"))
    corpus = d.unionByName(aug)
    planted = {(r["doc_id"], r["doc_id"] + 100000)
               for r in d.where(F.col("doc_id") % 3 == 0).collect()}

    def pairs(hash_fn):
        return {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                for r in dd.near_dup_pairs(corpus, threshold=0.5,
                                           hash_fn=hash_fn).collect()}

    p_md5, p_xx = pairs("md5"), pairs("xxhash64")
    assert planted <= set(p_md5) and planted <= set(p_xx)
    shared = set(p_md5) & set(p_xx)
    assert all(p_md5[k] == p_xx[k] for k in shared)


def test_ivf_topk_recall_and_self_hit(spark):
    """IVF-flat ANN: a query vector that exists in the corpus must rank
    itself first (its own cell is always probed); recall@5 vs exact
    brute force is deterministic on the fixed corpus/centroids."""
    from pyspark.sql import functions as F

    from datacanary_spark.operators import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    bf = {(r["query_id"], r["neighbor_id"])
          for r in sim.brute_force_topk(e, q, k=5).collect()}
    ivf_rows = sim.ivf_topk(e, q, dim=64, k=5, n_centroids=16,
                            n_probe=4).collect()
    ivf = {(r["query_id"], r["neighbor_id"]) for r in ivf_rows}
    assert all((i, i) in ivf for i in range(10))  # self is found
    assert all(r["rank"] == 1 for r in ivf_rows
               if r["query_id"] == r["neighbor_id"])
    assert len(bf & ivf) / len(bf) >= 0.5  # measured 0.6 on this corpus


def test_ivf_trained_centroids_beat_random(spark):
    """A Spark-ML-KMeans-trained coarse quantizer plugs into ivf_topk
    unchanged and lifts recall@5 over the random-centroid fallback on
    the same probe budget (the SCALE.md claim, demonstrated)."""
    from pyspark.sql import functions as F

    from datacanary_spark.operators import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    bf = {(r["query_id"], r["neighbor_id"])
          for r in sim.brute_force_topk(e, q, k=5).collect()}

    def recall(centroids):
        ivf = {(r["query_id"], r["neighbor_id"])
               for r in sim.ivf_topk(e, q, dim=64, k=5, n_centroids=16,
                                     n_probe=4,
                                     centroids=centroids).collect()}
        return len(bf & ivf) / len(bf)

    r_random = recall(None)
    trained = sim.train_ivf_centroids(e, n_centroids=16, seed=7)
    assert trained.shape == (16, 64)
    r_trained = recall(trained)
    assert r_trained >= r_random
    assert r_trained >= 0.7

    # sample_fraction=1.0 must mean ALL rows (the nine-hex-digit
    # threshold edge), and null embedding rows must not crash training
    import pyspark.sql.functions as F2

    with_null = e.unionByName(e.limit(1).select(
        (F2.col("vec_id") + 10**6).alias("vec_id"),
        F2.lit(None).cast("array<float>").alias("embedding"), "label"))
    t2 = sim.train_ivf_centroids(with_null, n_centroids=16, seed=7,
                                 sample_fraction=1.0)
    assert np.allclose(t2, trained)


def test_multimodal_feature_dedup_end_to_end(spark):
    """Media dedup across the full stack: decode (mapInPandas) ->
    feature vectors -> embedding near-dup pairs. Exact byte-duplicate
    media (re-encoded under new ids) must pair with their originals at
    cosine ~1.0; corrupt rows are contained upstream and never reach
    the pair stage."""
    from pyspark.sql import functions as F

    from datacanary_spark.operators import similarity as sim
    from datacanary_spark.operators.multimodal import (
        decode_media,
        make_fixture_media,
    )

    media = make_fixture_media(spark, n=45)
    dups = (media.where(F.col("media_id") % 5 == 1)  # avoids corrupt %17==0
                 .select((F.col("media_id") + 1000).alias("media_id"),
                         "kind", "payload", "meta"))
    corpus = media.unionByName(dups)

    vecs = (decode_media(corpus).where(F.col("ok"))
            .select(F.col("media_id").alias("vec_id"),
                    F.col("features").alias("embedding")))
    pairs = {(r["id_a"], r["id_b"])
             for r in sim.embedding_near_dup_pairs(
                 vecs, threshold=0.9999).collect()}

    planted = {(i, i + 1000) for i in range(1, 45, 5) if i % 17 != 0}
    assert planted <= pairs
    # corrupt payloads (media_id % 17 == 0 in the fixture) never
    # produce vectors
    assert vecs.where((F.col("vec_id") < 1000)
                      & (F.col("vec_id") % 17 == 0)).count() == 0


def test_winnow_fingerprints_match_python_golden(spark):
    """Exact pin of the winnowing selection against an independent
    Python twin, including normalization, short-doc, empty and null
    edge cases."""
    import re

    from datacanary_spark.operators.text_analysis import winnow_fingerprints

    texts = ["The quick   Brown fox\njumps over the lazy dog", "short",
             "", None, "  ", "exactly8"]
    df = spark.createDataFrame(list(enumerate(texts)), "id: int, text: string")
    got = {r["id"]: r["fp"] for r in df.select(
        "id", winnow_fingerprints(F.col("text")).alias("fp")).collect()}

    def py_winnow(t, k=8, w=4):
        if t is None:
            return None
        nt = re.sub(r"\s+", " ", t).lower().strip()
        n = len(nt) - k + 1
        if n < 1:
            return []
        grams = [hashlib.md5(nt[i:i + k].encode()).hexdigest()
                 for i in range(n)]
        return sorted({min(grams[j:j + w]) for j in range(max(n - w + 1, 1))})

    for i, t in enumerate(texts):
        assert got[i] == py_winnow(t), i


def test_dedup_lines_c4_semantics(spark):
    """Line-level corpus dedup: first occurrence (min (doc_id, pos))
    survives, later copies vanish — across docs and within one doc;
    blank lines are exempt; a fully-boilerplate doc becomes ''."""
    from datacanary_spark.operators import dedup as dd

    rows = [(1, "HEADER\nunique one\n\nHEADER\nFOOTER"),
            (2, "HEADER\nunique two\n\nFOOTER"),
            (3, "HEADER\nFOOTER"),
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r["text"] for r in dd.dedup_lines(df).collect()}
    assert got == {1: "HEADER\nunique one\n\nFOOTER",
                   2: "unique two\n",
                   3: "",
                   # null-text docs stay in the output unchanged (text
                   # still null) — they have no lines to dedup, and a
                   # library caller must not silently lose rows
                   4: None}


def test_winnow_overlap_finds_copied_passage(spark):
    """A passage pasted into an otherwise-different document must
    surface as an overlap pair; unrelated docs must not; a fingerprint
    shared by more than max_posting docs must be excluded from pairing
    (boilerplate guard)."""
    from datacanary_spark.operators import dedup as dd

    passage = ("Winnowing selects the minimum hash in each sliding "
               "window of consecutive k-gram hashes of the document")
    rows = [(0, passage + " and this is the original source document."),
            (1, "A completely different page about cooking pasta with "
                "plenty of garlic and olive oil for dinner tonight."),
            (2, "Totally new commentary here. " + passage +
                " Appended plagiarised content ends."),
            (3, "Another unrelated page describing alpine hiking "
                "routes and the weather conditions in late autumn.")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             dd.winnow_overlap_pairs(df, min_shared=5).collect()}
    assert (0, 2) in pairs
    assert all(p == (0, 2) for p in pairs)

    # boilerplate guard: a fp in >max_posting docs generates no pairs
    boiler = [(i, "identical boilerplate navigation footer text")
              for i in range(10)]
    bdf = spark.createDataFrame(boiler, "doc_id: long, text: string")
    assert dd.winnow_overlap_pairs(bdf, min_shared=1,
                                   max_posting=5).count() == 0


def test_exact_dedup_null_text_exempt(spark):
    """NULL text = UNKNOWN content: not the same as empty text, and not
    the same as any OTHER null-text doc — extraction failures must all
    survive dedup (each is its own group), never collapse to one."""
    from datacanary_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, ""), (4, "real text"), (5, None)],
        "doc_id: long, text: string")
    groups = {r["canonical_id"]: r["group_size"]
              for r in dd.exact_dup_groups(df).collect()}
    assert groups == {1: 1, 2: 2, 4: 1, 5: 1}
    survivors = {r["doc_id"] for r in dd.dedup_exact(df).collect()}
    assert survivors == {1, 2, 4, 5}  # BOTH null-text docs kept

    from datacanary_spark.operators.text_analysis import content_fingerprint
    from pyspark.sql import functions as F

    fps = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", content_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] is None and fps[5] is None  # unknown content: no identity
    assert fps[2] is not None


def test_winnow_and_line_dedup_random_differential(spark):
    """Seeded random corpus (unicode, newlines, repeats, whitespace
    runs, short/empty/null docs) — Spark results must match independent
    Python twins exactly, in one batched comparison."""
    import random
    import re

    rng = random.Random(20260817)
    alphabet = "abcdef ghij\nkl  mno\tp ÄöÜ é 日本 ,.!?"
    docs = [(0, None), (1, ""), (2, " \n "), (3, "1234567"), (4, "12345678")]
    for i in range(5, 60):
        n = rng.randint(0, 200)
        t = "".join(rng.choice(alphabet) for _ in range(n))
        if rng.random() < 0.3 and docs[-1][1]:
            t = docs[-1][1] + "\n" + t  # planted shared lines/passages
        docs.append((i, t))
    df = spark.createDataFrame(docs, "doc_id: long, text: string")

    # winnowing twin
    from datacanary_spark.operators import dedup as dd
    from datacanary_spark.operators.text_analysis import winnow_fingerprints

    got_fp = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", winnow_fingerprints(F.col("text")).alias("fp")).collect()}

    def py_winnow(t, k=8, w=4):
        if t is None:
            return None
        nt = re.sub(r"\s+", " ", t).lower().strip()
        n = len(nt) - k + 1
        if n < 1:
            return []
        grams = [hashlib.md5(nt[i:i + k].encode()).hexdigest()
                 for i in range(n)]
        return sorted({min(grams[j:j + w]) for j in range(max(n - w + 1, 1))})

    for i, t in docs:
        assert got_fp[i] == py_winnow(t), i

    # line-dedup twin (first (doc_id, pos) occurrence survives;
    # lines shorter than 1 char, i.e. empty, exempt)
    got_ld = {r["doc_id"]: r["text"] for r in dd.dedup_lines(df).collect()}

    seen: set[str] = set()
    exp: dict[int, str] = {}
    for i, t in sorted(docs):
        if t is None:
            exp[i] = None  # null-text docs pass through unchanged
            continue
        kept = []
        for ln in t.split("\n"):
            if len(ln) < 1:
                kept.append(ln)
            elif ln not in seen:
                seen.add(ln)
                kept.append(ln)
        exp[i] = "\n".join(kept)
    assert got_ld == exp


def test_decontaminate_exact_and_winnow(spark):
    """Benchmark decontamination: exact mode drops normalized-content
    matches (never null-text docs); winnow mode drops docs whose
    passage is quoted inside reference framing text."""
    from datacanary_spark.operators import dedup as dd

    passage = ("the capital of the example country is exampleville "
               "according to the benchmark answer key")
    corpus = spark.createDataFrame(
        [(1, "a perfectly clean training document about cooking"),
         (2, "LEAKED  doc   with odd spacing"),
         (3, None),
         (4, "Intro paragraph. " + passage + " Outro paragraph."),
         (5, "another clean document describing mountain hiking")],
        "doc_id: long, text: string")
    reference = spark.createDataFrame(
        [("leaked doc with odd spacing",),         # normalized == doc 2
         ("BENCHMARK QUESTION: " + passage,)],
        "text: string")

    exact = {r["doc_id"] for r in
             dd.decontaminate(corpus, reference, mode="exact").collect()}
    assert exact == {1, 3, 4, 5}  # doc 2 dropped; null doc 3 survives

    winnow = {r["doc_id"] for r in
              dd.decontaminate(corpus, reference, mode="winnow").collect()}
    assert 4 not in winnow        # quoted passage detected
    assert {1, 3, 5} <= winnow    # clean + null docs survive

    # a WIDELY leaked passage (many corpus docs quote it) must still be
    # fully removed — no posting cap in the asymmetric reference join;
    # the worse the leak, the MORE must go, never less
    wide = spark.createDataFrame(
        [(i, f"intro {i}. " + passage + f" outro {i}.")
         for i in range(100, 112)] + [(200, "clean control document")],
        "doc_id: long, text: string")
    survivors = {r["doc_id"] for r in
                 dd.decontaminate(wide, reference, mode="winnow").collect()}
    assert survivors == {200}


def test_decontaminate_minhash_fuzzy_tier(spark):
    """MinHash decontamination drops docs near-duplicate to an EDITED
    reference copy (the case exact fingerprints miss); clean docs,
    null-text docs, and sub-threshold similarity survive."""
    from pyspark.sql import functions as F

    from datacanary_spark.operators import dedup as dd

    leaked = ("the benchmark answer key states that the capital of the "
              "example country is exampleville and the river is long "
              "according to the official survey of geography facts")
    corpus = spark.createDataFrame(
        [(1, "a perfectly clean training document all about cooking "
             "pasta with garlic and olive oil in a large iron pan"),
         (2, leaked),
         (3, None),
         (4, "another clean document describing mountain hiking trails "
             "and the equipment required for a safe winter ascent")],
        "doc_id: long, text: string")
    reference = spark.createDataFrame(
        [(leaked + " reflowed with a small trailing edit",)],
        "text: string")

    out = {r["doc_id"] for r in
           dd.decontaminate_minhash(corpus, reference).collect()}
    assert out == {1, 3, 4}  # edited near-dup caught; null survives

    # an impossible threshold (> 1.0) keeps everything: the band match
    # alone is not the contamination law, the estimate gate is
    all_kept = {r["doc_id"] for r in
                dd.decontaminate_minhash(corpus, reference,
                                         threshold=1.01).collect()}
    assert all_kept == {1, 2, 3, 4}

    # schema unchanged contract
    assert dd.decontaminate_minhash(corpus, reference).columns == \
        corpus.columns

    # reference bands ride a broadcast join by default
    plan = (dd.decontaminate_minhash(corpus, reference)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan


def test_lsh_bucket_stats_accounts_for_cap(spark):
    """The max_bucket cap's coverage loss is measurable via
    lsh_bucket_stats (docstring contract)."""
    from pyspark.sql import functions as F

    from datacanary_spark.operators import dedup as dd

    base = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .select("doc_id", "text").where(F.col("doc_id") < 40))
    # 30 identical docs -> one degenerate bucket per band
    clones = spark.range(1000, 1030).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page body repeated").alias("text"))
    corpus = base.unionByName(clones)

    stats = dd.lsh_bucket_stats(corpus, max_bucket=10).collect()[0]
    assert stats["n_oversize_buckets"] == 4       # one per band
    assert stats["n_rows_dropped"] == 4 * 30
    # and the candidate generator actually excludes those buckets
    cands = dd.lsh_candidate_pairs(corpus, max_bucket=10)
    assert cands.where(F.col("id_a") >= 1000).count() == 0


def test_netpbm_codec_real_image_bytes_end_to_end(spark):
    """Real image bytes (binary PPM/PGM, decoded in pure Python — no
    Pillow) flow through the DEFAULT codec chain end-to-end: decode →
    dimensions → features, alongside FAKEMM rows and with corrupt
    netpbm payloads contained per row (VERDICT r03 item 4)."""
    import numpy as np

    # P6 RGB 4x2 gradient with a header comment; P5 gray 3x3; P6 with
    # maxval 65535 (2-byte samples); truncated P6; FAKEMM row
    rgb = bytes(range(4 * 2 * 3))
    ppm = b"P6\n# comment\n4 2\n255\n" + rgb
    gray = bytes(range(9))
    pgm = b"P5 3 3 255 " + gray
    wide = b"P6\n1 1\n65535\n" + bytes(6)
    trunc = b"P6\n4 4\n255\n" + bytes(10)
    fake = mm.encode_fake_media("image", 5, 5, 1, bytes(25))
    rows = [(0, "image", bytearray(ppm), None),
            (1, "image", bytearray(pgm), None),
            (2, "image", bytearray(wide), None),
            (3, "image", bytearray(trunc), None),
            (4, "image", bytearray(fake), None)]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in mm.decode_media(df).collect()}

    assert (got[0]["ok"], got[0]["width"], got[0]["height"]) == (True, 4, 2)
    assert got[0]["n_bytes"] == len(rgb)
    # features are the documented byte-histogram of the raster
    exp = np.bincount(np.frombuffer(rgb, np.uint8) % mm.N_FEATURES,
                      minlength=mm.N_FEATURES)
    np.testing.assert_allclose(got[0]["features"],
                               (exp / exp.sum()).astype(np.float32))
    assert (got[1]["ok"], got[1]["width"], got[1]["height"]) == (True, 3, 3)
    assert got[2]["ok"] and got[2]["n_bytes"] == 6  # 2-byte samples
    assert not got[3]["ok"] and "truncated netpbm" in got[3]["error"]
    assert got[4]["ok"] and got[4]["width"] == 5  # FAKEMM still first


# ---------------------------------------------------------------------------
# remove_repeated_ngrams (ExactSubstr-style repeated-span removal)
# ---------------------------------------------------------------------------

_BOILER = "this site uses cookies accept our policy to continue reading now"


def _rrn(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dd.remove_repeated_ngrams(df, **kw)
    return {r.doc_id: r.text for r in out.collect()}


def test_repeated_ngram_keeps_canonical_removes_rest(spark):
    rows = [
        (1, "alpha beta gamma delta " + _BOILER + " tail words here"),
        (2, "entirely different opening words " + _BOILER + " more unique"),
        (3, "no boilerplate in this document at all just original text"),
    ]
    got = _rrn(spark, rows, k=11, min_count=2)
    # canonical = min (doc_id, start): doc 1 keeps the span byte-for-byte
    assert got[1] == rows[0][1]
    assert got[2] == "entirely different opening words more unique"
    assert got[3] == rows[2][1]


def test_repeated_ngram_same_doc_repeats_removed(spark):
    rows = [(1, _BOILER + " middle filler words " + _BOILER)]
    got = _rrn(spark, rows, k=11, min_count=2)
    # first occurrence canonical, second removed even within one doc
    assert got[1] == _BOILER + " middle filler words"


def test_repeated_ngram_short_null_and_whitespace_docs(spark):
    rows = [(1, "short doc"), (2, None), (3, "  spaced   out   words  ")]
    got = _rrn(spark, rows, k=11, min_count=2)
    assert got[1] == "short doc"        # < k tokens: no windows
    assert got[2] is None               # null text passes through
    assert got[3] == "spaced out words"  # whitespace-normalized identity


def test_repeated_ngram_full_doc_coverage_empties_text(spark):
    rows = [(1, _BOILER), (2, _BOILER), (3, _BOILER)]
    got = _rrn(spark, rows, k=11, min_count=2)
    assert got[1] == _BOILER            # canonical survives
    assert got[2] == "" and got[3] == ""


def test_repeated_ngram_min_count_threshold(spark):
    rows = [
        (1, "prefix one " + _BOILER),
        (2, "prefix two " + _BOILER),
    ]
    # min_count=3: two occurrences are NOT repeated enough
    got = _rrn(spark, rows, k=11, min_count=3)
    assert got[2] == rows[1][1]


def test_repeated_ngram_overlap_union_covers_canonical_tokens(spark):
    # two distinct repeated 3-grams overlap in doc 3 ("c d e" and
    # "d e f" share d,e); the union of removal intervals must not
    # double-remove or resurrect shared tokens.
    rows = [
        (1, "a b c d e x1 y1 z1"),       # canonical for "c d e"
        (2, "q r d e f x2 y2 z2"),       # canonical for "d e f"
        (3, "m n c d e f o p"),          # contains BOTH, loses c..f
    ]
    got = _rrn(spark, rows, k=3, min_count=2)
    assert got[1] == rows[0][1]
    assert got[2] == rows[1][1]
    assert got[3] == "m n o p"


def test_repeated_ngram_xxhash_mode_agrees_with_md5(spark):
    rows = [
        (1, "alpha beta gamma delta " + _BOILER + " tail words here"),
        (2, "entirely different opening words " + _BOILER + " more unique"),
        (5, "no boilerplate in this document at all just original text"),
    ]
    a = _rrn(spark, rows, k=11, min_count=2, hash_fn="md5")
    b = _rrn(spark, rows, k=11, min_count=2, hash_fn="xxhash64")
    assert a == b


def test_repeated_ngram_partition_invariance(spark):
    rows = [(i, f"doc {i} words " + (_BOILER if i % 2 == 0 else "unique"))
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = {r.doc_id: r.text
         for r in dd.remove_repeated_ngrams(df.repartition(1), k=12).collect()}
    b = {r.doc_id: r.text
         for r in dd.remove_repeated_ngrams(
             df.repartition(7, "text"), k=12).collect()}
    assert a == b


# -------------------- SemDeDup (cluster-then-prune) --------------------


def test_semdedup_drops_planted_variants_keeps_rest(spark, emb_df):
    df, vecs = emb_df
    # plant near-identical variants (cos ~= 1) of every 5th vector
    aug = df.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"))
    res = sim.semdedup(df.unionByName(aug), dim=16, threshold=0.95,
                       n_centroids=4).collect()
    by_id = {r["vec_id"]: r for r in res}
    planted = [i + 1000 for i in range(0, 40, 5)]
    for p in planted:  # every variant shares its original's cell -> dropped
        assert by_id[p]["semdedup_keep"] is False, p
        assert by_id[p]["cell"] == by_id[p - 1000]["cell"]
    # originals keep (nothing with a smaller id is near them: random
    # unit vectors in 16-d, max natural cosine well below 0.95)
    for i in range(40):
        assert by_id[i]["semdedup_keep"] is True, i


def test_semdedup_matches_numpy_brute_force(spark, emb_df):
    df, vecs = emb_df
    cents = sim.ivf_centroids(16, 4)
    res = {r["vec_id"]: r for r in
           sim.semdedup(df, dim=16, threshold=0.6, n_centroids=4).collect()}
    cells = np.argmax(vecs @ cents.T, axis=1)
    sims = vecs @ vecs.T  # unit vectors
    for j in range(40):
        want_drop = any(cells[i] == cells[j] and sims[i, j] >= 0.6 - 1e-12
                        for i in range(j))
        assert res[j]["semdedup_keep"] is (not want_drop), j
        assert res[j]["cell"] == cells[j], j


def test_semdedup_null_vectors_exempt(spark):
    rows = [(0, [1.0, 0.0]), (1, [1.0, 1e-9]), (2, None)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    res = {r["vec_id"]: r for r in
           sim.semdedup(df, dim=2, threshold=0.99, n_centroids=2).collect()}
    assert res[0]["semdedup_keep"] is True
    assert res[1]["semdedup_keep"] is False  # near-dup of vec 0
    assert res[2]["semdedup_keep"] is True and res[2]["cell"] is None


def test_semdedup_udf_assignment_agrees_with_literal(spark, emb_df):
    df, _ = emb_df
    lit = sim.semdedup(df, dim=16, threshold=0.6, n_centroids=4,
                       assignment="literal").collect()
    udf = sim.semdedup(df, dim=16, threshold=0.6, n_centroids=4,
                       assignment="udf").collect()
    key = lambda r: r["vec_id"]  # noqa: E731
    assert sorted(lit, key=key) == sorted(udf, key=key)


def test_semdedup_max_cell_exempts_oversized_cells(spark):
    # 6 copies of the same direction (one degenerate cell) + 2 of an
    # orthogonal one; cap 4 -> the degenerate cell is skipped entirely
    rows = ([(i, [1.0, float(i) * 1e-9]) for i in range(6)]
            + [(10, [0.0, 1.0]), (11, [1e-9, 1.0])])
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    capped = {r["vec_id"]: r["semdedup_keep"] for r in
              sim.semdedup(df, dim=2, threshold=0.99, n_centroids=2,
                           max_cell=4).collect()}
    assert all(capped[i] for i in range(6))       # oversized cell: all kept
    assert capped[10] and not capped[11]          # small cell still pruned
    uncapped = {r["vec_id"]: r["semdedup_keep"] for r in
                sim.semdedup(df, dim=2, threshold=0.99,
                             n_centroids=2).collect()}
    assert [uncapped[i] for i in range(6)] == [True] + [False] * 5


def test_ivf_null_query_vector_absent_in_both_modes(spark, emb_df):
    """A null query embedding must be absent from the result in BOTH
    dispatch modes (pre-fix, the literal path emitted k null-score rows
    for it while the udf path emitted none — 'auto' changed the result
    set with dim)."""
    df, _ = emb_df
    queries = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding") \
        .unionByName(spark.sql(
            "SELECT 999 AS query_id, CAST(NULL AS ARRAY<DOUBLE>) "
            "AS embedding"))
    for mode in ("literal", "udf"):
        got = sim.ivf_topk(df, queries, dim=16, k=3, n_centroids=8,
                           n_probe=2, assignment=mode).collect()
        assert {r["query_id"] for r in got} == {0, 1, 2}, mode


def test_semdedup_persist_modes_agree(spark, emb_df):
    from datacanary_spark.plans.caching import CacheScope

    df, _ = emb_df
    plain = sorted(map(tuple, sim.semdedup(
        df, dim=16, threshold=0.9, persist=False).collect()))
    with CacheScope() as scope:
        scoped = sorted(map(tuple, sim.semdedup(
            df, dim=16, threshold=0.9, persist=scope).collect()))
    assert plain == scoped


def test_null_and_ragged_vectors_across_topk_operators(spark, emb_df):
    """The three top-k operators must AGREE on degenerate inputs: a
    null query vector yields no rows from any of them, a null corpus
    vector is never a neighbor, and a ragged corpus vector (wrong
    length) in UDF-assignment mode degrades that row instead of
    aborting the Arrow batch."""
    df, _ = emb_df
    null_q = spark.createDataFrame(
        [(900, None)], "query_id: long, embedding: array<double>")
    for op in (lambda: sim.brute_force_topk(df, null_q, k=3),
               lambda: sim.ann_topk(df, null_q, 16, k=3),
               lambda: sim.ivf_topk(df, null_q, 16, k=3)):
        assert op().count() == 0

    # null corpus vector: never a neighbor in any operator
    corpus_n = df.unionByName(spark.createDataFrame(
        [(999, None)], "vec_id: long, embedding: array<double>"))
    q = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    for op in (lambda: sim.brute_force_topk(corpus_n, q, k=40),
               lambda: sim.ann_topk(corpus_n, q, 16, k=40),
               lambda: sim.ivf_topk(corpus_n, q, 16, k=40)):
        assert not [r for r in op().collect() if r["neighbor_id"] == 999]

    # ragged corpus vector, forced UDF assignment: no crash, and the
    # ragged row degrades (bucket 0 / null cell), never aborts the job
    corpus_r = df.unionByName(spark.createDataFrame(
        [(998, [0.5] * 15)], "vec_id: long, embedding: array<double>"))
    got = sim.ann_topk(corpus_r, q, 16, k=3, assignment="udf").collect()
    assert got  # job survived; results present
    got_ivf = sim.ivf_topk(corpus_r, q, 16, k=3, assignment="udf").collect()
    assert got_ivf


def test_ann_topk_udf_and_literal_agree_end_to_end(spark, emb_df):
    """ann_topk output (not just bucket assignment) is identical under
    both dispatch modes — pins the dedupe-before-score restructure."""
    df, _ = emb_df
    q = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    lit_rows = sorted(map(tuple, sim.ann_topk(
        df, q, 16, k=4, assignment="literal").collect()))
    udf_rows = sorted(map(tuple, sim.ann_topk(
        df, q, 16, k=4, assignment="udf").collect()))
    assert lit_rows == udf_rows


def test_band_rows_from_sig_rejects_wrong_length(spark):
    """A signature table whose array length doesn't match n_hashes must
    fail fast — silently truncated band keys would collapse the corpus
    into one quadratic bucket."""
    good = spark.createDataFrame(
        [(1, list(range(16)))], "doc_id: long, sig: array<int>")
    assert dd.band_rows_from_sig(good, n_hashes=16, bands=4).count() == 4
    bad = spark.createDataFrame(
        [(1, list(range(8)))], "doc_id: long, sig: array<int>")
    with pytest.raises(Exception, match="signature length"):
        dd.band_rows_from_sig(bad, n_hashes=16, bands=4).collect()


def test_lsh_bucket_stats_empty_corpus_zeroes(spark):
    """All-null-text corpus: the stats row must carry 0, not NULL."""
    df = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id: long, text: string")
    row = dd.lsh_bucket_stats(df).collect()[0]
    assert row["n_buckets"] == 0
    assert row["n_oversize_buckets"] == 0
    assert row["n_rows_dropped"] == 0


def test_decontaminate_preserves_caller_fp_column(spark):
    """A corpus that already carries a '_fp' column keeps it through
    exact-mode decontamination (collision-safe temp naming)."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma", "keep-me"), (2, "shared text", "x")],
        "doc_id: long, text: string, _fp: string")
    ref = spark.createDataFrame([("shared text",)], "text: string")
    out = dd.decontaminate(corpus, ref, mode="exact")
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["_fp"] == "keep-me"


def test_paragraph_dedup_unit(spark):
    """sep='\\n\\n' dedups whole paragraphs: the repeated paragraph is
    removed intact from later docs (its internal lines untouched in
    the survivor), doc-unique paragraphs survive, and split-then-join
    is the identity for untouched docs; regex metachars are rejected."""
    from datacanary_spark.operators import dedup as dd

    shared = "boiler line one\nboiler line two"
    corpus = spark.createDataFrame(
        [(1, f"alpha text\n\n{shared}\n\nomega one"),
         (2, f"{shared}\n\nbravo text"),
         (3, "charlie only\n\nno shared content")],
        "doc_id: long, text: string")
    out = {r["doc_id"]: r["text"] for r in
           dd.dedup_lines(corpus, sep="\n\n").collect()}
    # survivor keeps the paragraph with BOTH its internal lines
    assert out[1] == f"alpha text\n\n{shared}\n\nomega one"
    # later doc loses the whole paragraph, not individual lines
    assert out[2] == "bravo text"
    assert shared not in out[2]
    # untouched doc round-trips byte-identically
    assert out[3] == "charlie only\n\nno shared content"

    # line mode on the same corpus removes the two boiler LINES from
    # doc 2 individually — same end state here, different unit; the
    # distinguishing case is a paragraph repeated with one line edited
    edited = "boiler line one\nboiler line two EDITED"
    corpus2 = spark.createDataFrame(
        [(1, f"{shared}\n\nuniq a"), (2, f"{edited}\n\nuniq b")],
        "doc_id: long, text: string")
    para = {r["doc_id"]: r["text"] for r in
            dd.dedup_lines(corpus2, sep="\n\n").collect()}
    # paragraph unit: the edited paragraph differs as a WHOLE -> kept
    assert para[2] == f"{edited}\n\nuniq b"
    line = {r["doc_id"]: r["text"] for r in
            dd.dedup_lines(corpus2, sep="\n").collect()}
    # line unit: the unedited first line is deduped away from doc 2
    assert "boiler line one" not in line[2]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="regex metacharacters"):
        dd.dedup_lines(corpus, sep=".")


def test_ivf_recall_vs_nprobe_curve(spark):
    """Recall-vs-nprobe cost curve (r05, VERDICT r04 §next.7): on a
    corpus with real cluster structure (16 planted Gaussian clusters,
    the data shape IVF exists for), a KMeans-trained coarse quantizer
    reaches recall@5 >= 0.9 at nprobe=4 of 16 cells — a 4x candidate
    reduction — and recall is monotone in nprobe.  The unstructured
    sf0.01 fixture is the adversarial floor: near-uniform vectors have
    no cluster structure, so recall tracks probed-mass fraction
    (measured 0.51 random / 0.76 trained at nprobe=4) — that case is
    covered by test_ivf_topk_recall_and_self_hit's 0.5 floor."""
    import numpy as np
    from pyspark.sql import functions as F

    from datacanary_spark.operators import similarity as sim

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for ci in range(16):
        for j in range(50):
            v = centers[ci] + 0.25 * rng.normal(size=64)
            pts.append((ci * 50 + j, [float(x) for x in v]))
    e = spark.createDataFrame(pts, "vec_id int, embedding array<double>")
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    bf = {(r["query_id"], r["neighbor_id"])
          for r in sim.brute_force_topk(e, q, k=5).collect()}
    trained = sim.train_ivf_centroids(e, n_centroids=16, seed=7)

    recalls = []
    for n_probe in (1, 2, 4):
        ivf = {(r["query_id"], r["neighbor_id"])
               for r in sim.ivf_topk(e, q, dim=64, k=5, n_centroids=16,
                                     n_probe=n_probe,
                                     centroids=trained).collect()}
        recalls.append(len(bf & ivf) / len(bf))
    assert recalls == sorted(recalls), recalls  # monotone in nprobe
    assert recalls[-1] >= 0.9, recalls  # the nprobe=4 quality floor


def test_pq_topk_parity_and_self_hits(spark):
    """Product-quantized ANN (r05): the literal-expression and
    Arrow-UDF dispatch modes produce identical rows; scoring a
    pre-encoded (vec_id, codes) index equals in-flight encoding; with
    TRAINED codebooks every query finds itself (reconstruction keeps
    self-similarity dominant) and recall@5 vs brute force clears the
    unstructured-fixture floor."""
    from pyspark.sql import functions as F

    from datacanary_spark.operators import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")

    lit = sim.pq_topk(e, q, dim=64, k=5, assignment="literal").collect()
    udf = sim.pq_topk(e, q, dim=64, k=5, assignment="udf").collect()
    assert sorted(map(tuple, lit)) == sorted(map(tuple, udf))

    idx = sim.pq_encode_index(e, dim=64)
    assert idx.schema["codes"].dataType.simpleString() == "array<int>"
    via_index = sim.pq_topk(idx, q, dim=64, k=5,
                            codes_col="codes").collect()
    assert sorted(map(tuple, via_index)) == sorted(map(tuple, lit))

    bf = {(r["query_id"], r["neighbor_id"])
          for r in sim.brute_force_topk(e, q, k=5).collect()}
    trained = sim.train_pq_codebooks(e, dim=64, n_sub=8, n_codes=16)
    assert trained.shape == (8, 16, 8)
    pq = {(r["query_id"], r["neighbor_id"])
          for r in sim.pq_topk(e, q, dim=64, k=5,
                               codebooks=trained).collect()}
    assert all((i, i) in pq for i in range(10))  # self is found
    # measured 0.4 with trained books on the structure-free fixture
    assert len(bf & pq) / len(bf) >= 0.25


def test_ivf_pq_topk_composes(spark):
    """IVFPQ (r05): cells prune candidates, codes compress scoring —
    literal and UDF modes agree; every returned neighbor is also
    plausible under plain IVF with the same probe budget (the cell
    pruning is IDENTICAL, only scores are quantized); the candidate
    stage is a cell equi-join, not a cartesian product."""
    from pyspark.sql import functions as F

    from datacanary_spark.operators import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    lit = sim.ivf_pq_topk(e, q, dim=64, k=5, assignment="literal")
    udf_rows = sim.ivf_pq_topk(e, q, dim=64, k=5,
                               assignment="udf").collect()
    lit_rows = lit.collect()
    assert sorted(map(tuple, lit_rows)) == sorted(map(tuple, udf_rows))

    ivf_cand = {(r["query_id"], r["neighbor_id"])
                for r in sim.ivf_topk(e, q, dim=64, k=500).collect()}
    assert {(r["query_id"], r["neighbor_id"])
            for r in lit_rows} <= ivf_cand

    plan = lit._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pq_null_and_ragged_vectors(spark):
    """Null and wrong-length vectors are dropped on BOTH sides (never
    a neighbor, no neighbors) in BOTH dispatch modes — the length
    filter on the query frame is load-bearing for auto-dispatch
    determinism: a ragged query under the literal probe expressions
    would emit degenerate probes while the UDF probe drops it, so the
    result set would otherwise change as dim crosses the literal
    budget.  Same contract in pq_topk and ivf_pq_topk."""
    from pyspark.sql import functions as F

    from datacanary_spark.operators import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet") \
        .where(F.col("vec_id") < 50)
    broken = spark.createDataFrame(
        [(90001, None), (90002, [1.0, 2.0])],
        "vec_id long, embedding array<double>")
    corpus = e.select("vec_id", F.col("embedding")
                      .cast("array<double>").alias("embedding")) \
        .unionByName(broken)
    q = corpus.where(F.col("vec_id").isin(0, 90001, 90002)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    for op in (sim.pq_topk, sim.ivf_pq_topk):
        for mode in ("literal", "udf"):
            rows = op(corpus, q, dim=64, k=5, assignment=mode).collect()
            # broken corpus rows never appear as neighbors
            assert all(r["neighbor_id"] < 90000 for r in rows)
            # null AND ragged queries are gone in both modes
            assert {r["query_id"] for r in rows} == {0}
            assert any(r["score"] is not None for r in rows)


def test_ivfpq_persisted_index_prunes_partitions(spark, tmp_path):
    """The persisted IVFPQ index (r05): cell-partitioned layout on
    disk, probe cells become PartitionFilters on the scan (whole
    directories skipped before any file opens — the serving tier's
    scale contract), and results equal the in-flight ivf_pq_topk
    row-for-row in both dispatch modes."""
    from pyspark.sql import functions as F

    from datacanary_spark.operators import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    path = str(tmp_path / "ivfpq_index")
    sim.ivfpq_write_index(e, path, dim=64)

    import os

    cells_on_disk = sorted(d for d in os.listdir(path)
                           if d.startswith("cell="))
    assert len(cells_on_disk) > 4  # real multi-cell layout

    served = sim.ivfpq_query_index(spark, path, q, dim=64, k=5)
    inflight = sim.ivf_pq_topk(e, q, dim=64, k=5)
    assert sorted(map(tuple, served.collect())) \
        == sorted(map(tuple, inflight.collect()))

    plan = served._jdf.queryExecution().executedPlan().toString()
    part = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "cell" in part  # the probe set prunes at the directory tier

    # UDF dispatch serves the identical rows from the same index
    served_udf = sim.ivfpq_query_index(spark, path, q, dim=64, k=5,
                                       assignment="udf")
    assert sorted(map(tuple, served_udf.collect())) \
        == sorted(map(tuple, served.collect()))


def _residual_fixture(spark):
    """200 dim-64 vectors (one null, one ragged), 16 seeded centroids,
    8x16 seeded books."""
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(200)]
    rows[7] = (7, None)
    rows[11] = (11, [1.0] * 63)
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    return df, rows, sim.ivf_centroids(64, 16), sim.pq_codebooks(64, 8, 16)


def test_pq_residual_codes_match_sequential_reference(spark):
    """Residual literal codes equal a pure-Python reference over the
    same sequential fold (``_seq_dot``): first-argmax cell, the
    residual, then per subspace the first argmin of ||c||^2 - 2 s.c.
    Null and ragged vectors encode to null."""
    df, rows, cents, books = _residual_fixture(spark)
    enc = sim.pq_residual_encode_expr("embedding", cents, books)
    got = {r["vec_id"]: r["codes"]
           for r in df.select("vec_id", enc.alias("codes")).collect()}

    def ref(x):
        if x is None or len(x) != 64:
            return None
        dots = [sim._seq_dot(x, c) for c in cents]
        cl = dots.index(max(dots))
        r = [float(a) - float(b) for a, b in zip(x, cents[cl])]
        codes = []
        for m, book in enumerate(books):
            s = r[m * 8:(m + 1) * 8]
            d = [sim._seq_dot(c, c) - 2.0 * sim._seq_dot(s, c) for c in book]
            codes.append(d.index(min(d)))
        return codes

    assert got == {i: ref(v) for i, v in rows}
    assert got[7] is None and got[11] is None


def test_pq_residual_encode_plan_stays_compact(spark):
    """The residual encoder reuses the raw encoder's per-subspace
    lambdas over one bound residual, so its analyzed plan stays within
    2x of the raw encoder's (dim 64, 16 centroids, 8x16 books) — a
    per-code expansion of the distance terms would triple it."""
    df, _, cents, books = _residual_fixture(spark)

    def plan_chars(col):
        return len(df.select(col.alias("x"))._jdf.queryExecution()
                   .analyzed().toString())

    raw = plan_chars(sim.pq_encode_expr("embedding", books))
    res = plan_chars(sim.pq_residual_encode_expr("embedding", cents, books))
    assert res <= 2 * raw, (res, raw)


def test_ivfpq_trained_recall_on_clustered_corpus(spark):
    """Composed IVFPQ quality evidence (r05): on the 16-cluster corpus
    with BOTH quantizers trained, the pruning tier is excellent
    (measured 0.96 recall@5 at nprobe=4/16) while the COMPOSED recall
    drops to ~0.43 — expected for PQ over raw vectors on clustered
    data: cluster members share nearly identical reconstructions, so
    within-cluster ranking degrades toward ties.  This is precisely
    why production IVFPQ (FAISS) encodes RESIDUALS (x - centroid);
    that refinement is the documented improvement path (SCALE.md §5),
    and this test pins the honest baseline it would improve on.  The
    composition never beats its own pruning tier — IVFPQ recall is
    bounded above by plain IVF-flat on the same probe budget (PQ
    scoring can only reorder within the identical candidate set)."""
    import numpy as np
    from pyspark.sql import functions as F

    from datacanary_spark.operators import similarity as sim

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for ci in range(16):
        for j in range(50):
            v = centers[ci] + 0.25 * rng.normal(size=64)
            pts.append((ci * 50 + j, [float(x) for x in v]))
    e = spark.createDataFrame(pts, "vec_id int, embedding array<double>")
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    bf = {(r["query_id"], r["neighbor_id"])
          for r in sim.brute_force_topk(e, q, k=5).collect()}
    cents = sim.train_ivf_centroids(e, n_centroids=16, seed=7)
    books = sim.train_pq_codebooks(e, dim=64, n_sub=8, n_codes=16)

    ivf = {(r["query_id"], r["neighbor_id"])
           for r in sim.ivf_topk(e, q, dim=64, k=5, n_probe=4,
                                 centroids=cents).collect()}
    ivfpq = {(r["query_id"], r["neighbor_id"])
             for r in sim.ivf_pq_topk(e, q, dim=64, k=5, n_probe=4,
                                      centroids=cents,
                                      codebooks=books).collect()}
    r_ivf = len(bf & ivf) / len(bf)
    r_ivfpq = len(bf & ivfpq) / len(bf)
    # measured 0.9625 (IVF) / 0.425 (IVFPQ, raw-vector PQ) on this
    # corpus; floors leave headroom for KMeans-version jitter
    assert r_ivf >= 0.85 and r_ivfpq >= 0.3, (r_ivf, r_ivfpq)
    assert r_ivfpq <= r_ivf + 1e-9


def test_ivfpq_residual_mode(spark, tmp_path):
    """FAISS-style residual IVFPQ (r05, opt-in): literal and UDF
    dispatch agree row-for-row; on a STRONGLY clustered corpus (the
    regime residual encoding exists for — cluster spread 0.1, so raw
    reconstructions of cluster members are near-identical and their
    ranking degrades toward ties) residual-trained books decisively
    beat raw-vector PQ at the same tight 8x16 code budget (measured
    0.450 vs 0.275 recall@5 under the test session's partitioning; at
    generous budgets like 32x256 the two converge, 0.887 vs 0.875);
    and the persisted residual index serves the in-flight rows
    identically under partition pruning."""
    import numpy as np
    from pyspark.sql import functions as F

    from datacanary_spark.operators import similarity as sim

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for ci in range(16):
        for j in range(50):
            v = centers[ci] + 0.1 * rng.normal(size=64)
            pts.append((ci * 50 + j, [float(x) for x in v]))
    e = spark.createDataFrame(pts, "vec_id int, embedding array<double>")
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    bf = {(r["query_id"], r["neighbor_id"])
          for r in sim.brute_force_topk(e, q, k=5).collect()}
    cents = sim.train_ivf_centroids(e, n_centroids=16, seed=7)

    # dispatch parity on the fixture (seeded books)
    lit = sim.ivf_pq_topk(e, q, dim=64, k=5, centroids=cents,
                          residual=True, assignment="literal").collect()
    udf = sim.ivf_pq_topk(e, q, dim=64, k=5, centroids=cents,
                          residual=True, assignment="udf").collect()
    assert sorted(map(tuple, lit)) == sorted(map(tuple, udf))

    # books trained on the residuals (the honest residual setup)
    res_col = sim.ivf_residual_expr(F.col("embedding"), cents)
    res_e = e.select("vec_id", res_col.alias("embedding"))
    books_res = sim.train_pq_codebooks(res_e, dim=64, n_sub=8,
                                       n_codes=16)
    books_raw = sim.train_pq_codebooks(e, dim=64, n_sub=8, n_codes=16)

    def recall(residual, books):
        s = {(r["query_id"], r["neighbor_id"])
             for r in sim.ivf_pq_topk(e, q, dim=64, k=5, n_probe=4,
                                      centroids=cents, codebooks=books,
                                      residual=residual).collect()}
        return len(bf & s) / len(bf)

    r_raw = recall(False, books_raw)
    r_res = recall(True, books_res)
    # measured 0.450 vs 0.275; margins absorb KMeans partitioning
    # sensitivity (training is seed-stable but init-sample-dependent)
    assert r_res >= r_raw + 0.1, (r_res, r_raw)
    assert r_res >= 0.35

    # persisted residual index == in-flight, and the layout still
    # partition-prunes
    path = str(tmp_path / "res_index")
    sim.ivfpq_write_index(e, path, dim=64, centroids=cents,
                          codebooks=books_res, residual=True)
    served = sim.ivfpq_query_index(spark, path, q, dim=64, k=5,
                                   centroids=cents, codebooks=books_res,
                                   residual=True)
    inflight = sim.ivf_pq_topk(e, q, dim=64, k=5, centroids=cents,
                               codebooks=books_res, residual=True)
    assert sorted(map(tuple, served.collect())) \
        == sorted(map(tuple, inflight.collect()))
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "cell" in plan.split("PartitionFilters:")[1].split("]")[0]
