"""Cache-lifetime contract: operators that persist internally must give
callers a deterministic release point (plans/caching.CacheScope), and
the curate pipeline must leave NO cached blocks behind — a long-lived
session invoking these repeatedly must not accumulate MEMORY_AND_DISK
frames (VERDICT r03 item 2)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from datacanary_spark.plans.caching import CacheScope, maybe_persist


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [(0, "the quick brown fox jumps over the lazy dog again"),
            (1, "the quick brown fox jumps over the lazy dog again!"),
            (2, "completely different content about spark physical plans"),
            (3, "the quick brown fox jumps over the lazy dog again")]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((30, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_cache_scope_releases_on_exit(spark):
    baseline = _n_cached_rdds(spark)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    with CacheScope() as scope:
        cached = scope.persist(df)
        assert cached.count() == 100
        assert _n_cached_rdds(spark) == baseline + 1
    assert _n_cached_rdds(spark) == baseline


def test_cache_scope_releases_on_error(spark):
    baseline = _n_cached_rdds(spark)
    try:
        with CacheScope() as scope:
            scope.persist(spark.range(10)).count()
            raise RuntimeError("stage failed")
    except RuntimeError:
        pass
    assert _n_cached_rdds(spark) == baseline


def test_maybe_persist_tristate(spark):
    df = spark.range(5)
    assert maybe_persist(df, False) is df
    assert maybe_persist(df, None) is df
    scope = CacheScope()
    out = maybe_persist(df, scope)
    out.count()
    scope.unpersist_all()
    # plain True: caller owns the lifetime
    p = maybe_persist(spark.range(5), True)
    p.count()
    assert p.storageLevel.useMemory
    p.unpersist()


def test_lsh_candidates_with_scope_leaves_no_blocks(spark, docs_df):
    from datacanary_spark.operators.dedup import lsh_candidate_pairs

    baseline = _n_cached_rdds(spark)
    with CacheScope() as scope:
        pairs = lsh_candidate_pairs(docs_df, persist=scope)
        n = pairs.count()
        assert _n_cached_rdds(spark) == baseline + 1
    assert _n_cached_rdds(spark) == baseline
    # same result as the persist=True form
    assert lsh_candidate_pairs(docs_df, persist=False).count() == n


def test_embedding_near_dup_with_scope_leaves_no_blocks(spark, emb_df):
    from datacanary_spark.operators.similarity import embedding_near_dup_pairs

    baseline = _n_cached_rdds(spark)
    with CacheScope() as scope:
        pairs = embedding_near_dup_pairs(
            emb_df, threshold=0.9, dim=8, use_lsh=True, persist=scope)
        pairs.count()
        # two frames by design: the vector base (bucket pass + both
        # score joins) and the tiny bucket rows (both self-join sides)
        assert _n_cached_rdds(spark) == baseline + 2
    assert _n_cached_rdds(spark) == baseline


def test_curate_run_leaves_no_cached_blocks(spark, tmp_path):
    """The full curation pipeline (filter → dedup → lines → host-cap)
    must release every pinned stage by the time it returns — with and
    without the near-dup stage, whose connected-components result is a
    localCheckpoint (and which tips the auto pin to checkpoints)."""
    from datacanary_spark.plans.curate import run_curation_job
    from datacanary_spark.sources.fixtures import write_pages_parquet

    pages = str(tmp_path / "pages")
    write_pages_parquet(pages, n_docs=120, seed=11)
    # near copies, so the near-dup stage has clusters to resolve
    src = spark.read.parquet(pages)
    copies = (src.orderBy("url").limit(20)
              .withColumn("url", F.concat("url", F.lit("~copy")))
              .withColumn("text", F.concat(
                  "text", F.lit(" and a tiny trailing remark"))))
    near = str(tmp_path / "near")
    src.unionByName(copies).write.parquet(near)
    baseline = _n_cached_rdds(spark)
    for name, inp, kw in (("curated", pages, {}),
                          ("curated_nd", near, {"near_dup_threshold": 0.8})):
        out = str(tmp_path / name)
        summary = run_curation_job(spark, inp, out, host_cap=5, **kw)
        assert summary["final_docs"] > 0
        assert os.path.isdir(os.path.join(out, "corpus"))
        assert _n_cached_rdds(spark) == baseline
    assert summary["after_near_dup_clusters"] < summary["after_exact_dedup"]


def test_cache_scope_checkpoint_truncates_and_releases(spark):
    """scope.checkpoint materializes, cuts the logical plan to a flat
    scan (the stage-boundary fix for multiplicative plan growth in long
    compositions), and releases its blocks on scope exit."""
    baseline = _n_cached_rdds(spark)
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    # build a deliberately deep self-joining composition
    for _ in range(3):
        df = df.join(df.withColumnRenamed("x", "y").select("id", "y"),
                     "id").select("id", (F.col("x") + F.col("y"))
                                  .alias("x"))
    deep_plan = df._jdf.queryExecution().analyzed().treeString()
    with CacheScope() as scope:
        cp = scope.checkpoint(df)
        assert cp.count() == 100
        flat_plan = cp._jdf.queryExecution().analyzed().treeString()
        # truncated: the checkpointed plan is a flat scan, orders of
        # magnitude smaller than the composition it replaced
        assert len(flat_plan) < len(deep_plan) / 4
        assert "LogicalRDD" in flat_plan or "ExistingRDD" in flat_plan
        assert _n_cached_rdds(spark) > baseline
        # values survive the truncation
        assert cp.agg(F.sum("x")).collect()[0][0] == \
            df.agg(F.sum("x")).collect()[0][0]
    assert _n_cached_rdds(spark) == baseline


def test_cache_scope_checkpoint_rejects_custom_level(spark):
    """checkpoint() can't honor a non-default storage level
    (localCheckpoint takes none) — it must refuse, not silently break
    the scope's memory-bounding contract."""
    from pyspark.storagelevel import StorageLevel

    with CacheScope(StorageLevel.DISK_ONLY) as scope:
        with pytest.raises(ValueError, match="MEMORY_AND_DISK"):
            scope.checkpoint(spark.range(5))
