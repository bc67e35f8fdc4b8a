"""Per-layer metrics of the traced run.

Spans are recorded from the benchmark's own code around calls into each
layer's public functions; Spark's status stores are read around them
(``status.StatusReader``). Layer probes run on the workload's own
inputs: the whole corpus for the scan, heuristics, pipeline and
checkpoint probes, and its first ``PROBE_DOCS`` docs for the dedup,
graph, curate and incremental probes, whose cost grows faster than
linearly with doc length and count.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

import numpy as np
import pandas as pd

PROBE_DOCS = 60
KERNEL_DOCS = 200
SHINGLE_SHORT_DOCS = 20  # the kept probe docs just below their median length
SHINGLE_LONG_DOCS = 4  # the longest docs; one per core
INGEST_BATCHES = 4
INGEST_DOCS = 60  # split over INGEST_BATCHES
REPEATS = 3  # in-process kernel timings: median of this many


def _median_time(fn, repeats: int = REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _metric(value, unit):
    return {"value": float(value), "unit": unit}


class Probe:
    """A span plus the status-store counters of the jobs inside it."""

    def __init__(self, tracer, status, name):
        self.tracer, self.status, self.name = tracer, status, name

    def __enter__(self):
        self.before_job = self.status.last_job_id()
        self.before_exec = self.status.last_execution_id()
        self._span = self.tracer.span(self.name)
        self.rec = self._span.__enter__()
        return self

    def __exit__(self, *exc):
        self._span.__exit__(*exc)
        self.seconds = self.rec["end"] - self.rec["start"]
        if exc[0] is None:
            self.counters = self.status.call_counters(self.before_job,
                                                      self.seconds)
            self.rec["spark"] = self.counters


def kernel_metrics(models, pdf: pd.DataFrame, tracer) -> dict:
    from datacanary_spark.functions.scrub import scrub_series

    texts = pdf["text"].iloc[:KERNEL_DOCS].reset_index(drop=True)
    n = len(texts)
    out = {}
    for name, fn in (("langid", lambda: models.langid.predict(texts)),
                     ("ppl", lambda: models.perplexity.score(texts)),
                     ("scrub", lambda: scrub_series(texts))):
        with tracer.span(f"kernels.{name}"):
            out[f"kernels.{name}_docs_per_s"] = \
                _metric(n / _median_time(fn), "docs/s")
    return out


def filter_layer_metrics(spark, models, status, tracer, in_dir: str,
                         n_docs: int, work: str) -> dict:
    from pyspark.sql import functions as F

    from datacanary_spark.functions.heuristics import (
        FilterConfig,
        heuristic_hit_exprs,
        stat_cols,
        with_text_stats,
    )
    from datacanary_spark.plans.checkpoint import run_filter_job
    from datacanary_spark.plans.lineage import partition_lineage
    from datacanary_spark.plans.pipeline import broadcast_models, filter_pages
    from perfbench.workloads import FilterBulk, dir_bytes

    cfg = FilterConfig()
    out = {}
    with Probe(tracer, status, "io.scan") as p:
        spark.read.parquet(in_dir).agg(F.sum(F.length("text")),
                                       F.count(F.lit(1))).collect()
    out["io.scan_s"] = _metric(p.seconds, "s")

    with Probe(tracer, status, "heuristics.hits") as p:
        hits = heuristic_hit_exprs(cfg, stat_cols())
        with_text_stats(spark.read.parquet(in_dir)) \
            .agg(*[F.sum(c).alias(k) for k, c in hits.items()]).collect()
    out["heuristics.docs_per_s"] = _metric(n_docs / p.seconds, "docs/s")

    bc = broadcast_models(spark, models)
    with tracer.span("pipeline.plan_build") as s:
        verdicts = filter_pages(spark.read.parquet(in_dir), bc, cfg)
    out["pipeline.plan_build_s"] = _metric(s["end"] - s["start"], "s")
    with Probe(tracer, status, "pipeline.exec") as p:
        verdicts.agg(F.sum(F.col("keep").cast("int"))).collect()
    out["pipeline.exec_s"] = _metric(p.seconds, "s")
    out["pipeline.python_udf_s"] = _metric(
        status.python_udf_s(p.before_exec), "s")
    bc.unpersist()

    ckpt_out = os.path.join(work, "probe-checkpoint")
    with Probe(tracer, status, "checkpoint.run_filter_job") as p:
        run_filter_job(spark, in_dir, ckpt_out, models=models,
                       n_chunks=FilterBulk.n_chunks)
    out["checkpoint.jobs"] = _metric(p.counters["jobs"], "count")
    out["checkpoint.write_s"] = _metric(
        status.write_seconds(p.before_exec, "/data/chunk="), "s")
    out["checkpoint.output_mb"] = _metric(
        (dir_bytes(os.path.join(ckpt_out, "data"))
         + dir_bytes(os.path.join(ckpt_out, "metrics"))) / 1e6, "MB")
    with Probe(tracer, status, "lineage.partition") as p:
        partition_lineage(spark.read.parquet(
            os.path.join(ckpt_out, "data")), cfg).collect()
    out["lineage.partition_s"] = _metric(p.seconds, "s")
    return out


def longest_kept(pdf: pd.DataFrame, models) -> pd.DataFrame:
    """The ``SHINGLE_LONG_DOCS`` longest docs of ``pdf`` the filter keeps
    (by the golden twin)."""
    from datacanary_spark.functions.heuristics import FilterConfig
    from datacanary_spark.golden import golden_labels

    fits = pdf["text"].str.split().str.len() <= FilterConfig().max_words
    order = pdf.loc[fits, "text"].str.len().sort_values(ascending=False).index
    kept = []
    for at in range(0, len(order), 32):  # golden-label in chunks, longest first
        cand = pdf.loc[order[at:at + 32]]
        kept.append(cand.loc[golden_labels(cand, models=models)["keep"]
                             .to_numpy()])
        if sum(map(len, kept)) >= SHINGLE_LONG_DOCS:
            break
    return pd.concat(kept).iloc[:SHINGLE_LONG_DOCS]


def dedup_layer_metrics(spark, status, tracer, pdf: pd.DataFrame,
                        probe: pd.DataFrame, models, work: str,
                        curate_jobs: float | None) -> dict:
    from pyspark.sql import functions as F

    from datacanary_spark.functions.lsh_tuning import choose_bands
    from datacanary_spark.golden import golden_labels
    from datacanary_spark.operators.dedup import (
        char_shingles,
        dedup_exact,
        dedup_lines,
        jaccard_for_pairs,
        lsh_candidate_pairs,
        minhash_signature,
    )
    from datacanary_spark.operators.graph import components_of_pairs
    from datacanary_spark.plans.caching import CacheScope
    from datacanary_spark.plans.curate import run_curation_job
    from perfbench.corpus import write_corpus
    from perfbench.workloads import CurateDedup

    threshold = CurateDedup.near_dup_threshold
    keep = golden_labels(probe, models=models)["keep"].to_numpy()
    df = spark.createDataFrame(probe.loc[keep, ["url", "text"]],
                               "url string, text string") \
        .repartition(spark.sparkContext.defaultParallelism)
    out = {}
    with Probe(tracer, status, "dedup.exact") as p:
        dedup_exact(df, id_col="url", text_col="text").count()
    out["dedup.exact_s"] = _metric(p.seconds, "s")

    # near_dup_pairs(bands="auto") split at its two public steps, so
    # the candidate count comes from the same pass it verifies
    bands, _ = choose_bands(16, threshold, fp_weight=0.4, fn_weight=0.6)
    with Probe(tracer, status, "dedup.near_dup") as p, \
            CacheScope() as scope:
        cands = scope.persist(lsh_candidate_pairs(
            df, id_col="url", bands=bands, hash_fn="xxhash64", persist=scope))
        n_cand = cands.count()
        pairs = jaccard_for_pairs(df, cands, id_col="url", persist=scope) \
            .where(F.col("jaccard") >= threshold)
        pairs = spark.createDataFrame(
            pairs.select("id_a", "id_b").toPandas(), "id_a string, id_b string")
    n_pairs = pairs.count()
    out["dedup.near_dup_s"] = _metric(p.seconds, "s")
    out["dedup.lsh_candidates"] = _metric(n_cand, "count")
    out["dedup.verified_pairs"] = _metric(n_pairs, "count")
    out["dedup.verify_yield"] = _metric(n_pairs / n_cand if n_cand else 0.0,
                                        "ratio")
    with Probe(tracer, status, "dedup.lines") as p, CacheScope() as scope:
        dedup_lines(df, id_col="url", persist=scope).count()
    out["dedup.lines_s"] = _metric(p.seconds, "s")

    # both ends of the length mix among docs the filter keeps, as
    # curation's dedup stages see them: the short end from the probe, the
    # long end the longest kept docs of the whole corpus
    kept = probe.loc[keep]
    by_len = kept.loc[kept["text"].str.len().sort_values().index]
    mid = len(by_len) // 2
    short = by_len.iloc[max(mid - SHINGLE_SHORT_DOCS, 0):mid]
    for end, docs in (("short", short),
                      ("long", longest_kept(pdf, models))):
        sdf = spark.createDataFrame(docs[["url", "text"]],
                                    "url string, text string") \
            .repartition(spark.sparkContext.defaultParallelism)
        # shingles bound to a column first, as the program binds them
        sigs = sdf.select(char_shingles(F.col("text")).alias("sh")) \
            .select(minhash_signature(F.col("sh"), 16, "xxhash64")
                    .alias("sig"))
        with Probe(tracer, status, f"dedup.shingle_{end}") as p:
            sigs.agg(F.max(F.array_max("sig"))).collect()
        out[f"dedup.shingle_{end}_docs_per_s"] = \
            _metric(len(docs) / p.seconds, "docs/s")

    with Probe(tracer, status, "graph.components") as p:
        components_of_pairs(df, pairs, id_col="url").count()
    out["graph.components_s"] = _metric(p.seconds, "s")
    out["graph.jobs"] = _metric(p.counters["jobs"], "count")

    if curate_jobs is None:  # not measured on this workload's calls
        probe_dir = os.path.join(work, "probe-input")
        write_corpus(probe, probe_dir)
        with Probe(tracer, status, "curate.run_curation_job") as p:
            run_curation_job(spark, probe_dir,
                             os.path.join(work, "probe-curate"),
                             models=models, near_dup_threshold=threshold,
                             line_dedup=True, host_cap=CurateDedup.host_cap)
        curate_jobs = p.counters["jobs"]
    out["curate.jobs"] = _metric(curate_jobs, "count")
    return out


def incremental_metrics(spark, status, tracer, probe: pd.DataFrame,
                        work: str) -> tuple[dict, list[str]]:
    """A closed loop of ``SignatureStore.ingest`` batches, each committed
    before the next; returns the metrics and the check failures."""
    from datacanary_spark.plans.incremental import SignatureStore

    docs = probe["text"].iloc[:INGEST_DOCS].reset_index(drop=True)
    docs = pd.DataFrame({"doc_id": np.arange(len(docs), dtype=np.int64),
                         "text": docs})
    store = SignatureStore.create(spark, os.path.join(work, "probe-store"),
                                  hash_fn="xxhash64")
    lat, jobs, accepted = [], [], set()
    for b, part in enumerate(np.array_split(docs, INGEST_BATCHES)):
        sdf = spark.createDataFrame(part, "doc_id long, text string")
        with Probe(tracer, status, "incremental.ingest") as p:
            ids = store.ingest(sdf, b).select("doc_id").toPandas()
        accepted |= set(ids["doc_id"])
        lat.append(p.seconds)
        jobs.append(p.counters["jobs"])
    with Probe(tracer, status, "incremental.store_read") as p:
        store.signatures().count()
        store.store_band_rows().count()
    read_s = p.seconds
    md5 = docs["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest())
    errs = []
    exact_copies = set(docs.loc[md5.duplicated(), "doc_id"])
    if accepted & exact_copies:
        errs.append(f"{len(accepted & exact_copies)} exact copies accepted")
    stored = set(store.exact_hashes().toPandas()["text_md5"])
    if stored != set(md5):
        errs.append(f"exact tier has {len(stored)} hashes, "
                    f"reference {md5.nunique()}")
    with Probe(tracer, status, "incremental.compact") as p:
        store.compact()
    q = max(len(lat) // 4, 1)
    out = {"incremental.jobs": _metric(statistics.median(jobs), "count"),
           "incremental.store_read_s": _metric(read_s, "s"),
           "incremental.batch_growth": _metric(
               statistics.median(lat[-q:]) / statistics.median(lat[:q]),
               "ratio"),
           "incremental.compact_s": _metric(p.seconds, "s")}
    return out, errs


SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
               "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s",
               "sched_gap_s": "s", "busy_ratio": "ratio", "max_task_s": "s",
               "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
               "spill_mb": "MB"}


def traced_metrics(wl, spark, models, status, pdf, in_dir, work, tracer,
                   calls, setup_steps, root, seed, facts, facts_host) -> dict:
    m = {"session.start_s": _metric(setup_steps["session.start"], "s"),
         "models.build_s": _metric(setup_steps["models.build"], "s"),
         "models.broadcast_s": _metric(setup_steps["models.broadcast"], "s")}
    m.update(kernel_metrics(models, pdf, tracer))
    m.update(filter_layer_metrics(spark, models, status, tracer, in_dir,
                                  len(pdf), work))
    probe = pdf.iloc[:PROBE_DOCS]
    traced = [c for c in calls[1:] if c["traced"]]
    curate_jobs = (statistics.median(c["spark"]["jobs"] for c in traced)
                   if wl.name == "curate_dedup" else None)
    m.update(dedup_layer_metrics(spark, status, tracer, pdf, probe, models,
                                 work, curate_jobs))
    inc, errs = incremental_metrics(spark, status, tracer, probe, work)
    m.update(inc)
    if errs:  # the store's checks count as one more checked call
        calls.append({"call": "incremental", "errors": errs,
                      "wall_s": 0.0, "traced": True})
    status.release_leaks()

    workload_calls = [c for c in calls if isinstance(c["call"], int)]
    m["caching.leaked_rdds"] = _metric(
        sum(c["leaked_rdds"] for c in workload_calls), "count")
    m["caching.leaked_plans"] = _metric(
        sum(c["leaked_plans"] for c in workload_calls), "count")
    untraced = [c for c in workload_calls[1:] if not c["traced"]]
    for key, unit in SPARK_UNITS.items():
        m[f"spark.{key}"] = _metric(statistics.median(
            c["spark"][key] for c in traced), unit)
    p50_t = statistics.median(c["wall_s"] for c in traced)
    m["spark.sched_gap_share"] = _metric(
        statistics.median(c["spark"]["sched_gap_s"] / c["wall_s"]
                          for c in traced), "ratio")
    m["trace.call_p50_s"] = _metric(p50_t, "s")
    m["trace.overhead_ratio"] = _metric(
        p50_t / statistics.median(c["wall_s"] for c in untraced), "ratio")
    write_trace(wl, tracer, calls, m, root, seed, facts, facts_host)
    return m


def write_trace(wl, tracer, calls, metrics, root, seed, facts, facts_host):
    t0 = min(s["start"] for s in tracer.spans)
    spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
             for s in tracer.spans]
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{wl.name}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": seed, "corpus": facts,
                   "host": facts_host, "spans": spans, "calls": calls,
                   "metrics": metrics}, f, indent=1, default=str)
    print(f"trace written to {os.path.relpath(path, root)}")
    print("per-layer self time (s):")
    for name, secs in sorted(tracer.self_times().items(),
                             key=lambda kv: -kv[1]):
        print(f"  {name:34s} {secs:9.3f}")
    print(f"tracing overhead: traced/untraced call_p50 = "
          f"{metrics['trace.overhead_ratio']['value']:.3f}")
