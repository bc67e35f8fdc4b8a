"""The benchmark's workloads: seeded inputs, one call, and its checks.

Each workload is driven in a closed loop by one caller: the next call
is issued only after the previous one returned and was checked. A call
writes into a fresh output directory; ``check`` returns a list of
failures (empty when the call's output is correct).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from datacanary_spark.golden import f1_score, golden_labels
from perfbench import corpus

GOLDEN_SAMPLE = 200  # filter_bulk docs checked against the golden twin per call


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class FilterBulk:
    """``plans.checkpoint.run_filter_job`` over a duplicate-free corpus
    with the generator's defect and length mix."""

    name = "filter_bulk"
    spec = {"docs": 6000}
    n_chunks = 1  # one chunk of N_FILES files: a scan task per core

    def prepare(self, pdf: pd.DataFrame, in_dir: str, seed: int, models):
        self.in_dir, self.n_docs = in_dir, len(pdf)
        rng = np.random.default_rng((seed, 0x601D))
        sample = pdf.iloc[np.sort(rng.choice(len(pdf), GOLDEN_SAMPLE,
                                             replace=False))]
        self.golden = golden_labels(sample, models=models).set_index("url")

    def call(self, spark, models, out_dir: str) -> dict:
        from datacanary_spark.plans.checkpoint import run_filter_job

        return run_filter_job(spark, self.in_dir, out_dir, models=models,
                              n_chunks=self.n_chunks)

    def check(self, summary: dict, out_dir: str) -> list[str]:
        errs = []
        if summary["docs"] != self.n_docs:
            errs.append(f"docs {summary['docs']} != input {self.n_docs}")
        got = pq.read_table(os.path.join(out_dir, "data"),
                            columns=["url", "keep", "scrubbed_text"]) \
            .to_pandas().set_index("url")
        if not got.index.is_unique or len(got) != self.n_docs:
            errs.append(f"{len(got)} verdict rows for {self.n_docs} docs")
            got = got[~got.index.duplicated()]
        want = self.golden
        missing = want.index.difference(got.index)
        if len(missing):
            return errs + [f"{len(missing)} sampled docs missing"]
        got = got.loc[want.index]
        f1 = f1_score(got["keep"].astype(bool), want["keep"].astype(bool))
        if f1 < 0.99:
            errs.append(f"keep F1 {f1:.4f} < 0.99")
        bad = int((got["scrubbed_text"] != want["scrubbed_text"]).sum())
        if bad:
            errs.append(f"{bad} scrubbed texts differ from golden")
        return errs

    def output_bytes_per_doc(self, summary: dict, out_dir: str) -> float:
        return (dir_bytes(os.path.join(out_dir, "data"))
                + dir_bytes(os.path.join(out_dir, "metrics"))) / self.n_docs


class CurateDedup:
    """``plans.curate.run_curation_job`` with exact dedup, near-dup
    clusters, line dedup and a host cap, over a corpus with injected
    long docs that pass the filter, and exact and near copies."""

    name = "curate_dedup"
    spec = {"docs": 240, "long_share": 0.04, "exact_share": 0.10,
            "near_share": 0.10}
    near_dup_threshold = 0.8
    host_cap = 8

    def prepare(self, pdf: pd.DataFrame, in_dir: str, seed: int, models):
        self.in_dir, self.n_docs = in_dir, len(pdf)
        exact = (pdf["copy_kind"] == "exact").to_numpy()
        self.exact_copies = set(pdf.loc[exact, "url"])
        # a copy shares its original's text, so the filter keeps both or
        # neither; the exact stage must drop every kept copy, which a
        # later near-dup stage would otherwise hide
        keep = golden_labels(pdf, models=models)["keep"].to_numpy()
        self.exact_drops = int((keep & exact).sum())

    def call(self, spark, models, out_dir: str) -> dict:
        from datacanary_spark.plans.curate import run_curation_job

        return run_curation_job(spark, self.in_dir, out_dir, models=models,
                                near_dup_threshold=self.near_dup_threshold,
                                line_dedup=True, host_cap=self.host_cap)

    def check(self, summary: dict, out_dir: str) -> list[str]:
        errs = []
        got = pq.read_table(os.path.join(out_dir, "corpus"),
                            columns=["url", "text"]).to_pandas()
        md5 = got["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest())
        if md5.duplicated().any():
            errs.append(f"{int(md5.duplicated().sum())} survivors share md5")
        kept_copies = self.exact_copies & set(got["url"])
        if kept_copies:
            errs.append(f"{len(kept_copies)} injected exact copies survive")
        if summary["final_docs"] != len(got):
            errs.append(f"final_docs {summary['final_docs']} != {len(got)}")
        lineage = summary["stage_lineage"]
        exact_row = [r for r in lineage if r["stage"] == "after_exact_dedup"]
        if not exact_row or exact_row[0]["dropped"] != self.exact_drops:
            errs.append(f"exact stage dropped "
                        f"{exact_row[0]['dropped'] if exact_row else None}, "
                        f"expected the {self.exact_drops} kept exact copies")
        prev = self.n_docs
        if summary["docs_in"] != self.n_docs:
            errs.append(f"docs_in {summary['docs_in']} != {self.n_docs}")
        for row in lineage:
            if row["docs_in"] != prev or \
                    row["dropped"] != row["docs_in"] - row["docs_out"]:
                errs.append(f"lineage breaks at {row['stage']}")
            prev = row["docs_out"]
        if prev != len(got):
            errs.append(f"lineage ends at {prev}, corpus has {len(got)}")
        return errs

    def output_bytes_per_doc(self, summary: dict, out_dir: str) -> float:
        return dir_bytes(os.path.join(out_dir, "corpus")) \
            / max(summary["final_docs"], 1)


WORKLOADS = {w.name: w for w in (FilterBulk, CurateDedup)}


def load_inputs(wl, seed: int, in_dir: str) -> tuple[pd.DataFrame, dict, bool]:
    """Generate and write the workload's corpus; check it against the
    pins. Returns the corpus, its facts, and whether the seed is pinned."""
    pdf = corpus.make_corpus(wl.spec, seed)
    facts = corpus.describe(pdf)
    pinned = corpus.check_pins(wl.name, seed, facts)
    corpus.write_corpus(pdf, in_dir)
    return pdf, facts, pinned
