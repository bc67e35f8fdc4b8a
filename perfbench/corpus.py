"""Seeded benchmark inputs, and the pins that keep them fixed.

Every corpus is a pure function of (workload, seed): pages come from
``sources.fixtures.make_doc``; the curate corpus adds exact and lightly
edited near copies of clean docs at stated shares, chosen here.

Seeds choose which docs, not how much work they are: the docs of a
corpus are drawn in id order under fixed quotas, so every seed's
corpus has exactly the generator's defect shares, and its clean docs
(the bulk of what survives the filter into dedup, whose cost grows
with the square of doc length) spread evenly over the deciles of the
generator's word-count range. Without the quotas, the work in a
200-doc curate corpus moved by about 10% from seed to seed.

The generator's own long docs (1100-1500 words) never reach dedup: the
filter's 1000-word cap drops them. The curate corpus therefore adds a
stated share of long docs that pass the filter (900 words, each the
joined texts of clean docs of one language), and copies some of them,
so dedup sees a long-doc tail.

A change to the generator would silently move every workload, so each
run first checks a generator probe digest and, for pinned seeds, the whole corpus
digest against ``pins.json``, and refuses to run on a mismatch.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

from datacanary_spark.sources.fixtures import (
    DEFECTS,
    LANG_WEIGHTS,
    LANGS,
    make_doc,
)

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "pins.json")
N_FILES = 4  # input parquet files per corpus: one scan task per core
_PROBE_SEEDS = (1, 2, 3)
_PROBE_IDS = range(64)


# make_doc's defect shares (in DEFECTS order) and clean word-count range
DEFECT_SHARES = (0.72, 0.06, 0.02, 0.05, 0.05, 0.04, 0.03, 0.03)
CLEAN_WORDS = (60, 400)
DECILES = 10
LONG_WORDS = 900  # words per injected long doc: under the filter's cap
LONG_ID_BASE = 10**6  # generator ids of long-doc parts, apart from others


class PinMismatch(RuntimeError):
    pass


def doc_class(doc_id: int, seed: int) -> tuple[str, int]:
    """A doc's defect and, for clean docs, its word-count decile, from
    make_doc's first draws (language, defect, word count) without
    building the doc. A change to those draws moves the generator
    digest, so the pins catch it."""
    rng = np.random.default_rng((seed, doc_id))
    rng.choice(len(LANGS), p=LANG_WEIGHTS)
    defect = DEFECTS[rng.choice(len(DEFECTS), p=DEFECT_SHARES)]
    lo, hi = CLEAN_WORDS
    decile = (int(rng.integers(lo, hi)) - lo) * DECILES // (hi - lo)
    return defect, (decile if defect == "clean" else 0)


def _shares_to_counts(n: int, shares) -> list[int]:
    """Largest-remainder rounding of ``n * shares``."""
    raw = [n * p for p in shares]
    counts = [int(r) for r in raw]
    for i in sorted(range(len(raw)), key=lambda i: counts[i] - raw[i])[
            :n - sum(counts)]:
        counts[i] += 1
    return counts


def stratified_pages(n: int, seed: int) -> pd.DataFrame:
    """``n`` generated pages under the defect and clean-decile quotas,
    taken in doc-id order."""
    quota = {}
    for defect, c in zip(DEFECTS, _shares_to_counts(n, DEFECT_SHARES)):
        if defect == "clean":
            for d, cd in enumerate(_shares_to_counts(c, [1 / DECILES]
                                                     * DECILES)):
                quota[(defect, d)] = cd
        else:
            quota[(defect, 0)] = c
    rows, decile, doc_id = [], [], 0
    left = n
    while left:
        key = doc_class(doc_id, seed)
        if quota[key]:
            quota[key] -= 1
            left -= 1
            rows.append(make_doc(doc_id, seed))
            decile.append(key[1] if key[0] == "clean" else -1)
        doc_id += 1
    pdf = pd.DataFrame(rows)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    return pdf.assign(clean_decile=decile)


def long_pages(n: int, seed: int) -> pd.DataFrame:
    """``n`` long pages that pass the quality filter, in the generator's
    language shares. Each joins the texts of consecutive clean docs of
    its language (generator ids from ``LONG_ID_BASE``) and is cut at
    ``LONG_WORDS`` words: seeds change which long docs, not how long
    they are."""
    quota = dict(zip(LANGS, _shares_to_counts(n, LANG_WEIGHTS)))
    rows, parts, doc_id = [], {lang: [] for lang in LANGS}, LONG_ID_BASE
    while len(rows) < n:
        if doc_class(doc_id, seed)[0] == "clean":
            doc = make_doc(doc_id, seed)
            lang = doc["lang"]
            acc = parts[lang]
            if quota[lang]:
                acc.append(doc)
            if sum(len(d["text"].split(" ")) for d in acc) >= LONG_WORDS:
                text = _cut_words("\n".join(d["text"] for d in acc),
                                  LONG_WORDS)
                rows.append({**acc[0], "text": text, "html": b"<html><body>"
                             + text.encode("utf-8") + b"</body></html>"})
                acc.clear()
                quota[lang] -= 1
        doc_id += 1
    pdf = pd.DataFrame(rows)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    return pdf.assign(clean_decile=DECILES)


def _cut_words(text: str, n_words: int) -> str:
    """``text`` up to its ``n_words``-th space-separated word, lines
    kept."""
    out = []
    for line in text.split("\n"):
        words = line.split(" ")
        out.append(" ".join(words[:n_words]))
        n_words -= len(words)
        if n_words <= 0:
            break
    return "\n".join(out)


def digest_pages(pdf: pd.DataFrame) -> str:
    h = hashlib.md5()
    for url, text, lang in zip(pdf["url"], pdf["text"], pdf["lang"]):
        h.update(f"{url}\0{text}\0{lang}\0".encode())
    return h.hexdigest()


def generator_digest() -> str:
    """Digest of a fixed grid of generated docs: moves with any change
    to the generator's output."""
    rows = [make_doc(i, s) for s in _PROBE_SEEDS for i in _PROBE_IDS]
    return digest_pages(pd.DataFrame(rows))


def describe(pdf: pd.DataFrame) -> dict:
    lens = pdf["text"].str.len().to_numpy()
    q = np.quantile(lens, [0.5, 0.9, 0.99, 1.0])
    return {"digest": digest_pages(pdf), "rows": int(len(pdf)),
            "len_p50": int(q[0]), "len_p90": int(q[1]),
            "len_p99": int(q[2]), "len_max": int(q[3])}


def near_copy(text: str, rng: np.random.Generator) -> str:
    """A lightly edited copy: one word replaced and one short line
    inserted — shingle Jaccard to the original stays well above 0.8
    for every doc long enough to pass the quality filter."""
    lines = text.split("\n")
    li = int(rng.integers(0, len(lines)))
    words = lines[li].split(" ")
    words[int(rng.integers(0, len(words)))] = "revised"
    lines[li] = " ".join(words)
    at = int(rng.integers(0, len(lines) + 1))
    lines.insert(at, f"updated on day {int(rng.integers(1, 365))}")
    return "\n".join(lines)


def with_copies(base: pd.DataFrame, seed: int, exact_share: float,
                near_share: float) -> pd.DataFrame:
    """``base`` plus exact copies of ``exact_share`` of its docs and near
    copies of another ``near_share``, rows shuffled. Originals are clean
    docs, picked round-robin over the word-count deciles and the long
    docs, so copies reach the dedup stages and carry a fixed share of
    their work. Copies get
    urls that sort after their original's, so min-url survivor rules
    keep the original; ``copy_of``/``copy_kind`` record the injection."""
    rng = np.random.default_rng((seed, 0xC0FFEE))
    n = len(base)
    n_exact, n_near = round(n * exact_share), round(n * near_share)
    decile = base["clean_decile"].to_numpy()
    pools = [list(rng.permutation(np.flatnonzero(decile == d)))
             for d in range(decile.max() + 1)]
    picks = [pools[j % len(pools)].pop() for j in range(n_exact + n_near)]
    base = base.assign(copy_of=None, copy_kind=None)
    copies = []
    for j, i in enumerate(picks):
        orig = base.iloc[int(i)]
        kind = "exact" if j < n_exact else "near"
        text = orig["text"] if kind == "exact" else near_copy(orig["text"], rng)
        copies.append({**orig.to_dict(), "url": f"{orig['url']}/{kind}-copy",
                       "text": text, "copy_of": orig["url"],
                       "copy_kind": kind})
    out = pd.concat([base, pd.DataFrame(copies)], ignore_index=True)
    return out.iloc[rng.permutation(len(out))].reset_index(drop=True)


def make_corpus(spec: dict, seed: int) -> pd.DataFrame:
    """The corpus of a workload ``spec`` (see workloads.py) for ``seed``."""
    pdf = stratified_pages(spec["docs"], seed)
    if spec.get("long_share"):
        pdf = pd.concat([pdf, long_pages(round(spec["docs"]
                                               * spec["long_share"]), seed)],
                        ignore_index=True)
    if spec.get("exact_share") or spec.get("near_share"):
        pdf = with_copies(pdf, seed, spec["exact_share"], spec["near_share"])
    return pdf


def file_of(pdf: pd.DataFrame) -> np.ndarray:
    """The input file of each doc. A scan task reads one file, and the
    program shingles docs in the task that read them, so with docs
    spread at random the few long docs fell unevenly on the tasks, and
    the straggler moved a curate call from seed to seed. The docs that
    reach the dedup stages' shingling, clean docs and long docs but not
    their exact copies, are dealt longest first, each to the file with
    the least squared length so far; the others are dealt in turn."""
    lengths = pdf["text"].str.len().to_numpy()
    shingled = (pdf["clean_decile"] >= 0).to_numpy()
    if "copy_kind" in pdf:
        shingled &= (pdf["copy_kind"] != "exact").to_numpy()
    files = np.empty(len(pdf), dtype=int)
    rest = np.flatnonzero(~shingled)
    files[rest] = np.arange(len(rest)) % N_FILES
    load = np.zeros(N_FILES)
    for i in np.flatnonzero(shingled)[np.argsort(-lengths[shingled],
                                                 kind="stable")]:
        files[i] = k = int(np.argmin(load))
        load[k] += float(lengths[i]) ** 2
    return files


def write_corpus(pdf: pd.DataFrame, path: str) -> None:
    """Write the page columns as ``N_FILES`` parquet files, dealt so
    every file carries the same share of the squared text length (see
    ``file_of``); rows keep their order within a file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pages = pdf[["url", "warc_ts", "html", "text", "lang"]]
    files = file_of(pdf)
    for k in range(N_FILES):
        part = np.flatnonzero(files == k)
        table = pa.Table.from_pandas(pages.iloc[part], preserve_index=False)
        # Spark cannot read TIMESTAMP(NANOS) parquet
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"),
                       coerce_timestamps="us", allow_truncated_timestamps=True)


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def check_pins(workload: str, seed: int, facts: dict) -> bool:
    """Raise ``PinMismatch`` if the generator or a pinned corpus moved;
    return whether ``seed`` was pinned for ``workload``."""
    pins = load_pins()
    got = generator_digest()
    if got != pins["generator"]:
        raise PinMismatch(f"generator digest {got} != pinned "
                          f"{pins['generator']}: the page generator changed")
    pinned = pins["corpora"].get(workload, {}).get(str(seed))
    if pinned is None:
        return False
    if pinned != facts:
        raise PinMismatch(f"{workload} seed {seed}: corpus {facts} != "
                          f"pinned {pinned}")
    return True
