"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

A large-scale training-data pipeline dedups in three tiers, all here:

1. **Exact** — group by a content hash (``md5(text)``), keep one
   canonical doc per group. One shuffle on the hash; Spark's
   partial/final hash-agg makes the map side emit at most one row per
   distinct hash per task, so the shuffle carries ~|distinct| rows.
2. **Near-dup candidates (MinHash + LSH)** — char-shingle the text,
   take ``n_hashes`` min-hashes, slice the signature into bands, and
   shuffle once on (band_ix, band_key). Only docs agreeing on an entire
   band meet, turning the O(n²) all-pairs problem into
   O(sum over buckets of |bucket|²) with tiny buckets. Identical docs
   would make degenerate quadratic buckets — run exact dedup first and
   cap bucket size (``max_bucket``: oversized buckets are dropped;
   ``lsh_bucket_stats`` reports how many buckets/rows the cap excluded
   rather than letting a 1000-executor stage explode invisibly).
3. **Verify (n-gram Jaccard)** — candidate pairs only; a self-join on
   doc id (broadcast when the candidate set is small — AQE decides)
   followed by exact Jaccard over distinct shingle sets.

Hash-function discipline: every hash used here is ``md5`` over utf-8
(Spark ``F.md5`` == DuckDB ``md5`` == Python ``hashlib.md5``), so the
DuckDB oracle and the golden twin reproduce results bit-for-bit. The
min-hash is the lexicographic MIN of fixed-width hex digests — order on
hex strings equals order on the underlying 128-bit ints, so no hex→int
parsing is needed anywhere. At 10^12-doc scale pass ``hash_fn="xxhash64"``
to the MinHash family (signature/buckets/candidates/near_dup_pairs) and
trade oracle-matchability for ~3× hash throughput; LSH semantics are
otherwise identical and both modes agree on planted duplicates
(tests/test_dedup_similarity.py::test_near_dup_hash_modes_agree).

SimHash: 16-bit fingerprint where bit *i* is the majority vote of the
high bit of nibble *i* of ``md5(token)`` across the doc's tokens.
Hamming-close fingerprints ⇒ similar token multisets. Kept
SQL-expressible (nibble high-bit via ``strpos`` on the hex alphabet)
for the oracle; a 64/128-bit numpy variant is the scale path.

Reference lineage: generalizes UniqueValueRule/has_duplicates
(/root/reference/src/datacanary/rules/rule_engine.py:110-154,
/root/reference/src/datacanary/analysers/statistical_analyser.py:47-49)
from column-level uniqueness stats to corpus-level document identity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX = "0123456789abcdef"
HIGH_NIBBLES = frozenset("89abcdef")  # hex digits whose high bit is 1


# ---------------------------------------------------------------------------
# Shingling & signatures (pure Column expressions — codegen, no Python)
# ---------------------------------------------------------------------------

def char_shingles(text_col: Column, k: int = 5, lowercase: bool = True) -> Column:
    """Distinct character k-shingles of a document as array<string>.

    Whitespace runs are collapsed to single spaces first so formatting
    differences don't break shingle identity.
    """
    norm = F.regexp_replace(text_col, r"\s+", " ")
    if lowercase:
        norm = F.lower(norm)

    def shingles(t: Column) -> Column:
        n = F.length(t)
        return F.when(
            n >= k,
            F.transform(F.sequence(F.lit(1), n - k + 1),
                        lambda i: F.substring(t, i, k)),
        ).otherwise(F.when(n > 0, F.array(t)).otherwise(F.array().cast("array<string>")))

    # bind the normalized text once as a lambda variable: lambda bodies
    # are outside subexpression elimination, so capturing ``norm``
    # directly re-normalizes the whole text per shingle (O(length²))
    return F.array_distinct(
        F.element_at(F.transform(F.array(norm), shingles), 1))


def minhash_signature(shingles: Column, n_hashes: int = 16,
                      hash_fn: str = "md5") -> Column:
    """MinHash signature: for seed s, min over shingles of hash(s:shingle).

    ``hash_fn="md5"`` (default, the oracle mode): array<string>;
    lexicographic min over fixed-width hex == numeric min over the
    128-bit digests. ``hash_fn="xxhash64"`` (the scale mode, ~3× hash
    throughput, JVM-native non-cryptographic): array<long>, numeric min.
    Same LSH banding semantics either way; the oracle can only mirror
    the md5 mode (xxhash64 is Spark-only).
    """
    def one_seed(s: int) -> Column:
        # NB: the transform lambda must take exactly ONE parameter —
        # PySpark treats a two-parameter lambda as (element, index).
        prefix = f"{s}:"
        if hash_fn == "xxhash64":
            return F.array_min(F.transform(
                shingles, lambda sh: F.xxhash64(F.concat(F.lit(prefix), sh))))
        return F.array_min(F.transform(
            shingles, lambda sh: F.md5(F.concat(F.lit(prefix), sh))))

    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    return F.array(*[one_seed(s) for s in range(n_hashes)])


def simhash16(tokens: Column) -> Column:
    """16-bit SimHash over a token array, as an int bitmask.

    Bit i (i=0..15) is set iff, summed over tokens, the high bit of
    nibble i of md5(token) is 1 more often than 0 (ties → majority
    fails → bit 0: vote sum must be > 0).

    SINGLE token pass: one ``aggregate`` carries all 16 vote counters in
    an array accumulator, so each token is md5-hashed once. (The
    per-bit-aggregate formulation re-evaluated the md5 transform inside
    each of the 16 aggregates — higher-order-function subtrees are
    excluded from Spark's subexpression elimination, the same pitfall
    documented at minhash_signature.)
    """
    hashes = F.transform(tokens, lambda t: F.md5(t))
    init = F.array(*[F.lit(0) for _ in range(16)])

    def char_votes(h: Column) -> Column:
        # first 16 hex chars → ±1 votes ("(?!$)" splits between chars)
        chars = F.split(F.substring(h, 1, 16), r"(?!$)")
        return F.transform(
            chars, lambda ch: F.when(ch.isin(*HIGH_NIBBLES),
                                     F.lit(1)).otherwise(F.lit(-1)))

    votes = F.aggregate(
        hashes, init,
        lambda acc, h: F.zip_with(acc, char_votes(h), lambda a, v: a + v))
    powers = F.array(*[F.lit(1 << i) for i in range(16)])
    bits = F.zip_with(votes, powers,
                      lambda v, p: F.when(v > 0, p).otherwise(F.lit(0)))
    return F.aggregate(bits, F.lit(0), lambda acc, b: acc + b).cast("int")


def make_simhash64_udf():
    """64-bit SimHash as a vectorized pandas UDF — the cluster-scale
    variant of ``simhash16`` (which stays SQL-expressible for the
    oracle). Per batch: hash every token of every doc with md5 (one
    digest → 64 bits), unpack to a bit matrix, and segment-sum ±1 votes
    per document with ``np.add.reduceat``. Tokenization contract is the
    same ASCII-\\s split as everywhere else.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    # NB: no pd.Series type hints — inside this local scope pyspark sees
    # them as unresolvable strings and rejects the signature; the
    # hint-less form defaults to a scalar pandas UDF.
    def simhash64_batch(texts):
        docs = [("" if t is None else t) for t in texts]
        token_lists = [[w for w in _ASCII_WS.split(d) if w] for d in docs]
        counts = np.fromiter((len(t) for t in token_lists), np.int64,
                             count=len(token_lists))
        offsets = np.zeros(len(token_lists) + 1, np.int64)
        np.cumsum(counts, out=offsets[1:])
        if offsets[-1] == 0:
            return pd.Series(np.zeros(len(docs), np.int64), index=texts.index)
        digests = np.frombuffer(
            b"".join(hashlib.md5(w.encode("utf-8")).digest()[:8]
                     for toks in token_lists for w in toks),
            dtype=np.uint64)
        # int8 bit matrix: 64 B/token instead of int64's 512 B/token —
        # at ~10k-row Arrow batches of ~500-token web docs the int64
        # form allocates multi-GB per batch per core (executor OOM in
        # exactly the cluster-scale path this UDF exists for); the
        # segment sum widens to int64 inside reduceat, so results are
        # bit-identical
        bits = ((digests[:, None] >> np.arange(64, dtype=np.uint64)) &
                np.uint64(1)).astype(np.int8)           # (n_tokens, 64)
        votes = np.zeros((len(docs), 64), np.int64)
        nonempty = counts > 0
        if nonempty.any():
            votes[nonempty] = np.add.reduceat(bits, offsets[:-1][nonempty],
                                              axis=0, dtype=np.int64)
        majority = (2 * votes) > counts[:, None]         # bit=1 iff >half ones
        out = (majority.astype(np.uint64)
               << np.arange(64, dtype=np.uint64)).sum(axis=1)
        return pd.Series(out.view(np.int64), index=texts.index)

    return pandas_udf(T.LongType())(simhash64_batch)


import re as _re  # noqa: E402

_ASCII_WS = _re.compile(r"[ \t\n\x0B\f\r]+")  # same contract as heuristics


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """One row per distinct text: (text_md5, group_size, canonical_id).

    canonical_id = min id in the group (deterministic survivor pick).
    Single shuffle on the 128-bit content hash; group sizes are bounded
    by true duplicate multiplicity, and AQE splits any pathological
    skew (e.g. the empty document appearing 10^9 times).
    """
    # NULL text is UNKNOWN content: it is neither the same document as
    # empty text (a coalesce-to-'' would merge them) nor the same as any
    # OTHER null-text document (a shared sentinel would delete
    # all-but-one doc whose content merely failed to extract). Each
    # null-text row gets a per-row key — its own group of one, exempt
    # from dedup. The '#' + id suffix cannot collide with md5 hex.
    content_hash = F.when(
        F.col(text_col).isNull(),
        F.concat(F.lit("<NULL>#"), F.col(id_col).cast("string"))) \
        .otherwise(F.md5(F.col(text_col)))
    return (
        df.select(content_hash.alias("text_md5"),
                  F.col(id_col))
        .groupBy("text_md5")
        .agg(F.count(F.lit(1)).alias("group_size"),
             F.min(id_col).alias("canonical_id"))
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep exactly the canonical (min-id) row per distinct text.

    Implemented as groupBy + semi-join back (not dropDuplicates, whose
    survivor is partition-order-dependent and thus nondeterministic on
    a cluster).
    """
    canon = exact_dup_groups(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col))
    return df.join(canon, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash LSH near-dup candidates + Jaccard verify
# ---------------------------------------------------------------------------

def lsh_bucket_rows(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k_shingle: int = 5,
                    n_hashes: int = 16, bands: int = 4,
                    hash_fn: str = "md5") -> DataFrame:
    """Explode each doc into one row per LSH band: (band_ix, band_key, id).

    band_key concatenates the band's slice of the MinHash signature;
    docs sharing any full band land in the same bucket.
    """
    from datacanary_spark.plans.partitioning import spread_to_parallelism

    assert n_hashes % bands == 0, "bands must divide n_hashes"
    # The 16-pass MinHash over the shingle array is the dominant map
    # cost; make sure it runs on every core even when the input scanned
    # as one row group (no-op at real scale — see plans/partitioning).
    df = spread_to_parallelism(df)
    # bind the shingle array to a column FIRST: the signature references
    # it n_hashes times (one transform per seed) and would otherwise
    # re-derive it per seed per row (same lambda-arity/CSE pitfall as
    # functions/heuristics.with_text_stats — benchmarked ~10×)
    d = df.select(F.col(id_col),
                  char_shingles(F.col(text_col), k_shingle).alias("_sh"))
    # Docs with no shingles (null or empty text) all hash to the SAME
    # empty band key — at corpus scale that is one degenerate bucket of
    # every extraction failure (the Jaccard verify would reject the
    # pairs anyway, and max_bucket would drop the bucket, but there is
    # no reason to build it). Unknown content has no similarity
    # identity; exclude it from banding entirely.
    d = d.where(F.size("_sh") > 0)
    d = d.select(F.col(id_col),
                 minhash_signature(F.col("_sh"), n_hashes, hash_fn).alias("sig"))
    return band_rows_from_sig(d, id_col, "sig", n_hashes, bands)


def band_rows_from_sig(df: DataFrame, id_col: str = "doc_id",
                       sig_col: str = "sig", n_hashes: int = 16,
                       bands: int = 4) -> DataFrame:
    """Explode precomputed MinHash signatures into LSH band rows
    (band_ix, band_key, id) — the text-free half of ``lsh_bucket_rows``,
    usable over a persisted signature table (plans/incremental.py) where
    the document text is long gone."""
    assert n_hashes % bands == 0, "bands must divide n_hashes"
    rows = n_hashes // bands
    # fail FAST on a signature whose length doesn't match n_hashes (a
    # store written with different parameters, or a caller passing
    # defaults against a migrated table): with ANSI off, element_at
    # past the end yields null and concat_ws silently DROPS nulls —
    # every doc would share a truncated/empty band key, collapsing the
    # corpus into one quadratic bucket with no error.
    sig_ok = F.size(F.col(sig_col)) == F.lit(n_hashes)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_ix"),
            F.when(sig_ok, F.concat_ws(
                "|", *[F.element_at(F.col(sig_col), b * rows + r + 1)
                       .cast("string")
                       for r in range(rows)]))
             .otherwise(F.raise_error(F.concat(
                 F.lit(f"band_rows_from_sig: signature length "),
                 F.size(F.col(sig_col)).cast("string"),
                 F.lit(f" != n_hashes={n_hashes}")))).alias("band_key"),
        )
        for b in range(bands)
    ])
    return (df.select(F.col(id_col), F.explode(band_structs).alias("band"))
              .select(id_col, "band.band_ix", "band.band_key"))


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k_shingle: int = 5,
                        n_hashes: int = 16, bands: int = 4,
                        max_bucket: int = 1000,
                        hash_fn: str = "md5",
                        persist: bool = True) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from LSH buckets.

    The only wide ops: one shuffle on (band_ix, band_key) to form
    buckets, a within-bucket self-join, and a distinct on the pair.
    ``max_bucket`` drops degenerate buckets (run exact dedup first so
    these are hash collisions / boilerplate, not real content).

    Plan discipline: bucket sizes come from a WINDOW count over the
    bucket shuffle (not an aggregate + join back) so the expensive
    MinHash signature pipeline is computed once and its exchange is
    reused by both sides of the self-join. The original agg-join
    formulation recomputed the signatures three times — measured 2.6×
    slower end-to-end on a 5k-doc corpus.
    """
    from pyspark.sql import Window

    from datacanary_spark.plans.caching import maybe_persist

    b = lsh_bucket_rows(df, id_col, text_col, k_shingle, n_hashes, bands,
                        hash_fn)
    w = Window.partitionBy("band_ix", "band_key")
    b = (b.withColumn("_sz", F.count(F.lit(1)).over(w))
          .where(F.col("_sz") <= max_bucket).drop("_sz"))
    # Persist the bucket rows: they are tiny (id + band key — the text is
    # already dropped) and BOTH sides of the self-join read them; without
    # this the 16-pass MinHash pipeline is recomputed per side (exchange
    # reuse is not guaranteed across the differently-projected sides).
    # At 10^12 docs this is ~bands·(8+key) bytes/doc spilled to local
    # disk — far cheaper than a second signature pass over the corpus
    # text. Lifetime: with persist=True the blocks live until the caller
    # unpersists or clears the cache (the returned frame is lazy, so the
    # operator has no safe unpersist point); pass a
    # plans.caching.CacheScope for a deterministic release point, or
    # persist=False for pipelines that manage their own caching.
    b = maybe_persist(b, persist)
    left = b.select(F.col("band_ix"), F.col("band_key"), F.col(id_col).alias("id_a"))
    right = b.select(F.col("band_ix"), F.col("band_key"), F.col(id_col).alias("id_b"))
    return (left.join(right, ["band_ix", "band_key"])
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").distinct())


def dedup_lines(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", min_chars: int = 1,
                persist: bool = True, sep: str = "\n") -> DataFrame:
    """C4-style line-level corpus dedup (Raffel et al. 2020 §2.2: C4
    removes repeated three-sentence spans; the unit here is the LINE,
    the form most webtext pipelines use for boilerplate).

    ``sep`` picks the dedup unit: ``"\\n"`` (default) dedups lines,
    ``"\\n\\n"`` dedups PARAGRAPHS (the RefinedWeb/Dolma granularity —
    a repeated paragraph is removed whole instead of line-by-line,
    which preserves intra-paragraph structure of the surviving copy).
    The separator is literal text, used for both split and reassembly
    (split-then-join is the identity when nothing is removed — a
    ``"\\n\\n\\n"`` run keeps its extra newline inside the following
    fragment); regex metacharacters are rejected.

    Every distinct line is kept exactly once corpus-wide — in the
    document where it FIRST appears (minimum (id, line position)) —
    and removed everywhere else; lines shorter than ``min_chars``
    (e.g. blank separators) are exempt and always kept. Documents are
    reassembled in original line order; a document whose every line was
    removed becomes the empty string (it stays in the output — the
    caller decides whether to drop now-empty docs). Null-text documents
    (extraction failures) pass through UNCHANGED — text stays null, the
    row stays in the output, and no line of theirs participates in
    dedup (null has no lines).

    Scale shape: NOT a row_number window over the line key — a hot
    boilerplate line ("Accept cookies") appearing in 10^9 documents
    would funnel into one window partition. Instead the first occurrence
    is a ``min(struct(id, pos))`` AGGREGATE (map-side partials absorb
    the hot key) joined back on the line hash, where AQE's skew join
    splits the hot key's probe side. Two linear shuffles total: line
    hash (agg + join) and id (reassembly).

    ``persist`` caches the exploded/hashed line rows, which BOTH the
    firsts aggregate and the join-back read (plus the short-line
    branch) — without it the corpus is re-split and re-hashed per
    consumer (~3× the map work). Same tri-state lifetime contract as
    lsh_candidate_pairs (bool or plans.caching.CacheScope).
    """
    from datacanary_spark.plans.caching import maybe_persist

    if not sep:
        # F.split("") explodes into single characters — corpus-wide
        # CHARACTER dedup would silently destroy every document
        raise ValueError("sep must be a non-empty literal string")
    if any(ch in r".^$*+?{}[]|()\\" for ch in sep):
        raise ValueError(
            f"sep must be literal text (no regex metacharacters): {sep!r}")
    lines = maybe_persist(df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "ln")),
        persist)
    long_ln = maybe_persist(
        lines.where(F.length("ln") >= min_chars)
             .withColumn("key", F.md5("ln")), persist)
    firsts = long_ln.groupBy("key").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first"))
    kept_long = (long_ln.join(firsts, "key")
                 .where((F.col(id_col) == F.col(f"first.{id_col}"))
                        & (F.col("pos") == F.col("first.pos")))
                 .select(id_col, "pos", "ln"))
    kept = lines.where(F.length("ln") < min_chars).unionByName(kept_long)
    reassembled = (kept.groupBy(id_col)
                   .agg(F.concat_ws(sep, F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                       lambda s: s["ln"])).alias("_text")))
    ids = df.where(F.col(text_col).isNotNull()).select(id_col)
    deduped = (ids.join(reassembled, id_col, "left")
               .select(id_col, F.coalesce("_text", F.lit("")).alias(text_col)))
    null_docs = df.where(F.col(text_col).isNull()) \
                  .select(id_col, F.col(text_col).cast("string").alias(text_col))
    return deduped.unionByName(null_docs)


def winnow_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 8,
                         window: int = 4, min_shared: int = 5,
                         max_posting: int = 50,
                         persist: bool = True) -> DataFrame:
    """Partial-overlap pairs (id_a < id_b, shared_fps) via winnowing.

    The copied-passage tier of the dedup stack: exact dedup catches
    identical docs, MinHash/LSH catches globally-similar docs, and this
    catches a paragraph pasted into an otherwise-different page —
    ``winnow_fingerprints`` guarantees a shared fingerprint for any
    shared run of >= k + window - 1 normalized chars.

    Shape: explode fingerprints → drop ubiquitous fingerprints
    (posting list > ``max_posting``: boilerplate grams carry no
    discriminative signal and would create quadratic hot keys — same
    role as LSH ``max_bucket``) → fp equi-join → per-pair count >=
    ``min_shared``. One shuffle on fp; never a pairwise text scan.
    Posting sizes come from a window count over the fp shuffle and the
    tiny (id, fp) rows are persisted for both join sides, mirroring
    lsh_candidate_pairs' plan discipline (see its docstring for the
    persist-lifetime contract).
    """
    from pyspark.sql import Window

    from datacanary_spark.operators.text_analysis import winnow_fingerprints
    from datacanary_spark.plans.caching import maybe_persist
    from datacanary_spark.plans.partitioning import spread_to_parallelism

    # the O(chars·window) rolling-hash fingerprinting is the dominant
    # map cost — spread it across cores (no-op at real scale)
    fps = spread_to_parallelism(df).select(
        F.col(id_col),
        F.explode(winnow_fingerprints(F.col(text_col), k, window)).alias("fp"))
    w = Window.partitionBy("fp")
    fps = (fps.withColumn("_n", F.count(F.lit(1)).over(w))
              .where(F.col("_n") <= max_posting).drop("_n"))
    fps = maybe_persist(fps, persist)
    left = fps.select(F.col("fp"), F.col(id_col).alias("id_a"))
    right = fps.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (left.join(right, "fp")
                .where(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("shared_fps"))
                .where(F.col("shared_fps") >= min_shared))


def decontaminate(corpus: DataFrame, reference: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  ref_text_col: str = "text", mode: str = "exact",
                  k: int = 8, window: int = 4, min_shared: int = 5,
                  max_posting: int | None = None,
                  persist: bool = False) -> DataFrame:
    """Remove corpus documents that overlap a reference corpus
    (test-set / benchmark decontamination).

    ``mode="exact"``: drop corpus docs whose normalized content
    fingerprint appears in the reference — a LEFT ANTI join on the
    fingerprint (null-fingerprint docs are never dropped: unknown
    content is not evidence of contamination).

    ``mode="winnow"``: drop corpus docs sharing >= ``min_shared``
    winnowing fingerprints with ANY reference doc — catches a benchmark
    question quoted inside an otherwise-novel page. Asymmetric posting
    join: reference fingerprints are DISTINCT (the reference's own
    duplication is irrelevant) and, being benchmark-sized, typically
    broadcast. One shuffle on the fingerprint at most — never a
    pairwise text scan.

    ``max_posting`` is OFF by default, unlike the self-join operators:
    here each corpus fingerprint row matches at most one (distinct)
    reference row, so there is no quadratic blowup for the cap to
    prevent — and capping would mean the WORSE a benchmark leak (the
    more corpus docs quote the passage), the LESS gets removed. Set it
    only to ignore corpus-wide boilerplate fingerprints deliberately.

    ``persist=True`` caches the corpus input, which is referenced twice
    (fingerprint branch + the final anti-join); the default leaves it
    uncached because re-scanning a 100-TB corpus once is usually
    cheaper than caching it — persist when the corpus is a small or
    expensive-to-recompute frame (same lifetime contract as
    lsh_candidate_pairs).

    Returns the surviving corpus rows (schema unchanged).
    """
    from datacanary_spark.operators.text_analysis import (
        content_fingerprint,
        winnow_fingerprints,
    )

    if mode == "exact":
        # collision-safe temp column: withColumn would silently REPLACE
        # (and the later drop delete) a pre-existing caller column named
        # "_fp", breaking the "schema unchanged" return contract
        fp_col = "_fp"
        while fp_col in corpus.columns:
            fp_col += "_"
        ref_fp = reference.select(
            content_fingerprint(F.col(ref_text_col)).alias(fp_col)) \
            .where(F.col(fp_col).isNotNull()).distinct()
        keyed = corpus.withColumn(
            fp_col, content_fingerprint(F.col(text_col)))
        return keyed.join(ref_fp, fp_col, "left_anti").drop(fp_col)
    if mode != "winnow":
        raise ValueError(f"unknown mode: {mode!r} (exact|winnow)")

    from datacanary_spark.plans.caching import maybe_persist

    corpus = maybe_persist(corpus, persist)

    from datacanary_spark.plans.partitioning import spread_to_parallelism

    c_fp = spread_to_parallelism(corpus).select(
        F.col(id_col),
        F.explode(winnow_fingerprints(F.col(text_col), k, window))
        .alias("fp"))
    if max_posting is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("fp")
        c_fp = (c_fp.withColumn("_n", F.count(F.lit(1)).over(w))
                    .where(F.col("_n") <= max_posting).drop("_n"))
    r_fp = reference.select(
        F.explode(winnow_fingerprints(F.col(ref_text_col), k, window))
        .alias("fp")).distinct()
    contaminated = (c_fp.join(r_fp, "fp")
                    .groupBy(id_col)
                    .agg(F.count(F.lit(1)).alias("_shared"))
                    .where(F.col("_shared") >= min_shared)
                    .select(id_col))
    return corpus.join(contaminated, id_col, "left_anti")


def ngram_overlap_stats(corpus: DataFrame, reference: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        ref_text_col: str = "text", k: int = 13,
                        broadcast_ref: bool = True) -> DataFrame:
    """Per-document word-k-gram contamination against a reference set —
    the exhaustive n-gram decontamination measurement (GPT-3 appendix C
    used 13-grams; Llama-class pipelines use token-overlap fractions):
    for each corpus doc, the fraction of its k-gram POSITIONS whose
    gram also occurs anywhere in the reference.

    Differs from ``decontaminate(mode="winnow")``: winnowing samples
    fingerprints (cheap, threshold = shared FINGERPRINTS), this scores
    every position (exhaustive, threshold = an interpretable fraction
    of the document). Tokenization is the shared ``words_expr``
    whitespace contract; grams are space-joined, compared via md5 (the
    16-byte key is what travels, never the gram text).

    Scale shape: the reference's DISTINCT gram hashes are benchmark-
    sized — broadcast by default so the corpus-side probe is a map-only
    broadcast join (one scan, no corpus shuffle before the per-doc
    aggregate). ``broadcast_ref=False`` shuffles both sides on the hash
    for a reference too big to ship (then the corpus explode shuffles
    ~one 16-byte row per position — still never doc×doc).

    Docs with fewer than k tokens (or NULL text) have no positions and
    are ABSENT from the result (same contract as score_stupid_backoff;
    ``decontaminate`` treats absent as overlap 0 — no positions is not
    evidence of contamination).

    Returns ``(id_col, n_grams long, n_contaminated long,
    overlap_frac double)``.
    """
    from datacanary_spark.functions.heuristics import ngrams_expr, words_expr
    from datacanary_spark.plans.partitioning import spread_to_parallelism

    ref_grams = (reference
                 .where(F.col(ref_text_col).isNotNull())
                 .select(F.explode(
                     ngrams_expr(words_expr(F.col(ref_text_col)), k))
                     .alias("_g"))
                 .select(F.md5(F.col("_g")).alias("_h"))
                 .distinct()
                 .withColumn("_hit", F.lit(1)))
    if broadcast_ref:
        ref_grams = F.broadcast(ref_grams)
    pos = (spread_to_parallelism(
               corpus.where(F.col(text_col).isNotNull()))
           .select(F.col(id_col),
                   F.explode(ngrams_expr(words_expr(F.col(text_col)), k))
                   .alias("_g"))
           .select(F.col(id_col), F.md5(F.col("_g")).alias("_h")))
    per_doc = (pos.join(ref_grams, "_h", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.coalesce(F.sum("_hit"), F.lit(0)).cast("long")
                     .alias("n_contaminated")))
    return per_doc.withColumn(
        "overlap_frac",
        F.col("n_contaminated").cast("double") / F.col("n_grams"))


def decontaminate_ngrams(corpus: DataFrame, reference: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         ref_text_col: str = "text", k: int = 13,
                         max_overlap_frac: float = 0.0,
                         broadcast_ref: bool = True) -> DataFrame:
    """Drop corpus docs whose k-gram overlap fraction against the
    reference EXCEEDS ``max_overlap_frac`` (default 0.0: any shared
    k-gram contaminates — the GPT-3 rule). Docs with NULL text or
    fewer than k tokens always survive (no positions is not evidence).
    Returns surviving corpus rows, schema unchanged."""
    stats = ngram_overlap_stats(corpus, reference, id_col, text_col,
                                ref_text_col, k, broadcast_ref)
    contaminated = (stats
                    .where(F.col("overlap_frac") > max_overlap_frac)
                    .select(id_col))
    return corpus.join(contaminated, id_col, "left_anti")


def decontaminate_minhash(corpus: DataFrame, reference: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          ref_text_col: str = "text", k_shingle: int = 5,
                          n_hashes: int = 16, bands: int = 4,
                          threshold: float = 0.5, hash_fn: str = "md5",
                          broadcast_ref: bool = True,
                          persist: bool = False) -> DataFrame:
    """Drop corpus docs NEAR-DUPLICATE to any reference doc — the fuzzy
    tier of the decontamination stack (GPT-class pipelines run a
    MinHash pass alongside exact/n-gram rules: it catches a benchmark
    item that was reflowed, re-punctuated, or lightly edited, where
    exact fingerprints miss and the 13-gram rule frays).

    Contamination law: a corpus doc is contaminated iff its MinHash
    signature shares >= 1 full LSH band with some reference doc AND the
    signature-estimated Jaccard against that doc's signature is
    >= ``threshold`` (``plans.incremental.sig_jaccard_estimate``).
    NULL/empty corpus text has no shingles, hence no signature — it
    always survives (unknown content is not evidence of contamination,
    same contract as the exact mode).

    Scale shape: reference signatures are benchmark-sized — their band
    rows (carrying the ref signature for the verify) BROADCAST by
    default, so the corpus side is one map-only probe; candidates are
    rare, so the signature re-attach join and the final anti-join move
    only candidate-sized rows. ``broadcast_ref=False`` shuffles the
    band join for an oversized reference. The corpus is never
    all-pairs'd and never shuffled in full.

    ``persist`` (bool or a plans.caching.CacheScope) caches the corpus
    (id, sig) rows read by both the band explode and the verify join
    (same lifetime contract as lsh_candidate_pairs — the caller owns
    the release point). The default recomputes: the verify join's
    c_sig branch re-runs the FULL shingle+hash pass (there is no
    join-key pushdown to limit it to candidates), so pass a scope
    whenever the corpus is large — plans/curate.py does.
    """
    from datacanary_spark.plans.caching import maybe_persist
    from datacanary_spark.plans.incremental import sig_jaccard_estimate
    from datacanary_spark.plans.partitioning import spread_to_parallelism

    def sig_rows(df, idc, tc, spread):
        d = spread_to_parallelism(df) if spread else df
        d = d.select(F.col(idc),
                     char_shingles(F.col(tc), k_shingle).alias("_sh"))
        d = d.where(F.size("_sh") > 0)
        return d.select(F.col(idc),
                        minhash_signature(F.col("_sh"), n_hashes,
                                          hash_fn).alias("sig"))

    c_sig = maybe_persist(
        sig_rows(corpus.select(id_col, text_col), id_col, text_col, True),
        persist)
    # the reference needs no id: DISTINCT signatures are its similarity
    # identity, and the signature itself rides the band rows as the
    # verify key (band_rows_from_sig carries whatever column is named)
    r_sig = (sig_rows(reference.select(F.col(ref_text_col).alias("_rt")),
                      "_rt", "_rt", False)
             .select(F.col("sig").alias("_ref_sig")).distinct())
    r_bands = band_rows_from_sig(r_sig, "_ref_sig", "_ref_sig",
                                 n_hashes, bands)
    if broadcast_ref:
        r_bands = F.broadcast(r_bands)
    c_bands = band_rows_from_sig(c_sig, id_col, "sig", n_hashes, bands)
    # no distinct on the candidate rows (r06): a (doc, ref) pair
    # hitting several bands repeats its 16-component estimate — cheap,
    # bounded by the band count — whereas the distinct shuffled the
    # candidate rows WITH their full reference signatures (16 md5
    # strings each) as the key; ``contaminated`` distincts the ids
    # below, so the result is unchanged.
    cand = (c_bands.join(r_bands, ["band_ix", "band_key"])
            .select(id_col, "_ref_sig"))
    est = sig_jaccard_estimate(F.col("sig"), F.col("_ref_sig"), n_hashes)
    contaminated = (cand.join(c_sig, id_col)
                    .where(est >= threshold)
                    .select(id_col).distinct())
    return corpus.join(contaminated, id_col, "left_anti")


def lsh_bucket_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k_shingle: int = 5,
                     n_hashes: int = 16, bands: int = 4,
                     max_bucket: int = 1000,
                     hash_fn: str = "md5") -> DataFrame:
    """Lineage accounting for the ``max_bucket`` cap: one row with
    (n_buckets, n_oversize_buckets, n_rows_dropped) — the observability
    companion to lsh_candidate_pairs' silent bucket filter, so a
    boilerplate-heavy corpus's coverage loss is measurable, not
    invisible. Pass the SAME ``hash_fn`` as the candidate run: md5 and
    xxhash64 band keys bucket differently, so stats for one mode do not
    describe the other's drops."""
    b = lsh_bucket_rows(df, id_col, text_col, k_shingle, n_hashes, bands,
                        hash_fn)
    sizes = b.groupBy("band_ix", "band_key").agg(F.count(F.lit(1)).alias("sz"))
    # coalesce: F.sum over ZERO bucket rows (all-null-text corpus,
    # empty input) is null — lineage consumers need 0, not None
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum((F.col("sz") > max_bucket).cast("long")), F.lit(0))
        .alias("n_oversize_buckets"),
        F.coalesce(F.sum(F.when(F.col("sz") > max_bucket,
                                F.col("sz")).otherwise(0)), F.lit(0))
        .alias("n_rows_dropped"))


def jaccard_for_pairs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k_shingle: int = 5,
                      persist: bool = True) -> DataFrame:
    """Exact shingle-set Jaccard for each candidate pair.

    Joins the (small) pair list back to the corpus twice; at scale the
    pair side is broadcast (AQE) and the corpus side's shingle sets are
    computed ONCE and persisted (both join roles read the cache — a
    re-derivation per role would double the shingling cost).

    Only docs that actually APPEAR in a pair are shingled: a left-semi
    join prunes the corpus to candidate ids first, so the persisted
    shingle cache is O(candidate docs) — shingle arrays are ~5× the
    text, and caching them for 10^12 docs when the pair list covers a
    tiny fraction would dwarf the corpus itself.
    """
    from datacanary_spark.plans.caching import maybe_persist

    # pairs is read twice (candidate-id derivation + the final join) —
    # persist the tiny pair list so the upstream candidate join isn't
    # re-run per use; explode keeps it to ONE extra reference (a
    # per-side select union would add two)
    pairs = maybe_persist(pairs, persist)
    cand_ids = (pairs.select(F.explode(F.array("id_a", "id_b"))
                             .alias(id_col))
                .distinct())
    sh = (df.join(cand_ids, id_col, "left_semi")
            .select(F.col(id_col),
                    char_shingles(F.col(text_col), k_shingle).alias("sh")))
    sh = maybe_persist(sh, persist)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    bb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (pairs.join(a, "id_a").join(bb, "id_b")
            .select("id_a", "id_b",
                    F.try_divide(inter, union).alias("jaccard")))


def near_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k_shingle: int = 5,
                   n_hashes: int = 16, bands: int | str = 4,
                   threshold: float = 0.7,
                   hash_fn: str = "md5",
                   persist: bool = True) -> DataFrame:
    """End-to-end MinHash→LSH→Jaccard near-duplicate pairs ≥ threshold.

    ``hash_fn="xxhash64"`` is the documented 10^12-doc swap (3× hash
    throughput, Spark-only — keep md5 when oracle parity matters). The
    Jaccard verify stage is hash-independent, so both modes agree on
    every pair whose candidates survive LSH in both.

    ``bands="auto"`` calibrates the banding to the requested Jaccard
    ``threshold`` (functions/lsh_tuning.py::choose_bands, slightly
    FP-leaning: LSH false positives are filtered by the exact verify
    stage here, false negatives are unrecoverable). The default 4
    bands × 4 rows has its S-curve inflection at 0.25^0.25 ≈ 0.707 —
    already matched to the default threshold; "auto" matters when the
    caller moves the threshold or pays for a longer signature.
    """
    if bands == "auto":
        from datacanary_spark.functions.lsh_tuning import choose_bands

        bands, _ = choose_bands(n_hashes, threshold,
                                fp_weight=0.4, fn_weight=0.6)
    cands = lsh_candidate_pairs(df, id_col, text_col, k_shingle, n_hashes,
                                bands, hash_fn=hash_fn, persist=persist)
    j = jaccard_for_pairs(df, cands, id_col, text_col, k_shingle,
                          persist=persist)
    return j.where(F.col("jaccard") >= threshold)


def remove_repeated_ngrams(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 10,
                           min_count: int = 2,
                           hash_fn: str = "md5",
                           persist: bool = True) -> DataFrame:
    """Corpus-wide repeated-span removal at token-n-gram granularity —
    the Spark-expressible form of ExactSubstr dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": remove
    every repeated span, keeping its first occurrence). Where the paper
    builds a suffix array (inherently sequential over the concatenated
    corpus), this detects repeats as k-token sliding windows — the same
    granularity trade C4/CCNet make for boilerplate — which turns the
    problem into one count-shuffle over window hashes.

    Semantics:

    * unit = whitespace token; documents are whitespace-NORMALIZED on
      output (tokens rejoined with single spaces) — the tokenization is
      the identity, exactly as ``dedup_lines`` treats lines.
    * a k-token window is REPEATED iff it occurs ``min_count``+ times
      corpus-wide (all occurrences counted, same-doc repeats included).
    * its canonical occurrence — minimum (id, start) — keeps its
      tokens; every other occurrence is removed. Overlapping removal
      intervals union, so a token survives only if NO removed window
      covers it (a canonical window's tokens can still fall to an
      overlapping removed one).
    * docs with < k tokens carry no windows and pass through
      (normalized); null-text docs pass through with text null; a doc
      whose every token is covered becomes the empty string.

    Scale shape: the occurrence list is one row per token (the same
    cardinality a tokenizer pass already produces); repeats are found
    with a ``min(struct)`` AGGREGATE on the window hash — never a
    window function, so a boilerplate span occurring in 10^9 docs is
    absorbed by map-side partials and AQE's skew join on the way back.
    Reconstruction is pure Column expressions (``zip_with`` positions,
    ``exists`` over the doc's removal starts — bounded by the doc's
    own token count). ``hash_fn="xxhash64"`` is the documented
    10^12-doc swap; md5 keeps DuckDB-oracle parity.

    ``persist`` caches the tokenized docs (read by the occurrence
    explode AND the rebuild) and the window-hash occurrences (read by
    the firsts aggregate AND the removal join) — unpersisted, the
    per-window hashing runs twice over the corpus. Same tri-state
    lifetime contract as lsh_candidate_pairs.
    """
    from datacanary_spark.plans.caching import maybe_persist

    toks = F.filter(F.split(F.col(text_col), r"\s+"),
                    lambda x: x != F.lit(""))
    base = maybe_persist(df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("_toks")), persist)
    n = F.size("_toks")

    def _key(gram: Column) -> Column:
        return F.md5(gram) if hash_fn == "md5" else \
            F.xxhash64(gram).cast("string")

    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)) \
              .otherwise(F.array().cast("array<int>"))
    grams = F.transform(starts,
                        lambda s: _key(F.concat_ws(
                            " ", F.slice(F.col("_toks"), s + 1, k))))
    occ = maybe_persist(
        base.select(F.col(id_col),
                    F.posexplode(grams).alias("start", "_key")), persist)

    firsts = occ.groupBy("_key").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min(F.struct(F.col(id_col), F.col("start"))).alias("_first"))
    rem = (occ.join(firsts.where(F.col("_cnt") >= min_count), "_key")
           .where(~((F.col(id_col) == F.col(f"_first.{id_col}"))
                    & (F.col("start") == F.col("_first.start"))))
           .select(id_col, "start"))
    rem_by_doc = rem.groupBy(id_col).agg(
        F.collect_list("start").alias("_rm"))

    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)) \
           .otherwise(F.array().cast("array<int>"))
    pairs = F.zip_with(F.col("_toks"), idx,
                       lambda t, i: F.struct(t.alias("t"), i.alias("i")))
    kept = F.filter(
        pairs,
        lambda p: ~F.exists(F.col("_rm"),
                            lambda s: (p["i"] >= s) & (p["i"] < s + k)))
    rebuilt = (base.join(rem_by_doc, id_col, "left")
               .withColumn("_rm", F.coalesce(
                   F.col("_rm"), F.array().cast("array<int>")))
               .select(F.col(id_col),
                       F.array_join(F.transform(kept, lambda p: p["t"]),
                                    " ").alias(text_col)))
    null_docs = df.where(F.col(text_col).isNull()).select(
        F.col(id_col), F.col(text_col).cast("string").alias(text_col))
    return rebuilt.unionByName(null_docs)


def latest_snapshot_dedup(df: DataFrame, url_col: str = "url",
                          ts_col: str = "warc_ts",
                          id_col: str = "doc_id",
                          count_col: str | None = None) -> DataFrame:
    """Recrawl dedup: keep the LATEST crawl snapshot per URL.

    Common Crawl re-fetches the same page across snapshots, so a raw
    multi-snapshot corpus holds one row per (url, fetch); training
    pipelines keep exactly one — the freshest. The survivor per URL is
    the row with the maximum ``ts_col``, ties broken by MINIMUM
    ``id_col`` (numeric), so the kept set is a pure function of the
    data — identical on any engine, partitioning, or cluster size.

    ONE shuffle on ``url_col``, via a single ``max(struct(ts, -id,
    row))`` aggregate — no window, so a pathological URL recrawled
    millions of times partially aggregates map-side instead of
    funnelling every snapshot through one task. Canonicalize first
    (``text_analysis.canonical_url_expr``) when raw URLs vary in
    case/params; this operator dedups on string equality of whatever
    key it is given.

    NULL handling: rows with a NULL ``url_col`` are exempt (passed
    through unchanged — an unparseable URL is not evidence two docs are
    the same page). A NULL ``ts_col`` sorts below every dated snapshot
    (Spark struct ordering puts nulls first ascending), so undated rows
    lose to dated ones; an all-undated group falls back to min-id.

    ``count_col``: when set, the output gains a long column counting
    the snapshots the survivor replaced (1 for exempt null-URL rows).
    """
    cols = df.columns
    row = F.struct(*[F.col(c) for c in cols])
    picked = (df.where(F.col(url_col).isNotNull())
                .groupBy(url_col)
                .agg(F.max(F.struct(
                        F.col(ts_col).alias("_ts"),
                        (-F.col(id_col)).alias("_nid"),
                        row.alias("_row"))).alias("_m"),
                     F.count(F.lit(1)).alias("_n")))
    extra = [F.col("_n").alias(count_col)] if count_col else []
    out = picked.select("_m._row.*", *extra)
    exempt = df.where(F.col(url_col).isNull())
    if count_col:
        exempt = exempt.withColumn(count_col, F.lit(1).cast("long"))
    return out.unionByName(exempt)


def canonical_dedup(df: DataFrame, url_col: str = "url",
                    html_col: str = "html", id_col: str = "doc_id",
                    count_col: str | None = None) -> DataFrame:
    """Collapse pages that DECLARE the same ``<link rel="canonical">``
    target — the publisher's own statement that N urls are one page
    (print views, tracking-param variants, syndicated mirrors).

    Group key = the page's declared absolute canonical target
    (``html_signals.canonical_link_expr``), falling back to its own
    url when it declares none — so undeclared pages group only with
    pages that point AT them. Survivor per group: the canonical page
    itself when present (its url equals the target), else the minimum
    ``id_col`` — deterministic under any partitioning.

    ONE shuffle on the canonical key via a single ``max(struct)``
    aggregate (no window — a target pointed at by millions of variants
    partially aggregates map-side). Rows where both the declaration
    and ``url_col`` are NULL are exempt (no identity evidence).
    Complements, not replaces, ``latest_snapshot_dedup``: run that
    first to collapse refetches of the SAME url, this to collapse
    DIFFERENT urls the publisher unified.

    ``count_col``: when set, the output gains a long column counting
    the variant pages each survivor absorbed (1 for exempt rows).
    """
    from datacanary_spark.operators.html_signals import canonical_link_expr

    cols = df.columns
    key = F.coalesce(canonical_link_expr(F.col(html_col)), F.col(url_col))
    keyed = df.select(key.alias("_ckey"), *[F.col(c) for c in cols])
    row = F.struct(*[F.col(c) for c in cols])
    is_canon = F.coalesce(F.col(url_col) == F.col("_ckey"), F.lit(False))
    picked = (keyed.where(F.col("_ckey").isNotNull())
                   .groupBy("_ckey")
                   .agg(F.max(F.struct(
                           is_canon.alias("_self"),
                           (-F.col(id_col)).alias("_nid"),
                           row.alias("_row"))).alias("_m"),
                        F.count(F.lit(1)).alias("_n")))
    extra = [F.col("_n").alias(count_col)] if count_col else []
    out = picked.select("_m._row.*", *extra)
    exempt = keyed.where(F.col("_ckey").isNull()).select(*cols)
    if count_col:
        exempt = exempt.withColumn(count_col, F.lit(1).cast("long"))
    return out.unionByName(exempt)
