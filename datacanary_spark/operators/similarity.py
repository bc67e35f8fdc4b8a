"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how a training-data pipeline scales ANN:

* **Brute-force cosine top-k** — the exactness baseline. The query set
  is broadcast (it's small by construction); each executor scans its
  slice of the corpus once, scores locally, and a per-query window
  keeps top-k. Shuffle volume is O(n_queries · k), never O(corpus).
* **LSH-bucketed ANN (sign random projection)** — the scale path.
  ``n_bits`` fixed hyperplanes (deterministic seed) map each vector to
  a bucket id; candidates = same-bucket vectors across ``n_tables``
  independent tables (multiprobe-lite). One shuffle on (table, bucket);
  bucket sizes concentrate around n/2^n_bits, and AQE's skew handling
  splits hot buckets. Recall is tunable via n_bits/n_tables.

IVF cells, PQ codes and IVFPQ (raw or residual) share those contracts.
Every plane/centroid/codebook matrix is applied one of two ways, picked
by ``assignment`` (default ``"auto"``; LITERAL_ASSIGN_BUDGET): Column
lambdas over ONE literal node per matrix (``_lit_matrix``; a value read
twice is bound once per row, ``_bind``) — pure JVM codegen, DuckDB-
expressible — or, at real embedding dims (768+), the matrices
broadcast to ONE Arrow pandas UDF factory (``_matrix_udf``) over small
numpy kernels, plan size flat in dim.

All literal arithmetic is element-wise double-precision with
sequential left-to-right accumulation, which both Spark's ``aggregate``
and DuckDB's ``list_dot_product`` implement — so oracle results match
exactly (derived literals come from the same fold, ``_seq_dot``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from datacanary_spark.plans.partitioning import spread_to_parallelism as _spread

PLANE_SEED = 20240816

# Max literal scalars an assignment expression may embed in the plan.
# Below this, hyperplanes/centroids ship as plan literals (pure Column
# expressions, oracle-expressible in SQL); above it — real embedding
# dims like 768·8 bits·4 tables — the literal form becomes 10^5+
# expression nodes (Catalyst analysis blowup, codegen past the JVM's
# 64KB method limit), so assignment switches to a broadcast numpy
# matrix + Arrow pandas UDF: plan size flat in dim, one matmul per
# Arrow batch. Both forms compute the same buckets/cells (equivalence
# is pinned by tests at fixture dim); the only divergence surface is
# float summation order (sequential vs BLAS) flipping a sign/argmax on
# a dot product within ~1e-13 of a tie — vanishingly rare for real
# embeddings, and harmless: LSH/IVF assignment is approximate by
# construction.
LITERAL_ASSIGN_BUDGET = 4096


def _resolve_assignment(assignment: str, n_literals: int) -> str:
    if assignment == "auto":
        return "literal" if n_literals <= LITERAL_ASSIGN_BUDGET else "udf"
    if assignment not in ("literal", "udf"):
        raise ValueError(f"assignment must be auto|literal|udf, "
                         f"got {assignment!r}")
    return assignment


def _quantizers(dim: int, assignment: str, seed: int,
                n_centroids: int | None = None, centroids=None,
                n_sub: int | None = None, n_codes: int | None = None,
                codebooks=None):
    """``(centroids, codebooks, mode)``: each the given array or the
    seeded default (None without ``n_centroids``/``n_sub``), and
    ``assignment`` resolved on the larger literal matrix."""
    cents = books = None
    if n_centroids is not None:
        cents = (ivf_centroids(dim, n_centroids, seed) if centroids is None
                 else np.asarray(centroids, dtype=np.float64))
    if n_sub is not None:
        books = (pq_codebooks(dim, n_sub, n_codes, seed) if codebooks is None
                 else np.asarray(codebooks, dtype=np.float64))
    n_literals = max(a.size for a in (cents, books) if a is not None)
    return cents, books, _resolve_assignment(assignment, n_literals)


def _vec_matrix(vecs: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """((n, dim) float64 matrix, (n,) valid mask).

    Null vectors AND ragged vectors (length != dim — one corrupt
    embedding must degrade that row, never abort the Arrow batch the
    literal expression path would have survived) become zero rows with
    valid=False. The zero row has dot 0 with every plane/centroid,
    which reproduces the literal path's semantics for SRP (no bit set
    → bucket 0); cell/probe UDFs null out invalid rows instead (the
    literal path's null-dot → null-argmax)."""
    out = np.zeros((len(vecs), dim), dtype=np.float64)
    valid = np.zeros(len(vecs), dtype=bool)
    for i, v in enumerate(vecs):
        if v is not None and len(v) == dim:
            out[i, :] = np.asarray(v, dtype=np.float64)
            valid[i] = True
    return out, valid


def _matrix_udf(df: DataFrame, return_type: str, width: int, kernel,
                *arrays):
    """The ONE Arrow pandas UDF factory behind every ``"udf"`` dispatch:
    ``arrays`` broadcast once as float64 (one ArrowEvalPython node, flat
    in dim); per batch ``kernel(M, ok, *arrays, *extra) -> (out, ok)``
    over ``_vec_matrix(first arg, width)`` and further args (cell ids,
    NaN for null). Rows with ``ok`` False come back null."""
    bc = df.sparkSession.sparkContext.broadcast(
        [np.asarray(a, dtype=np.float64) for a in arrays])

    @pandas_udf(return_type)
    def matrix_udf(*cols: pd.Series) -> pd.Series:
        M, ok = _vec_matrix(cols[0], width)
        extra = [c.to_numpy(dtype="float64", na_value=np.nan)
                 for c in cols[1:]]
        out, ok = kernel(M, ok, *bc.value, *extra)
        if out.ndim == 1:
            return pd.Series(out, dtype="Int32").mask(~ok)
        return pd.Series([row if v else None for row, v in zip(out, ok)])

    return matrix_udf


def _srp_kernel(M, ok, P):
    """All (n, T) SRP buckets in one einsum; invalid (zero) rows keep
    bucket 0 in every table, the literal expression's null semantics."""
    weights = np.int64(1) << np.arange(P.shape[1], dtype=np.int64)
    bkts = ((np.einsum("nd,tbd->ntb", M, P) > 0) @ weights).astype(np.int32)
    return bkts, np.ones(len(M), dtype=bool)


def _cell_kernel(M, ok, C):
    """Nearest cell; np.argmax's FIRST max is the literal tie-break."""
    return np.argmax(M @ C.T, axis=1).astype(np.int32), ok


def _probe_kernel(M, ok, C, n_probe: int):
    """The n_probe nearest cells; stable argsort on -dot gives (dot
    desc, id asc), the literal form's exact tie-break."""
    order = np.argsort(-(M @ C.T), axis=1, kind="stable")
    return order[:, :n_probe].astype(np.int32), ok


def _cell_rows(ok, cents, cells):
    """Centroid row per row; a null or out-of-range cell fails ok."""
    ok = ok & (cells >= 0) & (cells < len(cents))
    return np.where(ok, cells, 0).astype(np.intp), ok


def _encode_kernel(M, ok, cb, cents=None, cells=None):
    """PQ codes: per-subspace argmin of ``||c||^2 - 2 s·c`` (first min);
    residual codes over ``M - cents[cell]`` given ``cents``."""
    if cents is not None:
        idx, ok = _cell_rows(ok, cents, cells)
        M = M - cents[idx]
    n_sub, _, sub = cb.shape
    out = np.empty((len(M), n_sub), dtype=np.int32)
    for m in range(n_sub):
        S = M[:, m * sub:(m + 1) * sub]
        dists = (cb[m] ** 2).sum(axis=1)[None, :] - 2.0 * (S @ cb[m].T)
        out[:, m] = np.argmin(dists, axis=1)
    return out, ok


def _decode_kernel(M, ok, cb, cents=None, cells=None):
    """Codes → chosen book rows (``+ cents[cell]`` given ``cents``), with
    the literal geometry guard (an out-of-range or null code would
    raise or, negative, silently WRAP via numpy indexing)."""
    n_sub, n_codes, _ = cb.shape
    ok = ok & np.all((M >= 0) & (M < n_codes), axis=1)
    if cents is not None:
        idx, ok = _cell_rows(ok, cents, cells)
    codes = np.where(ok[:, None], M, 0).astype(np.intp)
    out = np.concatenate([cb[m][codes[:, m]] for m in range(n_sub)], axis=1)
    return (out if cents is None else out + cents[idx]), ok


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def _bind(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated ONCE per row — the
    one-element-transform trick: higher-order subtrees get no
    subexpression elimination (see winnow_fingerprints)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _topk(joined: DataFrame, query_id_col: str, id_col: str, k: int,
          vec: str = "_pk.recon", cnrm: str = "_pk.cnrm") -> DataFrame:
    """Shared scoring + top-k tail of the neighbor operators: cosine of
    the corpus vector ``vec`` (norm ``cnrm``; default: the ADC packed
    reconstruction, see ``_pack_recon``) against the joined query
    (``_qvec``, ``_qnrm``), then a per-query rank window with the
    deterministic tie-break (score desc, neighbor id asc) and the 6dp
    score rounding. ONE definition so a tie-break or rounding change
    cannot silently diverge the operators' output contracts."""
    scored = joined.select(
        F.col(query_id_col), F.col(id_col).alias("neighbor_id"),
        F.try_divide(dot_expr(F.col(vec), F.col("_qvec")),
                     F.col(cnrm) * F.col("_qnrm")).alias("score"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select(query_id_col, "neighbor_id", "rank",
                          F.bround(F.col("score"), 6).alias("score")))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact cosine top-k of each query vector over the corpus.

    Returns (query_id, neighbor_id, rank, score). Tie-break is
    deterministic: score desc, neighbor id asc. The query side is
    explicitly broadcast — the join is a map-side nested loop, no
    corpus shuffle; the only exchange is the per-query top-k window
    (hash on query_id, O(n_queries·k) rows after partial ranking).

    Null vectors are filtered on BOTH sides (a vector-less query has
    no neighbors; a vector-less doc is never a neighbor) — the same
    semantics as ann_topk/ivf_topk, so the three operators agree on
    any input and recall evaluations never count phantom rows.
    """
    # Norms hoisted to the O(n) sides: the naive cosine inside the pair
    # stage evaluates 3 aggregate dot products per (corpus, query) pair;
    # precomputing |v| per vector leaves 1 — bit-identical results,
    # measured ~3× on the near-dup twin of this pattern.
    q = _query_frame(queries, None, vec_col, query_id_col)
    c = _spread(corpus.where(F.col(vec_col).isNotNull())
                      .select(F.col(id_col), F.col(vec_col),
                              norm_expr(F.col(vec_col)).alias("_cnrm")))
    return _topk(c.join(F.broadcast(q)), query_id_col, id_col, k, vec_col,
                 "_cnrm")


def random_planes(dim: int, n_bits: int, table: int = 0,
                  seed: int = PLANE_SEED) -> np.ndarray:
    """Deterministic Gaussian hyperplanes for one LSH table."""
    return np.random.default_rng((seed, table)).standard_normal((n_bits, dim))


def srp_bucket_expr(vec: Column, planes: np.ndarray) -> Column:
    """Sign-random-projection bucket id (int) for one table.

    Bit j set iff dot(vec, plane_j) > 0. Planes are plan literals —
    ONE literal matrix + a fold over (plane, bit-weight) pairs (r06;
    see _centroid_dots): integer addition in j order, so the bucket
    value is identical to the old per-plane chained sum, including
    the null-vector → bucket 0 contract (null dot fails the > 0 test
    and contributes 0)."""
    weights = F.array(*[F.lit(1 << j) for j in range(len(planes))])
    terms = F.zip_with(
        _lit_matrix(planes), weights,
        lambda p, w: F.when(dot_expr(vec, p) > 0, w).otherwise(F.lit(0)))
    return F.aggregate(terms, F.lit(0),
                       lambda acc, v: acc + v).cast("int")


def with_lsh_buckets(df: DataFrame, dim: int, vec_col: str = "embedding",
                     n_bits: int = 8, n_tables: int = 2,
                     seed: int = PLANE_SEED,
                     assignment: str = "auto") -> DataFrame:
    """Explode each vector into one row per LSH table: (…, table, bucket).

    ``assignment`` picks how bucket ids are computed: ``"literal"``
    (plan-literal hyperplanes, pure Column expressions — the oracle
    form), ``"udf"`` (broadcast plane tensor + one pandas UDF — the
    high-dim form), or ``"auto"`` (literal while dim·n_bits·n_tables ≤
    LITERAL_ASSIGN_BUDGET, else udf). Both yield identical buckets —
    see the budget constant's comment for the dispatch rationale.
    """
    mode = _resolve_assignment(assignment, dim * n_bits * n_tables)
    planes = [random_planes(dim, n_bits, t, seed) for t in range(n_tables)]
    if mode == "udf":
        buckets = _matrix_udf(df, "array<int>", dim, _srp_kernel,
                              np.stack(planes))(F.col(vec_col))
    else:
        buckets = F.array(*[srp_bucket_expr(F.col(vec_col), p)
                            for p in planes])
    return (df.withColumn("_bkts", buckets)
              .select("*", F.posexplode("_bkts").alias("table", "bucket"))
              .drop("_bkts"))


def ann_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", n_bits: int = 8,
             n_tables: int = 2, seed: int = PLANE_SEED,
             assignment: str = "auto") -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in any table.

    Same output shape as brute_force_topk; rank is within the candidate
    set, so recall < 1 is possible (that's the trade). The equi-join on
    (table, bucket) replaces the all-pairs product — candidate count
    ≈ corpus·n_tables/2^n_bits per query.

    Plan discipline: the bucket join pairs TINY (table, bucket, id)
    rows and distinct-s the candidate ids BEFORE scoring — a pair
    sharing buckets in all n_tables tables is scored once, not
    n_tables times, and the dedup exchange never carries dim-length
    vectors (the same pairs-then-content shape as dedup.py's
    lsh_candidate_pairs). Null vectors are filtered on both sides,
    matching brute_force_topk/ivf_topk.
    """
    c_base = corpus.where(F.col(vec_col).isNotNull()) \
                   .select(F.col(id_col), F.col(vec_col),
                           norm_expr(F.col(vec_col)).alias("_cnrm"))
    q_base = _query_frame(queries, None, vec_col, query_id_col)
    cb = with_lsh_buckets(c_base.select(id_col, vec_col), dim, vec_col,
                          n_bits, n_tables, seed, assignment) \
        .select("table", "bucket", id_col)
    qb = with_lsh_buckets(q_base.select(query_id_col, "_qvec"), dim, "_qvec",
                          n_bits, n_tables, seed, assignment) \
        .select("table", "bucket", query_id_col)
    cand = (cb.join(qb, ["table", "bucket"])
              .select(query_id_col, F.col(id_col).alias("neighbor_id"))
              .dropDuplicates())
    joined = (cand
              .join(c_base.select(F.col(id_col).alias("neighbor_id"),
                                  F.col(vec_col), F.col("_cnrm")),
                    "neighbor_id")
              .join(F.broadcast(q_base), query_id_col))
    return _topk(joined, query_id_col, "neighbor_id", k, vec_col, "_cnrm")


IVF_SEED_TAG = 7777  # distinguishes IVF centroids from SRP planes


def ivf_centroids(dim: int, n_centroids: int,
                  seed: int = PLANE_SEED) -> np.ndarray:
    """Deterministic unit-norm coarse-quantizer centroids.

    Random centroids make a legitimate (if suboptimal) IVF coarse
    quantizer; at cluster scale you would train them (e.g. Spark ML
    KMeans on a sample) and pass the trained array to ``ivf_topk`` —
    the operator takes any ``centroids`` matrix, so the quantizer
    quality is a drop-in upgrade that changes no plan shape.
    """
    c = np.random.default_rng((seed, IVF_SEED_TAG)).standard_normal(
        (n_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _train_sample(data: DataFrame, sample_fraction: float | None,
                  salt: str) -> DataFrame:
    """The deterministic hash sample of the ``_v`` training vectors
    (all of them when ``sample_fraction`` is None)."""
    if sample_fraction is None:
        return data
    # the shared sampling helpers: _hex_threshold clamps the 1.0
    # nine-hex-digit edge case and validates range; _bucket_expr is
    # the single definition of the salt:key bucket
    from datacanary_spark.operators.corpus_stats import (
        _bucket_expr,
        _hex_threshold,
    )

    return data.where(_bucket_expr(F.col("_v").cast("string"), salt)
                      < F.lit(_hex_threshold(sample_fraction)))


def train_ivf_centroids(df: DataFrame, vec_col: str = "embedding",
                        n_centroids: int = 16, seed: int = PLANE_SEED,
                        sample_fraction: float | None = None,
                        max_iter: int = 20) -> np.ndarray:
    """Train the IVF coarse quantizer with Spark ML KMeans.

    Returns a unit-norm centroid matrix that plugs into ``ivf_topk``'s
    ``centroids`` parameter unchanged (the deterministic random
    centroids from ``ivf_centroids`` are the no-training fallback; a
    trained quantizer concentrates probe mass where the data actually
    lives and measurably improves recall — see the recall test).

    At 10^12 vectors, train on a sample: ``sample_fraction`` applies a
    deterministic hash sample on the vector bytes (same pure-function
    contract as corpus_stats sampling — reproducible on any cluster),
    and KMeans cost is O(sample · k · iters), independent of corpus
    size. The centroid matrix itself stays a few KB of plan literals.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = (df.where(F.col(vec_col).isNotNull())  # null features crash fit
              .select(F.col(vec_col).cast("array<double>").alias("_v")))
    data = _train_sample(data, sample_fraction, "ivf-train")
    data = data.select(array_to_vector(F.col("_v")).alias("features"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(data)
    c = np.asarray(model.clusterCenters(), dtype=np.float64)
    norms = np.linalg.norm(c, axis=1, keepdims=True)
    return c / np.where(norms == 0, 1.0, norms)


def _sql_f(x: float) -> str:
    """A Spark-SQL DOUBLE literal: ``repr`` round-trips the exact bits
    and the ``D`` suffix stops ANSI mode from parsing it as DECIMAL."""
    return f"{float(x)!r}D"


def _sql_vec(values) -> str:
    return "array(" + ",".join(_sql_f(x) for x in values) + ")"


def _lit_matrix(matrix) -> Column:
    """A literal ``array<array<double>>`` (row-indexed with element_at)
    built as ONE py4j call (``F.expr`` over the SQL text — the values
    parse JVM-side in ms; ``F.lit(list)`` would issue a py4j round trip
    per SCALAR). With ``_lit_dvec``, the module's one literal builder."""
    return F.expr("array(" + ",".join(_sql_vec(row) for row in matrix)
                  + ")")


def _lit_dvec(values) -> Column:
    """A literal ``array<double>`` as one py4j call (see _lit_matrix)."""
    return F.expr(_sql_vec(values))


def _centroid_dots(vec: Column, centroids: np.ndarray) -> Column:
    """Array of <vec, centroid_j> dots, j in row order.

    ONE literal matrix + one transform lambda (r06): the per-centroid
    ``dot_expr(vec, F.array(64 lits))`` form issued ~65 py4j calls and
    built ~65 expression nodes PER centroid — for a 16×64 quantizer
    that is >1000 py4j round trips per plan build, a measurable slice
    of every ANN query's per-run driver time. The lambda body is
    constructed once; the element-wise arithmetic (sequential
    zip_with/aggregate fold) is unchanged, so dots are bit-identical."""
    return F.transform(_lit_matrix(centroids), lambda c: dot_expr(vec, c))


def ivf_cell_expr(vec: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid cell id (0-based; ties → smallest id).

    The dot-product array is bound ONCE as a lambda variable (the
    argmax references it twice, and higher-order subtrees get no
    subexpression elimination — see winnow_fingerprints)."""
    def pick(dots: Column) -> Column:
        return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")

    return _bind(_centroid_dots(vec, centroids), pick)


def ivf_probe_cells_expr(vec: Column, centroids: np.ndarray,
                         n_probe: int) -> Column:
    """The ``n_probe`` nearest cells for a query vector, as array<int>
    (ordered by dot desc, ties → smallest id — matches ivf_cell_expr)."""
    dots = _centroid_dots(vec, centroids)
    ranked = F.array_sort(F.transform(
        dots, lambda d, i: F.struct((-d).alias("nd"), i.alias("i"))))
    return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["i"].cast("int"))


def _cell_col(df: DataFrame, vec_col: str, cents: np.ndarray,
              mode: str) -> Column:
    """Nearest-centroid cell of ``vec_col`` in either dispatch mode
    (null/ragged vector → null cell in both)."""
    if mode == "udf":
        return _matrix_udf(df, "int", cents.shape[1], _cell_kernel,
                           cents)(F.col(vec_col))
    return ivf_cell_expr(F.col(vec_col), cents)


def _residual_bound(vec: Column, centroids: np.ndarray, body) -> Column:
    """``body(ctr, r)`` with the cell ``cl`` and the residual ``r = x -
    centroid[cl]`` each bound ONCE per row (``ctr`` is the centroid
    row ``centroid[cl]``): project-collapse would otherwise re-evaluate
    the 16-dot assignment and the dim-wide residual per
    subspace-distance term."""
    ctrs = _lit_matrix(centroids)

    def with_cell(cl: Column) -> Column:
        ctr = F.element_at(ctrs, cl + 1)
        res = F.zip_with(vec, ctr,
                         lambda x, y: x.cast("double") - y.cast("double"))
        return _bind(res, lambda r: body(ctr, r))

    return _bind(ivf_cell_expr(vec, centroids), with_cell)


def ivf_residual_expr(vec: Column, centroids: np.ndarray) -> Column:
    """The residual ``x - centroid[cell]``: residual codebooks' input."""
    return _residual_bound(vec, centroids, lambda ctr, r: r)


def ivf_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", n_centroids: int = 16,
             n_probe: int = 4, centroids: np.ndarray | None = None,
             seed: int = PLANE_SEED, assignment: str = "auto") -> DataFrame:
    """IVF-flat approximate top-k (the second scale path besides LSH).

    Corpus vectors are assigned to their nearest coarse-quantizer cell
    (one codegen project — centroids are plan literals, a few KB);
    queries probe their ``n_probe`` nearest cells. Candidates = an
    equi-join on ``cell``, so the pair stage shrinks from |corpus| per
    query to ~|corpus|·n_probe/n_centroids — ONE shuffle on the cell
    id, AQE splits any hot cell. Same output shape/tie-breaks as
    ``brute_force_topk``; recall < 1 is the trade, tunable via
    n_centroids/n_probe (or better centroids — see ``ivf_centroids``).
    """
    cents, _, mode = _quantizers(dim, assignment, seed, n_centroids,
                                 centroids)
    # spread BEFORE the norm/cell projections (r06): the per-row
    # centroid dots + norm fold fuse into the scan stage, and a
    # single-row-group corpus file would serialize them onto one core
    # (no-op at real scale — same contract as the pq/semdedup paths)
    c = _spread(corpus.select(F.col(id_col), F.col(vec_col)))
    c = c.select(F.col(id_col), F.col(vec_col),
                 norm_expr(F.col(vec_col)).alias("_cnrm"))
    c = c.withColumn("cell", _cell_col(c, vec_col, cents, mode))
    q = _probe_explode(_query_frame(queries, dim, vec_col, query_id_col),
                       cents, n_probe, mode)
    return _topk(c.join(q, "cell"), query_id_col, id_col, k, vec_col,
                 "_cnrm")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-compressed ANN scoring (r05)
# ---------------------------------------------------------------------------

PQ_SEED_TAG = 8888  # distinguishes PQ codebooks from SRP planes / IVF cells


def _seq_dot(a, b) -> float:
    """Sequential left-to-right double dot product in PYTHON — the same
    accumulation order as Spark's ``aggregate`` fold and DuckDB's
    ``list_dot_product``.  Plan literals derived from codebooks (the
    ``||c||^2`` terms in the encoder) MUST come from this, never from
    ``np.dot`` (pairwise/BLAS summation): a last-ulp difference between
    the literal and the oracle's own sum can flip an argmin near a tie
    and silently diverge the code assignment."""
    total = 0.0
    for x, y in zip(a, b):
        total += float(x) * float(y)
    return total


def pq_codebooks(dim: int, n_sub: int = 8, n_codes: int = 16,
                 seed: int = PLANE_SEED) -> np.ndarray:
    """Deterministic ``(n_sub, n_codes, dim // n_sub)`` PQ codebooks.

    Random codebooks make a legitimate (if suboptimal) product
    quantizer, exactly like ``ivf_centroids``: the operator accepts any
    trained array (``train_pq_codebooks``) with no plan-shape change.
    """
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    return np.random.default_rng((seed, PQ_SEED_TAG)).standard_normal(
        (n_sub, n_codes, dim // n_sub))


def train_pq_codebooks(df: DataFrame, dim: int, vec_col: str = "embedding",
                       n_sub: int = 8, n_codes: int = 16,
                       seed: int = PLANE_SEED,
                       sample_fraction: float | None = None,
                       max_iter: int = 20) -> np.ndarray:
    """Train PQ codebooks: one Spark-ML KMeans per subspace on the
    sliced subvectors (the classic PQ recipe — Jégou et al., TPAMI
    2011).  Same sampling contract as ``train_ivf_centroids``: at
    10^12 vectors fit on a deterministic hash sample; training cost is
    O(sample · n_codes · iters · n_sub), independent of corpus size,
    and the result is a few KB of plan literals."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub
    # length filter, not just isNotNull: one ragged vector would feed
    # mixed-size subvectors to KMeans and abort the fit deep in MLlib,
    # while every PQ operator deliberately DROPS ragged rows
    data = (df.where(F.size(F.col(vec_col)) == dim)
              .select(F.col(vec_col).cast("array<double>").alias("_v")))
    data = _train_sample(data, sample_fraction, "pq-train")
    data = data.persist()
    try:
        books = []
        for m in range(n_sub):
            feats = data.select(array_to_vector(
                F.slice(F.col("_v"), m * sub + 1, sub)).alias("features"))
            model = KMeans(k=n_codes, seed=seed + m,
                           maxIter=max_iter).fit(feats)
            books.append(np.asarray(model.clusterCenters(),
                                    dtype=np.float64))
        return np.stack(books)
    finally:
        data.unpersist()


def _pq_dists_col(vec: Column, codebooks: np.ndarray, m: int) -> Column:
    """Subspace-m distance array ``||c||^2 - 2*dot(s, c)`` as a compact
    Column: the books/norms are ONE nested literal node each and the
    dot lambda is constructed once (r06 — the SQL-text per-code
    expansion parsed ~10^3 nodes per subspace; see _centroid_dots).
    The subvector slice binds once per row via the one-element
    transform trick; arithmetic (sequential fold, ``n2 - 2.0*dot``)
    is unchanged, so the array is bit-identical to that expansion's."""
    sub = codebooks.shape[2]
    norms = _lit_dvec([_seq_dot(c, c) for c in codebooks[m]])
    books = _lit_matrix(codebooks[m])
    return _bind(F.slice(vec, m * sub + 1, sub), lambda s: F.zip_with(
        norms, books, lambda n2, c: n2 - F.lit(2.0) * dot_expr(s, c)))


def _pq_codes(vec: Column, codebooks: np.ndarray) -> Column:
    """``array<int>`` codes of ``vec`` (a column or a bound residual):
    per subspace the first argmin of its ``_pq_dists_col`` array."""
    # bind each dist array ONCE (argmin reads it twice — higher-order
    # subtrees get no subexpression elimination, see ivf_cell_expr)
    return F.array(*[
        _bind(_pq_dists_col(vec, codebooks, m),
              lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"))
        for m in range(codebooks.shape[0])])


def pq_encode_expr(vec_col: str, codebooks: np.ndarray) -> Column:
    """PQ codes as ``array<int>`` (one code per subspace), pure Column
    expressions — codebooks are plan literals, oracle-expressible.

    Per subspace the code is ``argmin ||s - c||^2`` over the book,
    computed as ``argmin(||c||^2 - 2*dot(s, c))`` (the ``||s||^2`` term
    is constant within the argmin); ties break to the smallest code id
    on every engine (first-occurrence argmin).  A null or wrong-length
    vector encodes to a null code array — the same guard the UDF twin
    applies, so the two dispatch modes agree row-for-row."""
    n_sub, _, sub = codebooks.shape
    vec = F.col(vec_col)
    return F.when(F.size(vec) == n_sub * sub, _pq_codes(vec, codebooks))


def _encode_col(df: DataFrame, vec_col: str, cb: np.ndarray, mode: str,
                cents: np.ndarray | None = None) -> Column:
    """PQ codes of ``vec_col`` in either dispatch mode; residual codes
    given ``cents`` (the UDF then also reads ``df``'s ``cell``)."""
    if mode == "literal":
        return (pq_encode_expr(vec_col, cb) if cents is None
                else pq_residual_encode_expr(vec_col, cents, cb))
    arrays, cols = (([cb], [F.col(vec_col)]) if cents is None
                    else ([cb, cents], [F.col(vec_col), F.col("cell")]))
    return _matrix_udf(df, "array<int>", cb.shape[0] * cb.shape[2],
                       _encode_kernel, *arrays)(*cols)


def _decode_col(df: DataFrame, cb: np.ndarray, mode: str,
                cents: np.ndarray | None = None) -> Column:
    """Reconstruction of ``df``'s materialized ``codes`` (and, given
    ``cents``, residual ``cell``) columns in either dispatch mode."""
    if mode == "literal":
        return (pq_reconstruct_expr(F.col("codes"), cb) if cents is None
                else pq_residual_reconstruct_expr("cell", F.col("codes"),
                                                  cents, cb))
    arrays, cols = (([cb], [F.col("codes")]) if cents is None
                    else ([cb, cents], [F.col("codes"), F.col("cell")]))
    return _matrix_udf(df, "array<double>", cb.shape[0], _decode_kernel,
                       *arrays)(*cols)


def pq_reconstruct_expr(codes: Column, codebooks: np.ndarray) -> Column:
    """Decode a PQ code array back to its reconstructed vector
    (concatenation of the chosen centroid per subspace) as Column
    expressions over literal codebooks.  Null codes → null vector.

    ``codes`` should be a MATERIALIZED column (a stored index or a
    UDF output attribute): each subspace references it once, and a
    heavy in-flight expression would be re-evaluated per reference
    under project-collapse — the in-flight path uses the fused
    ``pq_reconstruct_from_vec_expr`` instead.

    A codes row that does not match this codebook's geometry (wrong
    length, code out of [0, n_codes) — e.g. an index built with
    different n_sub/n_codes flags) decodes to NULL, matching the UDF
    twin's guard; without it the ANSI-mode ``element_at`` would abort
    the whole job on the first mismatched row.  CASE WHEN evaluates
    its branches lazily, so the guarded lookup never raises."""
    n_sub, n_codes, _ = codebooks.shape
    # one-call literal matrix per book (r06; see _lit_matrix)
    parts = [F.element_at(_lit_matrix(codebooks[m]),
                          F.element_at(codes, m + 1) + 1)
             for m in range(n_sub)]
    geometry_ok = (F.size(codes) == n_sub) & F.forall(
        codes, lambda c: (c >= 0) & (c < n_codes))
    return F.when(geometry_ok, F.concat(*parts))


def _pq_fused_decode(vec: Column, codebooks: np.ndarray,
                     centroid: Column | None = None) -> Column:
    """Encode + decode of ``vec`` in one expression (each distance array
    bound once, its argmin picks the book row), plus the matching slice
    of ``centroid`` when given (residual mode)."""
    n_sub, _, sub = codebooks.shape
    parts = []
    for m in range(n_sub):
        book = _lit_matrix(codebooks[m])

        # single-parameter lambda (two would bind the array INDEX);
        # closure capture of `book`/`m` is safe — F.transform invokes
        # the lambda eagerly, within this loop iteration
        def pick(d: Column) -> Column:
            row = F.element_at(
                book, F.array_position(d, F.array_min(d)).cast("int"))
            if centroid is None:
                return row
            return F.zip_with(row, F.slice(centroid, m * sub + 1, sub),
                              lambda a, b: a + b)

        parts.append(_bind(_pq_dists_col(vec, codebooks, m), pick))
    return F.concat(*parts)


def pq_reconstruct_from_vec_expr(vec_col: str,
                                 codebooks: np.ndarray) -> Column:
    """Encode + decode FUSED into one expression: the reconstructed
    vector straight from the raw vector column, each subspace's
    distance array evaluated exactly once (bound as a lambda variable
    via the one-element-transform trick, see ``ivf_cell_expr``).

    Fused because Catalyst's project-collapse substitutes — not
    shares — non-trivial expressions across column references: going
    through a separate in-flight ``codes`` column re-evaluated the
    full 128-dot encoder once per reconstruction subspace.

    Construction history: the r05 form was ONE ``F.expr`` SQL string
    because the naive Column form (a node per literal scalar) cost
    ~9 s of py4j round trips per plan build; but the 100 KB SQL text
    still parsed/analyzed into ~10^4 JVM nodes — measured ~2 s of
    driver time per RUN at bench scale. The r06 form gets both sides
    small: nested array literals are ONE node each and the distance
    lambda is constructed once per subspace (see ``_pq_dists_col``) —
    a few hundred nodes, a few hundred py4j calls, bit-identical
    arithmetic."""
    return _pq_fused_decode(F.col(vec_col), codebooks)


def pq_residual_reconstruct_from_vec_expr(vec_col: str,
                                          centroids: np.ndarray,
                                          codebooks: np.ndarray) -> Column:
    """RESIDUAL-mode fused encode+decode (the FAISS IVFPQ refinement):
    quantize ``x - centroid[cell]`` and reconstruct as
    ``centroid[cell] + decode(codes)``.  Raw-vector PQ collapses
    cluster members onto near-identical reconstructions (measured
    0.43 composed recall on the clustered fixture vs 0.96 for the
    pruning tier alone); quantizing the residual restores the
    within-cluster detail the ranking needs.  Cell and residual bind
    once via ``_residual_bound``; per-subspace distance arrays bind
    once as in the raw variant (the same ``_pq_fused_decode``)."""
    return _residual_bound(F.col(vec_col), centroids,
                           lambda ctr, r: _pq_fused_decode(r, codebooks, ctr))


def pq_residual_encode_expr(vec_col: str, centroids: np.ndarray,
                            codebooks: np.ndarray) -> Column:
    """Residual-mode codes (array<int>): the ``pq_encode_expr`` argmin
    over ``x - centroid[cell]`` — what a residual index stores on
    disk.  Null/ragged vectors → null codes (size guard, as in the
    raw encoder)."""
    n_sub, _, sub = codebooks.shape
    vec = F.col(vec_col)
    return F.when(F.size(vec) == n_sub * sub, _residual_bound(
        vec, centroids, lambda ctr, r: _pq_codes(r, codebooks)))


def pq_residual_reconstruct_expr(cell_col: str, codes: Column,
                                 centroids: np.ndarray,
                                 codebooks: np.ndarray) -> Column:
    """Literal-expression residual decode over MATERIALIZED (cell,
    codes) columns (the stored-index serving path):
    ``centroid[cell] + decode(codes)``, with the same geometry guard
    as ``pq_reconstruct_expr`` plus a cell-range check."""
    cell = F.col(cell_col)
    ctr = F.element_at(_lit_matrix(centroids), cell + 1)
    return F.when((cell >= 0) & (cell < centroids.shape[0]),
                  F.zip_with(pq_reconstruct_expr(codes, codebooks), ctr,
                             lambda a, b: a + b))


def _pack_recon(recon: Column) -> Column:
    """Bind a reconstruction expression ONCE and derive its norm from
    the bound value — a struct(recon, cnrm) column.  Referencing the
    recon expression from two output columns would re-evaluate it per
    reference (project-collapse duplication); referencing the packed
    struct's FIELDS from across a join boundary is attribute access."""
    return _bind(recon, lambda v: F.struct(
        v.alias("recon"), F.sqrt(dot_expr(v, v)).alias("cnrm")))


def pq_encode_index(df: DataFrame, dim: int, id_col: str = "vec_id",
                    vec_col: str = "embedding", n_sub: int = 8,
                    n_codes: int = 16,
                    codebooks: np.ndarray | None = None,
                    seed: int = PLANE_SEED,
                    assignment: str = "auto") -> DataFrame:
    """The persistable PQ index: ``(id, codes)`` — n_sub ints per
    vector instead of dim floats (64 doubles → 8 codes is a 16×
    at-rest/shuffle compression at n_codes ≤ 256 even before the
    int→byte cast a columnar store applies).  ``pq_topk`` accepts this
    frame via ``codes_col`` so a 10^12-row corpus is encoded once and
    served from the compact table."""
    _, cb, mode = _quantizers(dim, assignment, seed, n_sub=n_sub,
                              n_codes=n_codes, codebooks=codebooks)
    # filter on the EQUIVALENT raw condition (right length; size(null)
    # is null under ANSI, so nulls drop too) instead of codes
    # IS NOT NULL: a post-encode null filter would push back through
    # the projection and re-evaluate the whole encoder per row.
    # Spread the narrow frame before the encoder (r06): a one-split
    # corpus would otherwise encode on one core (no-op at real scale).
    c = _spread(df.where(F.size(F.col(vec_col)) == dim).select(
        F.col(id_col), F.col(vec_col)))
    return c.select(F.col(id_col),
                    _encode_col(c, vec_col, cb, mode).alias("codes"))


def _query_frame(queries: DataFrame, dim: int | None, vec_col: str,
                 query_id_col: str) -> DataFrame:
    """The shared query side: (query_id, _qvec, _qnrm), with null AND
    wrong-length vectors dropped (only null ones when ``dim`` is None,
    the brute-force/LSH contract).  The length filter is load-bearing
    for dispatch parity: a ragged query under the literal probe
    expressions degenerates to null-dot probes (k null-score rows)
    while the UDF probe drops it — so without the filter,
    ``assignment="auto"`` would change the RESULT SET as dim crosses
    the literal budget."""
    keep = (F.col(vec_col).isNotNull() if dim is None
            else F.size(F.col(vec_col)) == dim)
    return queries.where(keep).select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec"),
        norm_expr(F.col(vec_col)).alias("_qnrm"))


def _probe_explode(q: DataFrame, cents: np.ndarray, n_probe: int,
                   mode: str) -> DataFrame:
    """Explode each query row into its n_probe (row, cell) probes."""
    if mode == "udf":
        probe = _matrix_udf(
            q, "array<int>", cents.shape[1],
            lambda M, ok, C: _probe_kernel(M, ok, C, n_probe),
            cents)(F.col("_qvec"))
    else:
        probe = ivf_probe_cells_expr(F.col("_qvec"), cents, n_probe)
    return q.withColumn("cell", F.explode(probe))


def _ivfpq_corpus_frame(corpus: DataFrame, dim: int, id_col: str,
                        vec_col: str, cents: np.ndarray, cb: np.ndarray,
                        mode: str, packed: bool,
                        residual: bool = False) -> DataFrame:
    """ONE definition of the IVFPQ corpus side, shared by the in-flight
    operator and the index writer so the two cannot drift: ragged/null
    vectors dropped, then (id, cell, codes) rows (``packed=False`` —
    the storable index layout) or (id, cell, _pk) rows (``packed=True``
    — the scorable frame).  The literal packed path fuses
    encode+decode straight from the vector (no intermediate codes
    column for project-collapse to duplicate).

    ``residual=True`` quantizes ``x - centroid[cell]`` and
    reconstructs ``centroid[cell] + decode(codes)`` (FAISS-style
    IVFPQ) — same index layout, dramatically better within-cluster
    ranking on clustered data (see
    pq_residual_reconstruct_from_vec_expr)."""
    # spread before the encode/assign projections (r06): the fused
    # PQ encode+decode and the cell assignment are the heaviest per-row
    # expressions in the file, and a single-split corpus scan would run
    # them on one core (no-op at real scale)
    c = _spread(corpus.where(F.size(F.col(vec_col)) == dim).select(
        F.col(id_col), F.col(vec_col)))
    c = c.select(F.col(id_col), F.col(vec_col),
                 _cell_col(c, vec_col, cents, mode).alias("cell"))
    # literal residual: each fused expression binds its OWN cell
    # internally (_residual_bound) — the standalone cell column
    # recomputes the 16-dot assignment once more per row, which is
    # cheaper than any cross-column sharing attempt project-collapse
    # would undo (it substitutes, never shares)
    res_cents = cents if residual else None
    if mode == "literal" and packed:
        recon = (pq_residual_reconstruct_from_vec_expr(vec_col, cents, cb)
                 if residual else pq_reconstruct_from_vec_expr(vec_col, cb))
    else:
        c = c.select(F.col(id_col), F.col("cell"), _encode_col(
            c, vec_col, cb, mode, res_cents).alias("codes"))
        if not packed:
            return c
        recon = _decode_col(c, cb, mode, res_cents)
    return c.select(F.col(id_col), F.col("cell"),
                    _pack_recon(recon).alias("_pk"))


def pq_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id", n_sub: int = 8,
            n_codes: int = 16, codebooks: np.ndarray | None = None,
            seed: int = PLANE_SEED, assignment: str = "auto",
            codes_col: str | None = None) -> DataFrame:
    """PQ approximate top-k (the third ANN scale path: memory, not
    candidate pruning).

    Corpus vectors are product-quantized to ``n_sub`` codes; scoring is
    asymmetric distance computation (ADC) in its reconstruction form —
    ``cos(q, decode(codes))`` — which is term-for-term the classic
    per-subspace lookup-table sum but stays pure Column expressions
    (and lets the oracle reproduce it as one sequential dot product on
    both engines).  Every query still scans all codes (PQ compresses
    the corpus ~dim·8/n_sub×; it does not prune) — compose with IVF
    cells via ``ivf_pq_topk`` for the FAISS-style IVFPQ layout.  Same
    output shape and tie-breaks as ``brute_force_topk``; recall < 1 is
    the quantization trade, tunable via n_sub/n_codes or trained
    codebooks (``train_pq_codebooks``).

    ``codes_col``: score a pre-encoded index (``pq_encode_index``)
    instead of encoding in-flight — the 10^12-doc serving path.
    """
    _, cb, mode = _quantizers(dim, assignment, seed, n_sub=n_sub,
                              n_codes=n_codes, codebooks=codebooks)
    # _spread runs on the NARROW frame, before the reconstruction
    # expression is attached (r06): spreading the packed projection put
    # the heaviest per-row expression in the file below the exchange
    # (single-core on a one-split scan) and made the spread's
    # partition-count probe physically plan the giant fused expression
    # once per call for nothing.
    if codes_col is not None:
        # stored-index serving path: codes is a materialized column,
        # per-subspace references to it are attribute access
        c = _spread(corpus.select(F.col(id_col),
                                  F.col(codes_col).alias("codes"))
                    .where(F.col("codes").isNotNull()))
        recon = _decode_col(c, cb, mode)
    elif mode == "udf":
        # pq_encode_index spreads its own narrow input before the
        # encode UDF; an outer spread here would land BELOW that
        # projection and serialize the Arrow encode onto one task
        c = pq_encode_index(corpus, dim, id_col=id_col, vec_col=vec_col,
                            codebooks=cb, assignment=mode)
        recon = _decode_col(c, cb, mode)
    else:
        # in-flight literal path: encode+decode fused so each distance
        # array evaluates once per row (see pq_reconstruct_from_vec_expr)
        c = _spread(corpus.where(F.size(F.col(vec_col)) == dim).select(
            F.col(id_col), F.col(vec_col)))
        recon = pq_reconstruct_from_vec_expr(vec_col, cb)
    c = c.select(F.col(id_col), _pack_recon(recon).alias("_pk"))
    q = _query_frame(queries, dim, vec_col, query_id_col)
    return _topk(c.join(F.broadcast(q)), query_id_col, id_col, k)


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id", n_centroids: int = 16,
                n_probe: int = 4, n_sub: int = 8, n_codes: int = 16,
                centroids: np.ndarray | None = None,
                codebooks: np.ndarray | None = None,
                seed: int = PLANE_SEED,
                assignment: str = "auto",
                residual: bool = False) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFPQ layout): IVF cells prune
    candidates to ~n_probe/n_centroids of the corpus, PQ codes
    compress what remains — the index row is (cell, codes), two ints +
    n_sub bytes per vector.  Candidates come from the cell equi-join
    (one shuffle, AQE-skew-safe), scores from ADC reconstruction —
    both exactly as in the parent operators, so recall multiplies the
    two approximations and the tie-break contract is unchanged."""
    cents, cb, mode = _quantizers(dim, assignment, seed, n_centroids,
                                  centroids, n_sub, n_codes, codebooks)
    c = _ivfpq_corpus_frame(corpus, dim, id_col, vec_col, cents, cb,
                            mode, packed=True, residual=residual)
    q = _probe_explode(_query_frame(queries, dim, vec_col, query_id_col),
                       cents, n_probe, mode)
    return _topk(c.join(q, "cell"), query_id_col, id_col, k)


def ivfpq_write_index(corpus: DataFrame, path: str, dim: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_centroids: int = 16, n_sub: int = 8,
                      n_codes: int = 16,
                      centroids: np.ndarray | None = None,
                      codebooks: np.ndarray | None = None,
                      seed: int = PLANE_SEED,
                      assignment: str = "auto",
                      residual: bool = False) -> None:
    """Persist the IVFPQ index as a CELL-PARTITIONED table
    (``path/cell=K/part-*``, row = (id, codes)): the serving tier's
    partition layout.  A probe of ``n_probe`` cells becomes a
    PartitionFilters entry on the scan — whole directories skipped
    before any file opens — so query cost at rest is
    O(corpus · n_probe / n_centroids) I/O of ALREADY-compressed codes
    (n_sub ints per vector), with no Spark job touching the raw
    vectors.  Encode once, append new crawl batches as new files in
    their cell directories; centroids/codebooks must be the SAME at
    write and query time (pass trained arrays to both, or share the
    deterministic seed — the CLI persists trained arrays beside the
    index as ``_quantizers.json``)."""
    from datacanary_spark.sources.io import write_table

    cents, cb, mode = _quantizers(dim, assignment, seed, n_centroids,
                                  centroids, n_sub, n_codes, codebooks)
    c = _ivfpq_corpus_frame(corpus, dim, id_col, vec_col, cents, cb,
                            mode, packed=False, residual=residual)
    write_table(c, path, mode="overwrite", partition_by=["cell"])


def ivfpq_query_index(spark, path: str, queries: DataFrame, dim: int,
                      k: int = 5, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      query_id_col: str = "query_id",
                      n_centroids: int = 16, n_probe: int = 4,
                      n_sub: int = 8, n_codes: int = 16,
                      centroids: np.ndarray | None = None,
                      codebooks: np.ndarray | None = None,
                      seed: int = PLANE_SEED,
                      assignment: str = "auto",
                      residual: bool = False) -> DataFrame:
    """Serve top-k from a persisted ``ivfpq_write_index`` table with
    STATIC partition pruning: the query set is small by construction
    (same broadcast contract as every topk operator here), so its
    probe-cell union is collected driver-side — bounded by
    n_queries · n_probe ints — and pushed as an ``IN`` literal filter,
    which the scan turns into PartitionFilters (plan-locked in the
    tests).  Only the probed cell directories are read; everything
    after the scan is the in-flight ``ivf_pq_topk`` tail, so results
    are identical row-for-row.  (The probe expression runs twice —
    once for the bounded cells collect, once in the join — which is
    O(n_queries · n_centroids) arithmetic on the tiny side, not a
    corpus cost.)"""
    cents, cb, mode = _quantizers(dim, assignment, seed, n_centroids,
                                  centroids, n_sub, n_codes, codebooks)
    q = _probe_explode(_query_frame(queries, dim, vec_col, query_id_col),
                       cents, n_probe, mode)
    # bounded driver collect: the distinct probed cells (≤ n_centroids)
    cells = sorted({r["cell"] for r in q.select("cell").distinct()
                    .collect()})
    idx = spark.read.parquet(path).where(F.col("cell").isin(cells))
    recon = _decode_col(idx, cb, mode, cents if residual else None)
    c = idx.select(F.col(id_col), F.col("cell"),
                   _pack_recon(recon).alias("_pk"))
    return _topk(c.join(q, "cell"), query_id_col, id_col, k)


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             dim: int | None = None,
                             use_lsh: bool = False, n_bits: int = 8,
                             n_tables: int = 4,
                             persist: bool = True,
                             assignment: str = "auto") -> DataFrame:
    """Pairs (id_a < id_b) with cosine ≥ threshold.

    ``use_lsh=False`` does the exact quadratic join (test scale / oracle
    twin); ``use_lsh=True`` is the cluster path: pairs must share a
    bucket in some table, shrinking the join from n² to sum(bucket²).

    ``persist`` (LSH mode only) caches the vector base (read by the
    bucket pass and both score joins) and the tiny bucket rows (read
    by both self-join sides, so the n_bits·n_tables hyperplane dot
    products run once) — same persist-lifetime contract as
    lsh_candidate_pairs: the default leaks MEMORY_AND_DISK frames per
    call into a long-lived session; pass a
    ``plans.caching.CacheScope`` for a deterministic release point, or
    ``persist=False`` to manage caching yourself if you invoke this
    repeatedly.
    """
    # Precompute each vector's norm BEFORE the pair join: the naive
    # per-pair cosine evaluates 3 dot products (a·b, a·a, b·b) inside the
    # O(n²) stage; hoisting the norms to the O(n) side cuts pair cost 3×
    # with bit-identical results (same sqrt/multiply sequence).
    base = df.select(F.col(id_col), F.col(vec_col).alias("_v"),
                     norm_expr(F.col(vec_col)).alias("_nrm"))

    def side(s: str) -> DataFrame:  # one self-join side: (id_s, vs, ns)
        return base.select(F.col(id_col).alias(f"id_{s}"),
                           F.col("_v").alias(f"v{s}"),
                           F.col("_nrm").alias(f"n{s}"))

    if use_lsh:
        from datacanary_spark.plans.caching import maybe_persist

        assert dim is not None
        # the bucket self-join pairs TINY (table, bucket, id) rows and
        # distinct-s id pairs BEFORE any vector travels: shipping
        # (va, vb) through the n_tables-duplicated pair rows and the
        # dropDuplicates exchange would move ~2·dim·8·n_tables bytes
        # per unique pair of pure payload (the same pairs-then-content
        # discipline as dedup.py's lsh_candidate_pairs). base is
        # persisted for its three consumers (bucket pass + two score
        # joins); the bucket rows are persisted so the hyperplane dot
        # products run once, not per self-join side.
        base = maybe_persist(base, persist)
        b = with_lsh_buckets(base.select(id_col, "_v"), dim, "_v",
                             n_bits, n_tables, assignment=assignment) \
            .select("table", "bucket", id_col)
        b = maybe_persist(b, persist)
        cand = (b.select("table", "bucket", F.col(id_col).alias("id_a"))
                 .join(b.select("table", "bucket",
                                F.col(id_col).alias("id_b")),
                       ["table", "bucket"])
                 .where(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b")
                 .dropDuplicates())
        pairs = cand.join(side("a"), "id_a").join(side("b"), "id_b")
    else:
        # the left side STREAMS through the nested-loop join — spread it
        # across cores (a one-file test-scale scan is 1 partition, which
        # would run the whole quadratic stage single-threaded)
        pairs = _spread(side("a")).join(side("b"),
                                        F.col("id_a") < F.col("id_b"))
    score = F.try_divide(dot_expr(F.col("va"), F.col("vb")),
                         F.col("na") * F.col("nb"))
    return (pairs
            .withColumn("score", score)
            .where(F.col("score") >= threshold)
            .select("id_a", "id_b", F.bround(F.col("score"), 6).alias("score")))


def semdedup(df: DataFrame, dim: int, threshold: float = 0.95,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_centroids: int = 16, centroids: np.ndarray | None = None,
             seed: int = PLANE_SEED, assignment: str = "auto",
             max_cell: int | None = None,
             persist: bool = True) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space with a coarse quantizer, then prune near-duplicate
    members WITHIN each cluster.

    Deterministic variant: a row is dropped iff some SMALLER-id row in
    the same cell has cosine >= threshold to it (the greedy
    keep-lowest-id sweep, evaluated non-iteratively — the kept
    representative of every similarity group is its minimum id; unlike
    the iterative greedy, a row dominated only by itself-dropped rows is
    still dropped, which is the conservative direction for dedup).

    Returns ``(id_col, cell int, semdedup_keep boolean)``.

    Scale shape: cell assignment is one codegen projection (literal
    centroids) or one Arrow matmul batch (``assignment`` dispatch as in
    ``ivf_topk`` — auto switches to the broadcast-matrix pandas UDF
    above LITERAL_ASSIGN_BUDGET scalars, so high-dim stays plan-flat);
    the prune is ONE shuffle on ``cell`` + a within-cell self-join, so
    pair cost is sum(cell²), not n². At 10^12 docs you grow
    ``n_centroids`` ~ n/target_cell_size (SemDeDup used 50k clusters
    for LAION) and train them (``train_ivf_centroids``); the operator
    takes any centroid matrix unchanged. Centroids must be unit-norm
    (both built-in sources are): argmax dot == argmax cosine per row,
    so assignment reuses the IVF cell machinery unchanged.

    Null vectors get cell NULL and keep=true (exempt — same null-key
    exemption as exact dedup's null-text sentinel, dedup.py).

    ``max_cell`` is the skew guard (same role as LSH ``max_bucket``,
    dedup.py): cells with more members than the cap are EXCLUDED from
    the prune join (all members kept) so one degenerate cluster — a
    constant embedding, an undertrained quantizer — cannot create an
    O(hot²) pair stage; the returned ``cell`` column lets callers
    count skipped-cell mass for lineage.

    ``persist`` pins the assigned frame: THREE consumers read it (both
    self-join sides + the final keep-flag join), and unpersisted each
    recomputes the n_centroids·dim assignment per row — same tri-state
    contract (bool or CacheScope) as embedding_near_dup_pairs.
    """
    from datacanary_spark.plans.caching import maybe_persist

    cents, _, mode = _quantizers(dim, assignment, seed, n_centroids,
                                 centroids)
    base = _spread(df).select(F.col(id_col), F.col(vec_col).alias("_v"),
                              norm_expr(F.col(vec_col)).alias("_nrm"))
    base = base.withColumn("cell", _cell_col(base, "_v", cents, mode))
    base = maybe_persist(base, persist)

    joinable = base
    if max_cell is not None:
        # one count-shuffle on cell; oversized cells drop out of BOTH
        # join sides (members all keep) — bounds the pair stage at
        # sum(min(cell, max_cell)²) no matter how degenerate a cluster
        w = Window.partitionBy("cell")
        joinable = (base.withColumn("_csz", F.count(F.lit(1)).over(w))
                        .where(F.col("_csz") <= max_cell).drop("_csz"))
    left, right = (joinable.select(
        F.col("cell").alias(f"_c{s}"), F.col(id_col).alias(f"_id{s}"),
        F.col("_v").alias(f"_v{s}"), F.col("_nrm").alias(f"_n{s}"))
        for s in "ab")
    cos = F.try_divide(dot_expr(F.col("_va"), F.col("_vb")),
                       F.col("_na") * F.col("_nb"))
    dropped = (left.join(right, (F.col("_ca") == F.col("_cb"))
                         & (F.col("_ida") < F.col("_idb")))
                   .where(cos >= F.lit(threshold))
                   .select(F.col("_idb").alias(id_col))
                   .distinct())
    return (base.join(dropped.withColumn("_dropped", F.lit(True)),
                      [id_col], "left")
                .select(id_col, "cell",
                        F.coalesce(~F.col("_dropped"), F.lit(True))
                        .alias("semdedup_keep")))
