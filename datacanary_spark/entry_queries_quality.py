"""Driver-contract queries: rule-engine verdicts + health score
(reference-parity surface, SURVEY.md §2.4/§2.5) over the documents table.

The Spark side exercises the REAL engine API — single-pass profiler →
RuleEngine.evaluate_profile → get_health_score — and materializes the
(tiny) driver-side dicts as a DataFrame; the oracle recomputes the same
verdicts/score in pure SQL with the same 2-dp rounding points.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401 (parity with siblings)

from datacanary_spark.entry_queries import _t, _ts, register

DOC_COLUMNS = ["doc_id", "text", "lang", "source", "n_chars"]
NUMERIC_COLUMNS = ["doc_id", "n_chars"]

_NULL_PCT = ("round(avg(CASE WHEN {c} IS NULL THEN 1.0 ELSE 0.0 END) * 100, 2)")
_UNIQ_PCT = "round(count(DISTINCT {c}) * 100.0 / count(*), 2)"


def _doc_profile(spark, sf_dir):
    """The single-pass profile of ``documents`` that feeds five queries
    here, computed from the parquet on every call: a memoized result
    would make every warm run time a dict lookup."""
    from datacanary_spark.operators.profiler import analyse_dataframe

    return analyse_dataframe(_t(spark, sf_dir, "documents"))


def _verdict_selects() -> list[str]:
    sel = []
    for c in DOC_COLUMNS:
        sel.append(
            f"SELECT '{c}' AS column, 'null_percentage_check' AS rule, "
            f"{_NULL_PCT.format(c=c)} <= 5.0 AS passed FROM documents")
        sel.append(
            f"SELECT '{c}' AS column, 'unique_value_check' AS rule, "
            f"{_UNIQ_PCT.format(c=c)} >= 90.0 AS passed FROM documents")
    for c in NUMERIC_COLUMNS:
        sel.append(
            f"SELECT '{c}' AS column, 'value_range_check' AS rule, "
            f"min({c}) >= 0 AS passed FROM documents")
    return sel


def _evaluate(spark, sf_dir):
    from datacanary_spark.rules.engine import RuleEngine, default_rules

    d = _t(spark, sf_dir, "documents")
    profile = _doc_profile(spark, sf_dir)
    eng = RuleEngine()
    for r in default_rules():
        eng.add_rule(r)
    return d, profile, eng.evaluate_profile(profile, df=d)


@register("rule_engine_verdicts", " UNION ALL ".join(_verdict_selects()))
def rule_engine_verdicts(spark, sf_dir):
    """Default rule set evaluated through the engine (profile → verdicts)."""
    _, _, results = _evaluate(spark, sf_dir)
    rows = [(col, r["rule_name"], bool(r["result"]["passed"]))
            for col, verdicts in results.items() for r in verdicts]
    return spark.createDataFrame(rows, "column: string, rule: string, passed: boolean")


@register(
    "profile_rounded_percentages",
    " UNION ALL ".join(
        f"SELECT '{c}' AS column, "
        f"{_NULL_PCT.format(c=c)} AS null_percentage, "
        f"{_UNIQ_PCT.format(c=c)} AS unique_percentage, "
        f"(count({c}) > count(DISTINCT {c})) OR (count(*) - count({c}) > 1)"
        f" AS has_duplicates "
        f"FROM documents"
        for c in DOC_COLUMNS),
)
def profile_rounded_percentages(spark, sf_dir):
    """The reference's threshold-feeding stats — null%/unique% at their
    2-dp rounding points (half-even, statistical_analyser.py:46,48) and
    the pandas null-inclusive has_duplicates (:49) — straight from the
    engine's single-pass profile."""
    profile = _doc_profile(spark, sf_dir)
    rows = [(c, float(profile[c]["stats"]["null_percentage"]),
             float(profile[c]["stats"]["unique_percentage"]),
             bool(profile[c]["stats"]["has_duplicates"]))
            for c in DOC_COLUMNS]
    return spark.createDataFrame(
        rows, "column: string, null_percentage: double, "
              "unique_percentage: double, has_duplicates: boolean")


@register(
    "profile_sample_values",
    """
    SELECT array_to_string(
             list_sort(list_distinct(list(lang)))[1:10], '|') AS sample_langs,
           array_to_string(
             list_sort(list_distinct(list(source)))[1:10], '|') AS sample_sources
    FROM documents
    """,
)
def profile_sample_values(spark, sf_dir):
    """Deterministic sample_values (first 10 distinct in sort order — the
    engine's documented deviation from the reference's unseeded random
    sample, statistical_analyser.py:79)."""
    profile = _doc_profile(spark, sf_dir)
    return spark.createDataFrame(
        [("|".join(profile["lang"]["stats"]["sample_values"]),
          "|".join(profile["source"]["stats"]["sample_values"]))],
        "sample_langs: string, sample_sources: string")


_PATTERNS = [
    ("source", "^src[0-9]+$"),   # matches every source → passed
    ("lang", "^(en|fr|es)$"),    # de/zh don't match → fails with counts
    ("text", "^[A-Za-z]"),       # docs starting with a letter
]


@register(
    "pattern_match_rule_fulldata",
    " UNION ALL ".join(
        f"SELECT '{c}' AS column, '{p}' AS pattern, "
        f"CAST(sum(CASE WHEN {c} IS NOT NULL AND {c} <> '' "
        f"AND NOT regexp_matches({c}, '{p}') THEN 1 ELSE 0 END) AS BIGINT) AS nomatch, "
        f"sum(CASE WHEN {c} IS NOT NULL AND {c} <> '' "
        f"AND NOT regexp_matches({c}, '{p}') THEN 1 ELSE 0 END) = 0 AS passed "
        f"FROM documents"
        for c, p in _PATTERNS),
)
def pattern_match_rule_fulldata(spark, sf_dir):
    """PatternMatchRule in full-data mode (anchored like re.match,
    evaluated on every row through the engine's one-agg path —
    rule_engine.py:294-300 strengthened per SURVEY.md §1.3)."""
    from datacanary_spark.rules.builtin import PatternMatchRule
    from datacanary_spark.rules.engine import RuleEngine

    d = _t(spark, sf_dir, "documents")
    profile = _doc_profile(spark, sf_dir)
    eng = RuleEngine()
    for c, p in _PATTERNS:
        eng.add_rule(PatternMatchRule(p, name=f"pat_{c}"))
    counts = eng._full_pattern_counts(profile, d)
    # counts keyed by (column, rule_ix); each rule applies to every
    # string column — pick each rule's intended column
    rows = []
    for i, (c, p) in enumerate(_PATTERNS):
        n = counts[(c, i)]
        rows.append((c, p, n, n == 0))
    return spark.createDataFrame(
        rows, "column: string, pattern: string, nomatch: long, passed: boolean")


def _duck_outlier_selects() -> list[str]:
    sel = []
    for c in NUMERIC_COLUMNS:
        for kind, agg in (("minimum", "min"), ("maximum", "max")):
            # filter on the UNROUNDED z (detect_outliers thresholds the
            # raw z and rounds only for display); rounding first would
            # shift the cut to z >= 3.005
            sel.append(
                f'SELECT "column", boundary, value, round(z_raw, 2) AS z_score '
                f'FROM (SELECT \'{c}\' AS "column", \'{kind}\' AS boundary, '
                f"CAST({agg}({c}) AS DOUBLE) AS value, "
                f"abs(({agg}({c}) - avg({c})) / stddev_samp({c})) AS z_raw "
                f"FROM aug) t_{c}_{agg} WHERE z_raw > 3")
    return sel


@register(
    "insight_outliers",
    """
    WITH aug AS (
      SELECT doc_id, n_chars FROM documents
      UNION ALL SELECT 999999 AS doc_id, 100000 AS n_chars
    )
    """ + " UNION ALL ".join(_duck_outlier_selects()),
)
def insight_outliers(spark, sf_dir):
    """Outlier insight (|z| of profile min/max > 3, std<1e-10 skipped —
    trend_detection.py:16-83) through the real API, over a corpus with a
    planted extreme row so the detector demonstrably fires."""
    from datacanary_spark.analysis.insights import detect_outliers
    from datacanary_spark.operators.profiler import analyse_dataframe

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    aug = d.unionByName(d.sparkSession.createDataFrame(
        [(999999, 100000)], "doc_id: long, n_chars: long"))
    profile = analyse_dataframe(aug)
    found = detect_outliers(profile)
    rows = [(c, o["type"], float(o["value"]), float(o["z_score"]))
            for c, items in found.items() for o in items]
    return spark.createDataFrame(
        rows, "column: string, boundary: string, value: double, z_score: double")


_SKEW_DIFF = ("abs(avg({c}) - median({c})) "
              "/ greatest(abs(avg({c})), abs(median({c})), 1e-10) * 100")


@register(
    "insight_skewness",
    " UNION ALL ".join(
        f"SELECT * FROM (SELECT '{c}' AS column, "
        f"CASE WHEN avg({c}) > median({c}) THEN 'right-skewed' "
        f"ELSE 'left-skewed' END AS direction, "
        f"CASE WHEN {_SKEW_DIFF.format(c=c)} < 5 THEN 'mild' "
        f"WHEN {_SKEW_DIFF.format(c=c)} < 15 THEN 'moderate' "
        f"ELSE 'strong' END AS strength "
        f"FROM documents) t{i} "
        f"WHERE EXISTS (SELECT 1 FROM documents "
        f"HAVING abs(avg({c}) - median({c})) >= 1e-10)"
        for i, c in enumerate(NUMERIC_COLUMNS)),
)
def insight_skewness(spark, sf_dir):
    """Distribution-skew insight (5%/15% mean-median bands,
    trend_detection.py:85-140) through the real insights API."""
    from datacanary_spark.analysis.insights import detect_distribution_skewness

    profile = _doc_profile(spark, sf_dir)
    skew = detect_distribution_skewness(profile)
    rows = [(c, v["direction"], v["strength"]) for c, v in skew.items()]
    return spark.createDataFrame(
        rows, "column: string, direction: string, strength: string")


@register(
    "health_score_documents",
    f"""
    WITH verdicts AS ({' UNION ALL '.join(_verdict_selects())}),
    compliance AS (
      SELECT round(sum(CASE WHEN passed THEN 1.0 ELSE 0.0 END)
                   / count(*) * 100, 2) AS rule_compliance
      FROM verdicts
    ),
    nulls AS (
      SELECT round(100 - (
        {' + '.join(_NULL_PCT.format(c=c) for c in DOC_COLUMNS)}
      ) / {len(DOC_COLUMNS)}, 2) AS completeness
      FROM documents
    )
    SELECT round(rule_compliance * 0.7 + completeness * 0.3, 2) AS health_score,
           rule_compliance, completeness
    FROM compliance, nulls
    """,
)
def health_score_documents(spark, sf_dir):
    """Reference health-score formula: 0.7·rule-compliance +
    0.3·completeness, each rounded to 2 dp (summary_statistics.py:124-140)."""
    from datacanary_spark.analysis.summary import get_health_score

    _, profile, results = _evaluate(spark, sf_dir)
    h = get_health_score(results, profile)
    return spark.createDataFrame(
        [(float(h["health_score"]),
          float(h["components"]["rule_compliance"]),
          float(h["components"]["completeness"]))],
        "health_score: double, rule_compliance: double, completeness: double")


# ---------------------------------------------------------------------------
# Classifier scoring-plan parity (plans/classifier.py). The trained model is
# a coefficient bundle applied as a pure Column expression; an oracle can't
# retrain LBFGS bit-identically, but it CAN verify the scoring plan: with
# PINNED coefficients, the margin z = w·x + b is plain float64 arithmetic
# (strictly left-associated on both sides, no exp) over the heuristic text
# features, so Spark and DuckDB agree bit-for-bit. This gives the 10^12-doc
# scoring pass (SCALE.md §4a) a driver-verified row.
# ---------------------------------------------------------------------------

_CLF_W = {
    "n_chars": 1e-4,
    "word_count": 5e-4,
    "mean_word_length": 0.05,
    "symbol_to_word_ratio": -6.0,
    "stopword_fraction": 3.0,
    "dup_line_fraction": -4.0,
    "dup_trigram_fraction": -4.0,
}
_CLF_B = -0.6


def _duck_clf_features() -> str:
    """DuckDB twins of plans.classifier.featurized()'s feat_* columns
    (null/empty text → 0.0, same division guards as try_divide)."""
    from datacanary_spark.functions.heuristics import (
        ALL_STOPWORDS,
        SYMBOL_CLASS,
    )
    W = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"
    L = "string_split(text, chr(10))"
    T = (f"list_transform(generate_series(1, len({W}) - 2), "
         f"i -> {W}[i] || ' ' || {W}[i+1] || ' ' || {W}[i+2])")
    return f"""
      SELECT doc_id, lang,
        COALESCE(CAST(length(text) AS DOUBLE), 0.0) AS f_n_chars,
        COALESCE(CAST(len({W}) AS DOUBLE), 0.0) AS f_word_count,
        CASE WHEN len({W}) > 0 THEN
          CAST(list_aggregate(list_transform({W}, x -> length(x)), 'sum')
               AS DOUBLE) / CAST(len({W}) AS DOUBLE)
        ELSE 0.0 END AS f_mean_word_length,
        CASE WHEN len({W}) > 0 THEN
          CAST(length(text) - length(regexp_replace(text, '{SYMBOL_CLASS}',
                                                    '', 'g')) AS DOUBLE)
            / CAST(len({W}) AS DOUBLE)
        ELSE 0.0 END AS f_symbol_to_word_ratio,
        CASE WHEN len({W}) > 0 THEN
          CAST(len(list_filter({W},
                   x -> list_contains({sorted(ALL_STOPWORDS)!r}, x)))
               AS DOUBLE) / CAST(len({W}) AS DOUBLE)
        ELSE 0.0 END AS f_stopword_fraction,
        CASE WHEN len({L}) > 0 THEN
          1.0 - CAST(len(list_distinct({L})) AS DOUBLE)
                  / CAST(len({L}) AS DOUBLE)
        ELSE 0.0 END AS f_dup_line_fraction,
        CASE WHEN len({W}) >= 3 THEN
          1.0 - CAST(len(list_distinct({T})) AS DOUBLE)
                  / CAST(len({W}) - 2 AS DOUBLE)
        ELSE 0.0 END AS f_dup_trigram_fraction
      FROM documents
    """


def _duck_clf_margin() -> str:
    terms = " + ".join(f"{w!r} * f_{n}" for n, w in _CLF_W.items())
    return f"""
    WITH feats AS ({_duck_clf_features()}),
    scored AS (SELECT doc_id, lang, {_CLF_B!r} + {terms} AS z FROM feats)
    """


@register(
    "classifier_margin_keep_by_lang",
    _duck_clf_margin() + """
    SELECT lang,
           CAST(sum(CASE WHEN z >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(sum(CASE WHEN z >= 0.0 THEN 0 ELSE 1 END) AS BIGINT) AS dropped,
           round(min(z), 6) AS min_margin,
           round(max(z), 6) AS max_margin
    FROM scored GROUP BY lang
    """,
)
def classifier_margin_keep_by_lang(spark, sf_dir):
    """Classifier scoring pass with pinned coefficients: per-language
    keep/drop counts at threshold P(keep) >= 0.5 (margin z >= 0) plus the
    min/max margin. One scan, one codegen projection (featurized stats +
    the left-associated w·x + b), one hash aggregate — the exact plan
    shape of the production classifier filter stage in plans/curate.py,
    driver-verified against a DuckDB float64 twin."""
    from datacanary_spark.plans.classifier import (
        QualityClassifier,
        featurized,
        quality_margin_expr,
    )

    clf = QualityClassifier(tuple(_CLF_W), tuple(_CLF_W.values()), _CLF_B)
    # _ts (r06): featurization is the heaviest per-row expression block
    # in the file and fuses into a single-split scan otherwise; every
    # aggregate below is order-insensitive (int sums, bround(min/max))
    d = featurized(_ts(spark, sf_dir, "documents"))
    z = quality_margin_expr(clf)
    d = d.select("lang", z.alias("z"))
    keep = F.col("z") >= F.lit(0.0)
    return d.groupBy("lang").agg(
        F.sum(F.when(keep, 1).otherwise(0)).alias("kept"),
        F.sum(F.when(keep, 0).otherwise(1)).alias("dropped"),
        F.bround(F.min("z"), 6).alias("min_margin"),
        F.bround(F.max("z"), 6).alias("max_margin"),
    )


@register(
    "classifier_top_fraction_by_lang",
    _duck_clf_margin() + """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           round(min(z), 6) AS min_kept_margin
    FROM scored
    WHERE z >= (SELECT quantile_cont(z, 0.3) FROM scored)
    GROUP BY lang
    """,
)
def classifier_top_fraction_by_lang(spark, sf_dir):
    """DCLM-style top-fraction selection with pinned coefficients: keep
    the top 70% of docs by classifier margin (exact global percentile
    threshold, ties kept). sum(doc_id) pins exact membership — the
    selection must be a pure function of the score, never of partition
    order."""
    from datacanary_spark.plans.caching import CacheScope
    from datacanary_spark.plans.classifier import (
        QualityClassifier,
        classify_top_fraction,
    )

    clf = QualityClassifier(tuple(_CLF_W), tuple(_CLF_W.values()), _CLF_B)
    # _ts (r06): spread the scan so featurization parallelizes (the
    # select prunes below the exchange); the percentile, count, int
    # sum and bround(min) are all order-insensitive
    d = _ts(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # CacheScope: the scored frame feeds BOTH the percentile collect
    # and the survivor aggregate — unpersisted it featurizes twice
    # (measured 4.7 -> 0.6 s warm at sf0.1); a bare persist=True would
    # leak the cached frame into the long-lived driver session on
    # every gate/bench run, so materialize inside the scope and return
    # the (tiny) result as a local frame
    from datacanary_spark.entry_queries import _local_result

    with CacheScope() as scope:
        kept = classify_top_fraction(d, clf, 0.7, tie_col="doc_id",
                                     margin_col="z", persist=scope)
        return _local_result(
            spark,
            kept.groupBy("lang").agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.sum("doc_id").alias("sum_ids"),
                F.bround(F.min("z"), 6).alias("min_kept_margin")),
            "lang string, n_kept bigint, sum_ids bigint, "
            "min_kept_margin double")


# --------------------------------------------------------------------------
# Gopher char-weighted repetition signals (functions/repetition.py).
# --------------------------------------------------------------------------

_DUCK_WORDS_R = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"


def _duck_ngram_cte(n: int) -> str:
    """Explode-and-count twin of the Spark run-length fold for one n."""
    return f"""
    g{n} AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(words) - {n - 1}),
                    i -> array_to_string(words[i:i + {n - 1}], ' '))) AS g
      FROM rbase WHERE len(words) >= {n}
    ),
    c{n} AS (SELECT doc_id, g, count(*) AS c FROM g{n} GROUP BY doc_id, g)"""


_DUCK_REPETITION = f"""
    WITH rbase AS (
      SELECT doc_id, lang, length(text) AS n_chars, {_DUCK_WORDS_R} AS words
      FROM documents
    ),
    {_duck_ngram_cte(2)},
    t2 AS (
      SELECT doc_id, c AS topc, g AS topg FROM (
        SELECT doc_id, c, g,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
        FROM c2) WHERE rn = 1
    ),
    {_duck_ngram_cte(5)},
    d5 AS (SELECT doc_id, sum((c - 1) * length(g)) AS dup_chars
           FROM c5 WHERE c > 1 GROUP BY doc_id),
    {_duck_ngram_cte(10)},
    d10 AS (SELECT doc_id, sum((c - 1) * length(g)) AS dup_chars
            FROM c10 WHERE c > 1 GROUP BY doc_id),
    fr AS (
      SELECT b.lang,
             least(1.0, coalesce(
               (CASE WHEN t2.topc >= 2 THEN t2.topc * length(t2.topg) END)
                 / CAST(nullif(b.n_chars, 0) AS DOUBLE), 0.0)) AS top2,
             least(1.0, coalesce(
               d5.dup_chars / CAST(nullif(b.n_chars, 0) AS DOUBLE), 0.0)) AS dup5,
             least(1.0, coalesce(
               d10.dup_chars / CAST(nullif(b.n_chars, 0) AS DOUBLE), 0.0)) AS dup10
      FROM rbase b
      LEFT JOIN t2 ON b.doc_id = t2.doc_id
      LEFT JOIN d5 ON b.doc_id = d5.doc_id
      LEFT JOIN d10 ON b.doc_id = d10.doc_id
    )
"""


@register(
    "gopher_repetition_by_lang",
    _DUCK_REPETITION + """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(top2), 6) AS avg_top2_chars,
           round(avg(dup5), 6) AS avg_dup5_chars,
           round(avg(dup10), 6) AS avg_dup10_chars,
           CAST(sum(CASE WHEN top2 > 0.20 OR dup5 > 0.15 OR dup10 > 0.10
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition_hits
    FROM fr GROUP BY lang
    """,
)
def gopher_repetition_by_lang(spark, sf_dir):
    """Gopher table-A1 char-weighted repetition signals per language:
    mean top-2-gram / dup-5-gram / dup-10-gram character fractions and
    the count of docs violating any threshold (0.20/0.15/0.10).

    Spark side is one narrow projection (sort + linear run-length fold
    per n, no shuffle, no Python) + one hash aggregate; the oracle is
    the explode+GROUP BY formulation — same numbers, different shape,
    which is exactly what makes it a real check of the fold."""
    from datacanary_spark.functions.repetition import (
        RepetitionConfig,
        with_repetition_stats,
    )

    cfg = RepetitionConfig()
    d = with_repetition_stats(
        _ts(spark, sf_dir, "documents"), top_ns=(2,), dup_ns=(5, 10))
    top2 = F.col("rep_top_2gram_char_fraction")
    dup5 = F.col("rep_dup_5gram_char_fraction")
    dup10 = F.col("rep_dup_10gram_char_fraction")
    hit = (
        (top2 > cfg.max_top_ngram_char_fraction[0])
        | (dup5 > cfg.max_dup_ngram_char_fraction[0])
        | (dup10 > cfg.max_dup_ngram_char_fraction[5]))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.bround(F.avg(top2), 6).alias("avg_top2_chars"),
        F.bround(F.avg(dup5), 6).alias("avg_dup5_chars"),
        F.bround(F.avg(dup10), 6).alias("avg_dup10_chars"),
        F.sum(hit.cast("int")).cast("long").alias("n_repetition_hits"),
    )


# ---------------------------------------------------------------------------
# Rule ablation (text_analysis.rule_ablation): Dolma/DCLM-style per-rule
# keep-rate deltas. Reuses entry_queries._DUCK_RULE_STATS (the pinned
# SQL twin of heuristic_hit_exprs) so the two queries can never drift.
# ---------------------------------------------------------------------------

def _ablation_sql():
    from datacanary_spark.entry_queries import _DUCK_RULE_STATS
    from datacanary_spark.functions.heuristics import FilterConfig

    rules = FilterConfig().heuristic_rule_names
    nh = " + ".join(rules)
    per_rule = " UNION ALL ".join(
        f"""SELECT lang, '{r}' AS rule,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN nh = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS kept_all,
               CAST(sum({r}) AS BIGINT) AS blocked,
               CAST(sum(CASE WHEN {r} = 1 AND nh = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS uniquely_blocked,
               round((sum(CASE WHEN nh = 0 THEN 1 ELSE 0 END)
                      + sum(CASE WHEN {r} = 1 AND nh = 1 THEN 1 ELSE 0 END))
                     / CAST(count(*) AS DOUBLE), 6) AS keep_rate_without
           FROM t GROUP BY lang"""
        for r in rules)
    return (_DUCK_RULE_STATS
            + f", t AS (SELECT lang, {nh} AS nh, "
            + ", ".join(rules) + " FROM h) "
            + per_rule)


@register("rule_ablation_by_lang", _ablation_sql())
def rule_ablation_by_lang(spark, sf_dir):
    """Per-(lang, rule) ablation report for the 9-rule heuristic
    filter: docs blocked, docs UNIQUELY blocked (recoverable by
    dropping the rule), and the keep rate with the rule removed — the
    threshold-tuning report, computed in ONE pass (one scan + one hash
    aggregate + a stack), not one pipeline run per rule."""
    from datacanary_spark.operators.text_analysis import rule_ablation

    d = _t(spark, sf_dir, "documents")
    out = rule_ablation(d)
    return out.select("lang", "rule", "n_docs", "kept_all", "blocked",
                      "uniquely_blocked",
                      F.bround("keep_rate_without", 6)
                       .alias("keep_rate_without"))
