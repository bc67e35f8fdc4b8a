"""Single-pass column profiler.

Reimplements the reference's ``StatisticalAnalyser.analyse_dataframe``
(/root/reference/src/datacanary/analysers/statistical_analyser.py:17-98)
as ONE ``df.agg(...)`` over all columns — the reference computes each
statistic in a separate eager pandas pass (``isna()`` twice at :45-46,
``nunique()`` twice at :47-48, a ``dropna()`` copy per dtype branch at
:53,68,83); here Catalyst fuses everything into at most two single-scan
aggregation jobs (one in approx mode) with partial+final hash
aggregation and whole-stage codegen, so profiling a 100 TB table costs
one or two column-pruned reads (see profile_expr_groups for why exact
mode splits the collect_set samples out — a measured 4× Expand ×
object-aggregate interaction).

Reference semantics preserved (see SURVEY.md §1.3):

* ``null_percentage`` / ``unique_percentage`` rounded to 2 decimals with
  banker's rounding (pandas ``round`` → Spark ``F.bround``, NOT
  ``F.round`` which is HALF_UP) — statistical_analyser.py:46,48.
* ``unique_count`` excludes nulls while the percentage denominator is
  total rows — statistical_analyser.py:47-48.
* ``std_dev`` is sample stddev, forced to 0.0 when a single non-null
  value — statistical_analyser.py:60.
* zeros / negatives / string-length / empty-string stats over non-null
  values only — statistical_analyser.py:53,61-63,68-77.
* ``median`` exact (``percentile``, not approx) — statistical_analyser.py:59.
* ``range_days`` truncates to whole days — statistical_analyser.py:88.
* ``has_duplicates`` counts repeated nulls as duplicates (pandas
  ``col.duplicated().any()`` at :49 is null-inclusive).
* ``sample_values``: the reference samples ≤10 values WITHOUT a seed
  (:79, nondeterministic); we deviate deliberately and return the first
  10 distinct values in sort order — deterministic across runs and
  cluster sizes (documented deviation, SURVEY.md §7 hard-part 4).

Scale notes (``approx=True`` — the 10^12-row mode): EVERY unbounded
aggregation state becomes bounded under the one flag, same single-scan
plan shape, no extra shuffle:

* distinct counts → HLL++ (``approx_count_distinct``);
* exact ``percentile`` median → ``approx_percentile`` sketch;
* ``collect_set`` samples → 10 independent ``min_by`` salted-hash picks
  (one value of state each — deterministic across runs AND cluster
  sizes, unlike a gated collect whose state still grows with distinct
  count).

``tests/test_profiler.py::test_approx_mode_plans_bounded_state`` asserts
the approx plan contains no exact percentile / collect_set.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# HLL++ relative standard deviation used by approx mode (pinned so the
# has_duplicates guard band below stays in sync with the sketch).
_APPROX_RSD = 0.05

NUMERIC_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                 T.FloatType, T.DoubleType, T.DecimalType)
STRING_TYPES = (T.StringType,)
DATETIME_TYPES = (T.TimestampType, T.DateType, T.TimestampNTZType)


def _type_name(dt: T.DataType) -> str:
    """Dtype names aligned with the reference's pandas names so rule
    applicability prefixes (int/float/object/datetime/bool) keep working
    (rule applicability dispatch: rule_engine.py:37-47)."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int64"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float64"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, DATETIME_TYPES):
        return "datetime64[ns]"
    if isinstance(dt, T.StringType):
        return "object"
    return dt.simpleString()


def _generic_exprs(c: str, approx: bool) -> list:
    col = F.col(c)
    distinct = (F.approx_count_distinct(c, _APPROX_RSD) if approx
                else F.count_distinct(col))
    total = F.count(F.lit(1))
    non_null = F.count(col)
    # In approx mode the distinct count is an HLL estimate (±rsd), so a
    # raw non_null > estimate comparison would flag an all-unique column
    # as duplicated whenever the sketch undershoots. Require the count
    # to exceed the estimate by a 3·rsd guard band: confident duplicates
    # only; columns whose duplicate fraction is below ~3·rsd may report
    # False (documented approximation — exact mode is unchanged).
    dup_non_null = (non_null > distinct * (1.0 + 3.0 * _APPROX_RSD)
                    if approx else (non_null > distinct))
    return [
        total.alias(f"{c}__count"),
        F.coalesce(F.sum(col.isNull().cast("long")), F.lit(0)).alias(f"{c}__null_count"),
        F.bround(F.coalesce(F.avg(col.isNull().cast("double")), F.lit(0.0)) * 100, 2)
        .alias(f"{c}__null_percentage"),
        distinct.alias(f"{c}__unique_count"),
        F.bround(F.coalesce(F.try_divide(distinct, total), F.lit(0.0)) * 100, 2)
        .alias(f"{c}__unique_percentage"),
        # pandas duplicated().any() counts repeated NULLs as duplicates:
        # dup iff non-null dup OR (null_count > 1)
        (dup_non_null | (total - non_null > 1)).alias(f"{c}__has_duplicates"),
    ]


def _numeric_exprs(c: str, approx: bool = False) -> list:
    col = F.col(c).cast("double")
    nn = F.count(col)
    # Exact percentile builds unbounded aggregation state on
    # high-cardinality doubles; approx/scale mode switches to the
    # fixed-size t-digest-style sketch (approx_percentile).
    median = (F.expr(f"approx_percentile(`{c}`, 0.5)") if approx
              else F.expr(f"percentile(`{c}`, 0.5)"))
    return [
        F.min(col).alias(f"{c}__min"),
        F.max(col).alias(f"{c}__max"),
        F.avg(col).alias(f"{c}__mean"),
        median.cast("double").alias(f"{c}__median"),
        F.when(nn > 1, F.coalesce(F.stddev_samp(col), F.lit(0.0)))
        .otherwise(F.when(nn == 1, F.lit(0.0))).alias(f"{c}__std_dev"),
        F.coalesce(F.sum(F.when(col == 0, 1).otherwise(0)), F.lit(0)).alias(f"{c}__zeros_count"),
        F.bround(F.coalesce(
            F.try_divide(F.sum(F.when(col == 0, 1).otherwise(0)), nn), F.lit(0.0)) * 100, 2)
        .alias(f"{c}__zeros_percentage"),
        F.coalesce(F.sum(F.when(col < 0, 1).otherwise(0)), F.lit(0)).alias(f"{c}__negative_count"),
    ]


def _string_exprs(c: str, approx: bool = False) -> list:
    col = F.col(c)
    ln = F.length(col)
    nn = F.count(col)
    if approx:
        # Scale mode: BOUNDED aggregation state — 10 independent
        # min-by-salted-hash picks (one value of state each) instead of
        # collect_set (state grows with distinct count; a 1/1024 hash
        # gate still admits ~10^9 values at 10^12 distinct). Each pick
        # is the value minimizing xxhash64(salt:value): deterministic,
        # ~uniform over distinct values, duplicates collapsed at the end.
        picks = [
            F.min_by(col, F.when(col.isNotNull(),
                                 F.xxhash64(F.concat(F.lit(f"{j}:"), col))))
            for j in range(10)
        ]
        sample = F.array_sort(F.array_compact(F.array_distinct(F.array(*picks))))
    else:
        # Exact mode: first 10 distinct values in sort order (matches the
        # oracle / reference-parity contract on small tables).
        sample = F.slice(F.array_sort(F.collect_set(col)), 1, 10)
    return [
        F.min(ln).alias(f"{c}__min_length"),
        F.max(ln).alias(f"{c}__max_length"),
        F.avg(ln).alias(f"{c}__mean_length"),
        F.coalesce(F.sum(F.when(col == "", 1).otherwise(0)), F.lit(0))
        .alias(f"{c}__empty_string_count"),
        F.bround(F.coalesce(
            F.try_divide(F.sum(F.when(col == "", 1).otherwise(0)), nn), F.lit(0.0)) * 100, 2)
        .alias(f"{c}__empty_string_percentage"),
        # Deterministic sample (deviation from the reference's unseeded
        # random sample, :79) — exact or bounded-state variant per above.
        sample.alias(f"{c}__sample_values"),
    ]


def _datetime_exprs(c: str) -> list:
    col = F.col(c)
    return [
        F.date_format(F.min(col), "yyyy-MM-dd HH:mm:ss").alias(f"{c}__min_date"),
        F.date_format(F.max(col), "yyyy-MM-dd HH:mm:ss").alias(f"{c}__max_date"),
        F.floor((F.unix_timestamp(F.max(col)) - F.unix_timestamp(F.min(col))) / 86400)
        .alias(f"{c}__range_days"),
    ]


def profile_exprs(df: DataFrame, approx: bool = False) -> list:
    """All aggregate expressions for every column — one agg, one scan."""
    main, samples = profile_expr_groups(df, approx)
    return main + samples


def profile_expr_groups(df: DataFrame, approx: bool = False) -> tuple[list, list]:
    """Profile expressions split into (main, samples).

    Why the split exists: Spark plans multiple exact ``count_distinct``
    columns via an Expand (one replicated row group per distinct column),
    and when a ``collect_set`` shares the aggregate the whole thing
    becomes an object/sort aggregate over the expanded rows — measured
    6.0 s vs 0.7 s + 0.6 s run separately at sf0.1 (the two classes are
    individually cheap; only their combination degrades). Exact mode
    therefore runs the collect_set samples as a second single-scan job.
    Approx mode has no Expand (HLL++ is a plain aggregate) and bounded
    ``min_by`` picks instead of collect_set, so its samples stay in the
    main aggregation and ``samples`` is empty.
    """
    main: list = []
    samples: list = []
    for field in df.schema.fields:
        c = field.name
        main.extend(_generic_exprs(c, approx))
        if isinstance(field.dataType, NUMERIC_TYPES):
            main.extend(_numeric_exprs(c, approx))
        elif isinstance(field.dataType, T.BooleanType):
            pass  # generic stats only, like the reference (:43-50)
        elif isinstance(field.dataType, STRING_TYPES):
            str_exprs = _string_exprs(c, approx)
            if approx:
                main.extend(str_exprs)
            else:
                main.extend(str_exprs[:-1])
                samples.append(str_exprs[-1])  # the collect_set sample
        elif isinstance(field.dataType, DATETIME_TYPES):
            main.extend(_datetime_exprs(c))
    return main, samples


def analyse_dataframe(df: DataFrame, approx: bool = False) -> dict[str, dict[str, Any]]:
    """Profile every column; returns the reference's nested-dict IR:
    ``{column: {"type": dtype_str, "stats": {...}}}``
    (statistical_analyser.py:37-95). Empty DataFrame → stats computed
    over zero rows (counts 0), matching reference's per-column behavior;
    a DataFrame with no columns → {}.

    Runs as ONE aggregation job in approx mode, TWO single-scan jobs in
    exact mode (see profile_expr_groups for the measured reason).
    """
    if not df.columns:
        return {}
    main, samples = profile_expr_groups(df, approx)
    row = df.agg(*main).collect()[0].asDict()
    if samples:
        row.update(df.agg(*samples).collect()[0].asDict())
    # Assign each stat key to the LONGEST matching column prefix: a
    # naive startswith would let column 'x' absorb the stats of a
    # sibling column named 'x__y' (its keys 'x__y__count', … all start
    # with 'x__'). Longest-first is exact because stat names themselves
    # never contain '__'.
    by_len = sorted((f.name for f in df.schema.fields), key=len, reverse=True)
    out: dict[str, dict[str, Any]] = {
        f.name: {"type": _type_name(f.dataType), "stats": {}}
        for f in df.schema.fields
    }
    for k, v in row.items():
        for c in by_len:
            prefix = f"{c}__"
            if k.startswith(prefix):
                out[c]["stats"][k[len(prefix):]] = v
                break
    return out

