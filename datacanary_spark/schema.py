"""Schemas for the engine's core tables.

The pages schema is mandated by the build contract (BASELINE.json
input_hint): Common-Crawl-style web pages
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

The reference has no declared schemas anywhere — it profiles whatever
pandas infers from the Parquet footer
(/root/reference/src/datacanary/analysers/statistical_analyser.py:37-43).
We keep that "profile anything" behavior in the profiler, but the filter
pipeline declares its input/output contracts explicitly.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- input: Common-Crawl-style pages -------------------------------------

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---- events stream table (matches /root/testdata/sf*/events.parquet) -------

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

# ---- output: per-document verdicts ----------------------------------------

# The authoritative verdict contract: plans/pipeline.py selects its
# output columns FROM this list (names) and tests pin the runtime
# dtypes to these (test_filter_pipeline), so the declared schema and
# the shipped pipeline cannot drift apart.
VERDICT_FIELDS = [
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("keep", T.BooleanType(), False),
    T.StructField("rule_hits",
                  T.MapType(T.StringType(), T.IntegerType(), False), False),
    T.StructField("lang_pred", T.StringType(), True),
    T.StructField("lang_conf", T.DoubleType(), True),
    T.StructField("ppl", T.DoubleType(), True),
    T.StructField("scrubbed_text", T.StringType(), True),
    T.StructField("scrub_count", T.IntegerType(), True),
]
VERDICT_SCHEMA = T.StructType(VERDICT_FIELDS)

# ---- lineage / metrics rows ------------------------------------------------

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_count", T.LongType(), False),
        T.StructField("keep_count", T.LongType(), False),
        T.StructField("drop_count", T.LongType(), False),
        T.StructField("scrub_count", T.LongType(), False),
        T.StructField("rule_hit_histogram", T.MapType(T.StringType(), T.LongType()), False),
    ]
)
