"""Curation lineage as observed metrics: task retries must not double a
stage count, and a count whose frame never ran must fail loudly rather
than block."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from datacanary_spark.plans.curate import _observed_counts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in its own JVM: task retries need local[N,maxFailures], which a
# running SparkContext cannot change. The UDF sits upstream of every
# observed stage and fails the first attempt of partition 0 in each job
# that computes it; the retried run must report the clean run's lineage.
_RETRY_SCRIPT = textwrap.dedent("""
    import json, os, sys
    from pyspark import TaskContext
    from pyspark.sql import functions as F
    from datacanary_spark.plans import curate
    from datacanary_spark.session import get_spark

    pages, out = sys.argv[1], sys.argv[2]
    marker = os.path.join(out, "injected")
    spark = get_spark(master="local[2,2]", shuffle_partitions=2)

    @F.udf("string")
    def fail_first_attempt(text):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            open(marker, "a").close()
            raise RuntimeError("injected first-attempt failure")
        return text

    filter_pages = curate.filter_pages

    def flaky_filter_pages(df, *args, **kwargs):
        return filter_pages(df.withColumn("text", fail_first_attempt("text")),
                            *args, **kwargs)

    result = {}
    for pin in ("persist", "checkpoint"):
        kw = dict(host_cap=5, stage_pin=pin)
        curate.filter_pages = filter_pages
        clean = curate.run_curation_job(spark, pages, f"{out}/{pin}_clean", **kw)
        curate.filter_pages = flaky_filter_pages
        retried = curate.run_curation_job(spark, pages, f"{out}/{pin}_retried",
                                          **kw)
        result[pin] = [clean, retried]
    result["injected"] = os.path.exists(marker)
    spark.stop()
    print(json.dumps(result, sort_keys=True))
""")


def test_task_retry_does_not_double_stage_counts(tmp_path):
    from datacanary_spark.sources.fixtures import write_pages_parquet

    pages = str(tmp_path / "pages")
    write_pages_parquet(pages, n_docs=120, seed=11)
    script = tmp_path / "retry_run.py"
    script.write_text(_RETRY_SCRIPT)
    env = dict(os.environ, PYTHONPATH=REPO, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [sys.executable, str(script), pages, str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["injected"], "no task failure was injected"
    for pin in ("persist", "checkpoint"):
        clean, retried = result[pin]
        assert retried["stage_pin"] == clean["stage_pin"] == pin
        assert retried["stage_lineage"] == clean["stage_lineage"]
        for key in ("docs_in", "kept", "final_docs", "by_lang"):
            assert retried[key] == clean[key], (pin, key)
        assert clean["docs_in"] == 120


def test_unrun_observation_raises_instead_of_blocking(spark):
    # a session of its own: once a session holds observations, Spark 4.1
    # cannot serialize it into a task closure any more
    spark = spark.newSession()
    ran, never = Observation(), Observation()
    spark.range(7).observe(ran, F.count(F.lit(1)).alias("n")).collect()
    spark.range(3).observe(never, F.count(F.lit(1)).alias("n"))
    assert _observed_counts(spark, [("kept", ran)]) == {"kept": 7}
    with pytest.raises(RuntimeError, match="'kept' was never observed"):
        _observed_counts(spark, [("kept", never)])
