"""Query-registry and oracle-harness contracts: registered queries
compute from the parquet on every call, and the local oracle check
refuses query names it does not know."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

SF = "/root/testdata/sf0.01"
REPO = Path(__file__).resolve().parents[1]


def test_profile_queries_recompute_on_every_call(spark):
    """No memoized profile: each ``rule_engine_verdicts`` call starts
    its own Spark jobs, so a warm run times the profile, not a dict
    lookup."""
    from datacanary_spark.entry_queries_quality import rule_engine_verdicts

    sc = spark.sparkContext
    for i in range(2):
        group = f"profile-recompute-{i}"
        sc.setJobGroup(group, "profile recompute check")
        try:
            rule_engine_verdicts(spark, SF)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group), f"call {i}"


def test_check_oracle_rejects_unknown_query_name():
    """A typo in a query name exits non-zero before any Spark session
    starts, instead of comparing nothing and printing "all exact"."""
    r = subprocess.run(
        [sys.executable, "scripts/check_oracle.py", SF, "no_such_query"],
        cwd=REPO, capture_output=True, text=True, timeout=300)
    assert r.returncode == 2, (r.returncode, r.stdout, r.stderr)
    assert "no_such_query" in r.stderr
    assert "all exact" not in r.stdout
