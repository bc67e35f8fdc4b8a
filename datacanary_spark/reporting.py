"""Text report rendering — port of the reference's ``ReportGenerator``
(/root/reference/src/datacanary/reporting/report_generator.py:51-182)
with two deliberate fixes:

* summary/health/insights are PASSED IN (computed once by the caller) —
  the reference recomputes all three inside the report (:68-73);
* no hidden side effect of writing into a ``reports/`` dir next to the
  installed module (:21-28, :164-180) — callers decide where output goes.

Section layout, per-column formatting, ✓/✗ markers, pass-rate summary
and the PASSED-iff-100% verdict match the reference line formats.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any

from datacanary_spark.analysis.insights import get_data_insights
from datacanary_spark.analysis.summary import calculate_summary, get_health_score


def generate_text_report(dataset_name: str,
                         profile: dict[str, dict[str, Any]],
                         rule_results: dict[str, list[dict[str, Any]]],
                         summary: dict | None = None,
                         health: dict | None = None,
                         insights: dict | None = None,
                         now: str | None = None) -> str:
    summary = summary if summary is not None else calculate_summary(profile)
    health = health if health is not None else get_health_score(rule_results, profile)
    insights = insights if insights is not None else get_data_insights(profile)
    now = now or datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")

    lines = [
        "= DataCanary Quality Report =",
        f"Dataset: {dataset_name}",
        f"Generated: {now}",
        f"Total columns: {len(profile)}",
        f"Health Score: {health['health_score']} ({health['health_status']})",
        "",
        "== Dataset Summary ==",
    ]
    ds = summary.get("dataset_statistics", {})
    lines.append(f"Total columns: {ds.get('total_columns', 0)}")
    types_str = ", ".join(f"{t}: {c}" for t, c in ds.get("column_types", {}).items())
    lines.append(f"Column types: {types_str}")
    lines.append(f"Columns with nulls: {ds.get('columns_with_nulls', 0)} "
                 f"({ds.get('columns_with_nulls_percentage', 0)}%)")
    lines.append(f"Average null percentage: {ds.get('avg_null_percentage', 0)}%")
    lines.append(f"Average unique percentage: {ds.get('avg_unique_percentage', 0)}%")
    lines.append("")

    if insights.get("summary"):
        lines.append("== Data Insights ==")
        lines.extend(f"- {s}" for s in insights["summary"])
        lines.append("")
    if insights.get("recommendations"):
        lines.append("== Recommendations ==")
        lines.extend(f"- {r}" for r in insights["recommendations"])
        lines.append("")

    total_rules = 0
    passed_rules = 0
    for column, rules in rule_results.items():
        stats = profile.get(column, {}).get("stats", {})
        ctype = profile.get(column, {}).get("type", "unknown")
        n_passed = sum(1 for r in rules if r["result"].get("passed", False))
        total_rules += len(rules)
        passed_rules += n_passed
        status = "✓" if n_passed == len(rules) else "✗"
        lines.append(f"== Column: {column} [{status}] ==")
        lines.append(f"Type: {ctype}")
        lines.append(f"Rules: {n_passed}/{len(rules)} passed")
        lines.append("Statistics:")
        lines.extend(f"  {k}: {v}" for k, v in stats.items())
        lines.append("Rule Results:")
        for r in rules:
            ok = "✓" if r["result"].get("passed", False) else "✗"
            msg = r["result"].get("message", "No details")
            lines.append(f"  [{ok}] {r['rule_name']}: {msg}")
        lines.append("")

    pass_rate = (passed_rules / total_rules * 100) if total_rules else 0
    lines.append("== Summary ==")
    lines.append(f"Total rules evaluated: {total_rules}")
    lines.append(f"Rules passed: {passed_rules} ({pass_rate:.1f}%)")
    lines.append(f"Overall status: {'PASSED' if pass_rate == 100 else 'FAILED'}")
    return "\n".join(lines)
