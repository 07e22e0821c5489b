"""A12 — DQ orchestrator (reference src/dq.py:153-172).

sample -> profile -> dispatch rules by type; unknown rule type yields
a failed result (reference src/dq.py:171). Returns the profile, the
rule results, and a <=50-row sample preview (reference src/dq.py:172).

Like the reference, every check runs on the <=200k-row sample
(SURVEY.md §3.3), and every part of the answer describes the SAME
rows: the sample is materialized once (``sources.registry
.materialized``), so an unordered ``where ... limit(n)`` over
multi-file input cannot hand the profile, the rules and the preview
different rows. Over it, one scalar pass computes the profile and
every rule's aggregates (``unique`` takes its distinct count from the
profile's histogram job), one more pass counts every
``anomaly_zscore`` rule's outliers, and the preview reads the
materialized rows: at most three Spark jobs, plus one when any
``anomaly_zscore`` rule is present, whatever the rule count (a
non-atomic column type adds its own histogram job). The
public ``check_*`` functions run the same rule math over any frame,
a full table included.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime
from typing import Any

from pyspark.sql import SparkSession

from ..sources.registry import materialized
from . import rules as R
from .profiler import profile_df
from .sampler import fetch_table_sample

PREVIEW_ROWS = 50  # reference src/dq.py:172


@dataclass
class DQRule:
    """Mirrors the reference's pydantic DQRule (src/route/chat.py:300-306)."""
    type: str
    column: str | None = None
    min: float | None = None
    max: float | None = None
    max_age_hours: float = R.DEFAULT_MAX_AGE_HOURS
    sigma: float = R.DEFAULT_SIGMA


def _check(rule: DQRule, now: datetime | None) -> R.Check:
    if rule.type == "not_null":
        return R.not_null(rule.column)
    if rule.type == "unique":
        return R.unique(rule.column)
    if rule.type == "range":
        return R.in_range(rule.column, rule.min, rule.max)
    if rule.type == "freshness":
        return R.freshness(rule.column, rule.max_age_hours, now=now)
    if rule.type == "anomaly_zscore":
        return R.anomaly_zscore(rule.column, rule.sigma)
    # unknown rule type -> failed result (reference src/dq.py:171)
    return R.Check(rule.column, {}, lambda _v: R.RuleResult(
        rule=f"{rule.type}({rule.column})", passed=False,
        details={"error": f"unknown rule type: {rule.type}"}))


def run_checks(spark: SparkSession, table: str,
               rules: list[DQRule],
               where: str | None = None,
               sample_limit: int | None = None,
               now: datetime | None = None) -> dict[str, Any]:
    """Run profile + rules; returns dict(profile, results, sample_rows)."""
    checks = [_check(rule, now) for rule in rules]
    with materialized(fetch_table_sample(spark, table, where,
                                         sample_limit)) as sample:
        def profiled(chk: R.Check, k: str) -> bool:
            # the profile counts a top-level column's distinct values;
            # any other reference keeps the check's own aggregate
            return k == R.DISTINCT and chk.column in sample.columns

        fused = {f"__r{i}_{k}": c for i, chk in enumerate(checks)
                 for k, c in chk.aggs.items() if not profiled(chk, k)}
        profile = profile_df(sample, extra=fused)
        values = [{k: profile[chk.column][k] if profiled(chk, k)
                   else fused[f"__r{i}_{k}"] for k in chk.aggs}
                  for i, chk in enumerate(checks)]
        results = R.finish_checks(sample, checks, values)
        sample_rows = (sample.limit(PREVIEW_ROWS).toPandas()
                       .to_dict(orient="records"))
    return {"profile": profile, "results": results, "sample_rows": sample_rows}
