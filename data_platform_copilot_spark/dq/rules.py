"""A7-A11 — the five data-quality rules (reference src/dq.py:94-149).

Reference quirks deliberately preserved (SURVEY.md §5):
- ``unique``: dupes = total_rows - countDistinct(col); distinct
  ignores NULLs while the total doesn't, so every NULL counts as a
  duplicate (reference src/dq.py:103-106).
- ``anomaly_zscore``: POPULATION std (ddof=0); zero variance or no
  data auto-passes (reference src/dq.py:139-141).
- ``range``: violation rate is over TOTAL rows, not non-null rows
  (reference src/dq.py:115).

Each rule's math lives in one ``Check``: named aggregate columns
plus a finisher (``anomaly_zscore`` adds a second pass whose
aggregates need the first pass's mean and std). The public
``check_*`` functions evaluate one Check on its own — a constant
number of Spark aggregates, no collects of data rows, so they run
unchanged on a full 100 TB table. ``runner.run_checks`` fuses every
rule's first-pass aggregates into the profile's scalar pass and every
second pass into one more (``finish_checks``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import settings

DEFAULT_MAX_AGE_HOURS = 24.0  # reference src/dq.py:167
DEFAULT_SIGMA = settings.data_quality.default_sigma  # reference src/config.py:197


@dataclass
class RuleResult:
    rule: str
    passed: bool
    details: dict[str, Any] = field(default_factory=dict)


# Aggregate name whose value is the exact count of distinct non-NULL
# values of ``Check.column``: a profile of the same rows answers it
# (``profile_df``'s ``distinct``), so a fused run need not aggregate it.
DISTINCT = "distinct"


@dataclass(frozen=True)
class Check:
    """One rule's math: first-pass aggregates by name, an optional
    second pass built from the first pass's values, and a finisher
    from all values to the result."""
    column: str | None
    aggs: dict[str, Column]
    finish: Callable[[dict[str, Any]], RuleResult]
    then: Callable[[dict[str, Any]], dict[str, Column]] | None = None


def _agg(df: DataFrame, cols: dict[str, Column]) -> dict[str, Any]:
    """One aggregate pass over ``df``; no job when ``cols`` is empty."""
    if not cols:
        return {}
    return df.agg(*[c.alias(k) for k, c in cols.items()]).collect()[0].asDict()


def finish_checks(df: DataFrame, checks: list[Check],
                  values: list[dict[str, Any]]) -> list[RuleResult]:
    """Finish ``checks`` given their first-pass ``values``: every
    second-pass aggregate of every check runs in ONE pass over ``df``."""
    seconds = [chk.then(v) if chk.then else {}
               for chk, v in zip(checks, values)]
    got = _agg(df, {f"__r{i}_{k}": c for i, sec in enumerate(seconds)
                    for k, c in sec.items()})
    return [chk.finish(v | {k: got[f"__r{i}_{k}"] for k in sec})
            for i, (chk, v, sec) in enumerate(zip(checks, values, seconds))]


def _evaluate(df: DataFrame, check: Check) -> RuleResult:
    """Run one check on its own over ``df``."""
    return finish_checks(df, [check], [_agg(df, check.aggs)])[0]


def _rate_pct(part: int, total: int) -> float:
    return round(100.0 * part / total, 4) if total else 0.0


def not_null(column: str) -> Check:
    """A7: pass iff zero NULLs (reference src/dq.py:94-98)."""
    def finish(v: dict[str, Any]) -> RuleResult:
        total, nulls = v["total"], int(v["nulls"] or 0)
        return RuleResult(
            rule=f"not_null({column})", passed=nulls == 0,
            details={"nulls": nulls, "total": total,
                     "null_rate_pct": _rate_pct(nulls, total)})
    return Check(column, {
        "total": F.count(F.lit(1)),
        "nulls": F.sum(F.col(column).isNull().cast("long")),
    }, finish)


def unique(column: str) -> Check:
    """A8: dupes = total - distinct(non-null); NULLs count as dupes."""
    def finish(v: dict[str, Any]) -> RuleResult:
        total, distinct = v["total"], int(v[DISTINCT] or 0)
        dupes = total - distinct
        return RuleResult(
            rule=f"unique({column})", passed=dupes == 0,
            details={"duplicates": dupes, "total": total,
                     "distinct": distinct})
    return Check(column, {
        "total": F.count(F.lit(1)),
        DISTINCT: F.countDistinct(F.col(column)),
    }, finish)


def in_range(column: str, min_value: float | None = None,
             max_value: float | None = None) -> Check:
    """A9: count non-null values outside [min, max]; rate over total."""
    c = F.col(column)
    viol = F.lit(False)
    if min_value is not None:
        viol = viol | (c < F.lit(min_value))
    if max_value is not None:
        viol = viol | (c > F.lit(max_value))

    def finish(v: dict[str, Any]) -> RuleResult:
        total, violations = v["total"], int(v["violations"] or 0)
        return RuleResult(
            rule=f"range({column})", passed=violations == 0,
            details={"violations": violations, "total": total,
                     "min": min_value, "max": max_value,
                     "violation_rate_pct": _rate_pct(violations, total)})
    return Check(column, {
        "total": F.count(F.lit(1)),
        "violations": F.sum((c.isNotNull() & viol).cast("long")),
    }, finish)


def freshness(column: str, max_age_hours: float = DEFAULT_MAX_AGE_HOURS,
              now: datetime | None = None) -> Check:
    """A10: max(to_timestamp(col)) age vs now; fail when nothing parses.

    ``now`` is injectable for deterministic tests/oracles; defaults to
    wall-clock UTC like the reference (pd.Timestamp.utcnow)."""
    def finish(v: dict[str, Any]) -> RuleResult:
        max_ts = v["max_ts"]
        if max_ts is None:
            return RuleResult(rule=f"freshness({column})", passed=False,
                              details={"error": "no parseable timestamps"})
        at = now or datetime.now(timezone.utc)
        if max_ts.tzinfo is None:
            max_ts = max_ts.replace(tzinfo=timezone.utc)
        age_hours = (at - max_ts).total_seconds() / 3600.0
        return RuleResult(
            rule=f"freshness({column})", passed=age_hours <= max_age_hours,
            details={"max_ts": max_ts.isoformat(),
                     "age_hours": round(age_hours, 4),
                     "max_age_hours": max_age_hours})
    # try_to_timestamp = pandas to_datetime(errors="coerce") parity:
    # malformed strings become NULL instead of raising (ANSI mode).
    return Check(column, {"max_ts": F.max(F.try_to_timestamp(F.col(column)))},
                 finish)


def anomaly_zscore(column: str, sigma: float = DEFAULT_SIGMA) -> Check:
    """A11: |x - mean| / std_pop > sigma outlier count; the stats pass,
    then a filtered count — the distributed equivalent of the
    reference's in-memory two-step."""
    c = F.col(column)

    def degenerate(v: dict[str, Any]) -> bool:
        # no data / no variance -> auto-pass (reference src/dq.py:139-141)
        return not v["n"] or v["sd"] is None or v["sd"] == 0.0

    def then(v: dict[str, Any]) -> dict[str, Column]:
        if degenerate(v):
            return {}
        z = F.abs((c - F.lit(v["mu"])) / F.lit(v["sd"]))
        return {"outliers": F.count_if(z > sigma)}

    def finish(v: dict[str, Any]) -> RuleResult:
        mu, sd, n = v["mu"], v["sd"], v["n"]
        if degenerate(v):
            return RuleResult(rule=f"anomaly_zscore({column})", passed=True,
                              details={"outliers": 0, "n": n or 0,
                                       "mean": mu, "std": sd, "sigma": sigma})
        outliers = v["outliers"]
        return RuleResult(
            rule=f"anomaly_zscore({column})", passed=outliers == 0,
            details={"outliers": outliers, "n": n, "mean": mu, "std": sd,
                     "sigma": sigma})
    return Check(column, {"mu": F.mean(c), "sd": F.stddev_pop(c),
                          "n": F.count(c)}, finish, then)


def check_not_null(df: DataFrame, column: str) -> RuleResult:
    return _evaluate(df, not_null(column))


def check_unique(df: DataFrame, column: str) -> RuleResult:
    return _evaluate(df, unique(column))


def check_range(df: DataFrame, column: str,
                min_value: float | None = None,
                max_value: float | None = None) -> RuleResult:
    return _evaluate(df, in_range(column, min_value, max_value))


def check_freshness(df: DataFrame, column: str,
                    max_age_hours: float = DEFAULT_MAX_AGE_HOURS,
                    now: datetime | None = None) -> RuleResult:
    return _evaluate(df, freshness(column, max_age_hours, now))


def check_anomaly_zscore(df: DataFrame, column: str,
                         sigma: float = DEFAULT_SIGMA) -> RuleResult:
    return _evaluate(df, anomaly_zscore(column, sigma))
