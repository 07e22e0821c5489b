"""SQL safety gateway + gated executor on Spark.

Re-implements the reference's validation gateway semantics
(reference src/sql_runner.py:1-63) over Spark SQL:

- A1 ``extract_sql_from_markdown`` — pull a fenced ```sql block out
  of LLM output (reference src/sql_runner.py:18-20).
- A2 ``validate_sql`` — SELECT-only prefix gate + forbidden-keyword
  gate + row-cap (reference src/sql_runner.py:23-31). The reference
  appends ``LIMIT {row_limit}`` textually; we enforce the cap
  idiomatically with ``df.limit(n)`` which Catalyst pushes into the
  plan (CollectLimit / TakeOrderedAndProject) — safer than string
  surgery and equivalent for result semantics.
- A3 ``is_safe`` — non-throwing classifier: empty / forbidden
  keywords / non-SELECT / multi-statement / block comments
  (reference src/sql_runner.py:34-51).
- A4 ``sql_run`` — validate -> cap at ``row_limit`` -> EXPLAIN
  FORMATTED the 20-row preview frame -> execute that same frame
  (reference src/sql_runner.py:54-63), so Catalyst optimizes and
  plans each statement once; the returned ``plan`` is the preview's
  (``CollectLimit min(row_limit, preview_rows)``).

The reference declares ``query_timeout_ms`` but never enforces it
(reference src/config.py:92, no consumer). We enforce it for real
via a job-group cancellation watchdog — a deliberate improvement
noted in SURVEY.md §4.

Scale notes: the gateway adds zero per-row work; the row cap means
every interactive query ships at most ``row_limit`` rows to the
driver regardless of input size, and EXPLAIN is metadata-only.
"""

from __future__ import annotations

import re
import threading
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# Matches reference src/sql_runner.py:7-11.
SELECT_RE = re.compile(r"^\s*select\b", re.IGNORECASE)
FORBIDDEN = re.compile(
    r"\b(insert|update|delete|create|drop|alter|attach|copy|pragma|export|import)\b",
    re.IGNORECASE,
)
SQL_FENCE_RE = re.compile(r"```sql\s*(.*?)```", re.DOTALL | re.IGNORECASE)

from ..config import settings

DEFAULT_ROW_LIMIT = settings.sql.row_limit    # reference src/config.py:91
DEFAULT_PREVIEW_ROWS = 20                     # reference src/sql_runner.py:62
# reference src/config.py:92 (dead there; live here)
DEFAULT_TIMEOUT_MS = settings.sql.query_timeout_ms


class IncorrectQuestionError(ValueError):
    """Raised when SQL fails the safety gate (reference src/exceptions.py)."""


def extract_sql_from_markdown(text: str) -> str:
    """A1: return the first ```sql fenced block, else the stripped text."""
    m = SQL_FENCE_RE.search(text or "")
    return m.group(1).strip() if m else (text or "").strip()


def validate_sql(sql: str) -> str:
    """A2: raise unless ``sql`` is a single bare SELECT; return it stripped.

    The row cap is applied by the executor (``sql_run``) via
    ``df.limit`` instead of textual LIMIT-append.
    """
    sql = (sql or "").strip().rstrip(";").strip()
    if not sql:
        raise IncorrectQuestionError("Empty SQL")
    # aligned with is_safe (ADVICE r11): a block comment containing an
    # unpaired quote would desynchronize the AS OF rewriter's
    # quote/comment span tracking downstream
    if "/*" in sql or "*/" in sql:
        raise IncorrectQuestionError("Block comments are not allowed")
    if not SELECT_RE.match(sql):
        raise IncorrectQuestionError("Only SELECT statements are allowed")
    if FORBIDDEN.search(sql):
        raise IncorrectQuestionError("Forbidden keyword in SQL")
    return sql


def is_safe(sql: str) -> tuple[bool, str]:
    """A3: non-throwing safety classifier (reference src/sql_runner.py:34-51)."""
    s = (sql or "").strip().strip("`").strip()
    if not s:
        return False, "empty SQL"
    if "/*" in s or "*/" in s:
        return False, "block comments are not allowed"
    body = s.rstrip(";").strip()
    if ";" in body:
        return False, "multiple statements are not allowed"
    if not SELECT_RE.match(body):
        return False, "only SELECT is allowed"
    if FORBIDDEN.search(body):
        return False, "forbidden keyword"
    return True, "ok"


@dataclass
class SqlRunResult:
    sql: str
    plan: str
    df: DataFrame          # capped lazy result (for callers needing more rows)
    preview: list[dict]    # first <=20 rows as records (reference parity)


def _explain_formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted")


def sql_run(spark: SparkSession, outer_sql: str,
            row_limit: int = DEFAULT_ROW_LIMIT,
            preview_rows: int = DEFAULT_PREVIEW_ROWS,
            timeout_ms: int | None = DEFAULT_TIMEOUT_MS) -> SqlRunResult:
    """A4: gated executor — validate, plan, execute, preview.

    Timeout is enforced by cancelling the query's job group from a
    watchdog thread; Spark interrupts the running tasks.
    """
    sql = validate_sql(outer_sql)
    # time travel: resolve FOR VERSION/TIMESTAMP AS OF suffixes on
    # registered versioned tables into pinned snapshot views
    from .time_travel import rewrite_as_of
    sql = rewrite_as_of(spark, sql)
    df = spark.sql(sql).limit(row_limit)
    # EXPLAIN the frame that runs: its QueryExecution keeps the
    # optimized and physical plans, so toPandas plans nothing again
    preview_df = df.limit(preview_rows)
    plan = _explain_formatted(preview_df)

    group = f"gateway-{uuid.uuid4().hex[:12]}"
    sc = spark.sparkContext
    sc.setJobGroup(group, f"gateway: {sql[:120]}", interruptOnCancel=True)
    done = threading.Event()

    def _watchdog() -> None:
        if timeout_ms and not done.wait(timeout_ms / 1000.0):
            sc.cancelJobGroup(group)

    watchdog = threading.Thread(target=_watchdog, daemon=True)
    watchdog.start()
    try:
        preview_pdf = preview_df.toPandas()
    except Exception as exc:  # cancelled or failed
        raise IncorrectQuestionError(f"query failed: {exc}") from exc
    finally:
        done.set()
        sc.setJobGroup("", "")
    return SqlRunResult(sql=sql, plan=plan, df=df,
                        preview=preview_pdf.to_dict(orient="records"))
