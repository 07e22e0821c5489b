"""Gateway semantics (SURVEY.md §2 A1-A4), incl. the negative corpus
from reference src/sql_runner.py:8-11,43-48 and query.http:57-63."""

from __future__ import annotations

import pytest

from data_platform_copilot_spark.gateway import (
    IncorrectQuestionError,
    extract_sql_from_markdown,
    is_safe,
    sql_run,
    validate_sql,
)


class TestExtract:
    def test_fenced_block(self):
        md = "Here you go:\n```sql\nSELECT 1 AS x\n```\nDone."
        assert extract_sql_from_markdown(md) == "SELECT 1 AS x"

    def test_fence_case_insensitive(self):
        assert extract_sql_from_markdown("```SQL\nSELECT 2\n```") == "SELECT 2"

    def test_passthrough_stripped(self):
        assert extract_sql_from_markdown("  SELECT 3  ") == "SELECT 3"

    def test_empty(self):
        assert extract_sql_from_markdown("") == ""


class TestValidate:
    def test_select_ok(self):
        assert validate_sql("SELECT 1") == "SELECT 1"

    def test_trailing_semicolon_stripped(self):
        assert validate_sql("SELECT 1;") == "SELECT 1"

    @pytest.mark.parametrize("bad", [
        "", "   ",
        "INSERT INTO t VALUES (1)",
        "UPDATE t SET x=1",
        "DELETE FROM t",
        "CREATE TABLE t (x INT)",
        "DROP TABLE t",
        "ALTER TABLE t ADD COLUMN y INT",
        "ATTACH 'f.db'",
        "COPY t TO 'f.csv'",
        "PRAGMA table_info('t')",
        "EXPORT DATABASE 'd'",
        "IMPORT DATABASE 'd'",
        "WITH x AS (SELECT 1) DELETE FROM t",  # non-SELECT prefix
        "SELECT * FROM t; DROP TABLE t",       # forbidden keyword present
    ])
    def test_rejected(self, bad):
        with pytest.raises(IncorrectQuestionError):
            validate_sql(bad)


class TestIsSafe:
    def test_ok(self):
        ok, reason = is_safe("SELECT 1")
        assert ok and reason == "ok"

    def test_backticks_stripped(self):
        assert is_safe("`SELECT 1`")[0]

    @pytest.mark.parametrize("bad,frag", [
        ("", "empty"),
        ("SELECT 1; SELECT 2", "multiple statements"),
        ("SELECT /* sneaky */ 1", "block comments"),
        ("DROP TABLE x", "only SELECT"),
        ("SELECT * FROM t WHERE 1=1; DELETE FROM t", "multiple statements"),
    ])
    def test_rejected(self, bad, frag):
        ok, reason = is_safe(bad)
        assert not ok and frag in reason

    def test_injection_from_reference_corpus(self):
        # reference query.http:57-63 adversarial case
        ok, _ = is_safe(
            "SELECT * FROM customers; DROP TABLE customers; --")
        assert not ok


class TestSqlRun:
    def test_roundtrip(self, spark, sf_dir):
        from data_platform_copilot_spark.sources import register_testdata
        register_testdata(spark, sf_dir, ("region",))
        res = sql_run(spark, "SELECT r_name FROM region")
        assert len(res.preview) == 5
        assert "r_name" in res.preview[0]
        assert "LocalLimit" in res.plan or "CollectLimit" in res.plan

    def test_row_cap(self, spark, sf_dir):
        from data_platform_copilot_spark.sources import register_testdata
        register_testdata(spark, sf_dir, ("customer",))
        res = sql_run(spark, "SELECT c_custkey FROM customer", row_limit=7)
        assert res.df.count() == 7

    def test_rejects_ddl(self, spark):
        with pytest.raises(IncorrectQuestionError):
            sql_run(spark, "DROP TABLE region")


def _collect_limit(plan: str) -> int:
    """The CollectLimit argument of an EXPLAIN FORMATTED plan."""
    import re
    m = re.search(r"\) CollectLimit\n(?:.*\n)*?Arguments: (\d+)", plan)
    assert m, plan
    return int(m.group(1))


class TestSqlRunPlansOnce:
    def test_plan_is_the_preview_frames(self, spark, sf_dir):
        from data_platform_copilot_spark.sources import register_testdata
        register_testdata(spark, sf_dir, ("customer",))
        res = sql_run(spark, "SELECT c_custkey FROM customer",
                      row_limit=7, preview_rows=5)
        assert _collect_limit(res.plan) == 5
        assert len(res.preview) == 5
        assert res.df.count() == 7  # the returned frame keeps row_limit
        res = sql_run(spark, "SELECT c_custkey FROM customer", row_limit=3)
        assert _collect_limit(res.plan) == 3 and len(res.preview) == 3

    def test_explained_frame_is_the_executed_frame(self, spark, sf_dir,
                                                   monkeypatch):
        """One DataFrame is explained and collected, so its
        QueryExecution optimizes and plans the statement once."""
        from pyspark.sql.classic.dataframe import DataFrame

        from data_platform_copilot_spark.gateway import sql_runner
        from data_platform_copilot_spark.sources import register_testdata
        register_testdata(spark, sf_dir, ("region",))
        explained, executed = [], []
        orig_explain, orig_to_pandas = (sql_runner._explain_formatted,
                                        DataFrame.toPandas)

        def explain(df):
            explained.append(df)
            return orig_explain(df)

        def to_pandas(self):
            executed.append(self)
            return orig_to_pandas(self)

        monkeypatch.setattr(sql_runner, "_explain_formatted", explain)
        monkeypatch.setattr(DataFrame, "toPandas", to_pandas)
        sql_run(spark, "SELECT r_name FROM region")
        assert len(explained) == len(executed) == 1
        assert explained[0] is executed[0]
