"""DQ subsystem semantics, incl. the reference quirks pinned in
SURVEY.md §5 (NULL-counts-as-dupe, ddof=0, unknown-rule-fails)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from data_platform_copilot_spark.dq import (
    DQRule,
    check_anomaly_zscore,
    check_freshness,
    check_not_null,
    check_range,
    check_unique,
    fetch_table_sample,
    profile_df,
    render_markdown_report,
    run_checks,
)
from data_platform_copilot_spark.dq.sampler import clamp_limit


@pytest.fixture(scope="module")
def dirty(spark):
    """Small frame with deliberate defects (FIXTURES.md)."""
    rows = [
        (1, 10.0, "2024-01-01 00:00:00"),
        (2, 12.0, "2024-01-02 00:00:00"),
        (2, 11.0, "2024-01-03 00:00:00"),      # dup id
        (None, -5.0, "2024-01-04 00:00:00"),   # null id, range violation
        (None, 1000.0, None),                  # null id, huge outlier
        (3, 10.5, "2024-01-05 00:00:00"),
    ]
    return spark.createDataFrame(rows, "id long, v double, ts string")


class TestRules:
    def test_not_null(self, dirty):
        r = check_not_null(dirty, "id")
        assert not r.passed
        assert r.details["nulls"] == 2
        assert r.details["null_rate_pct"] == pytest.approx(33.3333, abs=1e-3)

    def test_unique_null_quirk(self, dirty):
        # distinct non-null ids = {1,2,3} = 3; total 6 -> dupes 3
        # (one true dup + two NULLs) — reference src/dq.py:103-106
        r = check_unique(dirty, "id")
        assert not r.passed
        assert r.details["duplicates"] == 3

    def test_unique_passes_on_clean(self, spark):
        df = spark.createDataFrame([(1,), (2,), (3,)], "id long")
        assert check_unique(df, "id").passed

    def test_range_rate_over_total(self, dirty):
        r = check_range(dirty, "v", min_value=0.0, max_value=100.0)
        assert not r.passed
        assert r.details["violations"] == 2  # -5 and 1000
        assert r.details["violation_rate_pct"] == pytest.approx(33.3333,
                                                                abs=1e-3)

    def test_range_open_ended(self, dirty):
        assert check_range(dirty, "v", min_value=-10.0).details[
            "violations"] == 0

    def test_anomaly_zscore_population_std(self, dirty):
        r = check_anomaly_zscore(dirty, "v", sigma=2.0)
        assert not r.passed
        assert r.details["outliers"] == 1  # the 1000.0

    def test_anomaly_autopass_no_variance(self, spark):
        df = spark.createDataFrame([(5.0,)] * 4, "v double")
        assert check_anomaly_zscore(df, "v").passed

    def test_freshness(self, dirty):
        now = datetime(2024, 1, 5, 12, 0, tzinfo=timezone.utc)
        ok = check_freshness(dirty, "ts", max_age_hours=24, now=now)
        assert ok.passed and ok.details["age_hours"] == pytest.approx(12.0)
        stale = check_freshness(dirty, "ts", max_age_hours=6, now=now)
        assert not stale.passed

    def test_freshness_unparseable(self, spark):
        df = spark.createDataFrame([("nope",), ("nah",)], "ts string")
        r = check_freshness(df, "ts")
        assert not r.passed and "no parseable" in r.details["error"]


class TestProfiler:
    def test_profile_shapes(self, dirty):
        prof = profile_df(dirty)
        assert prof["id"]["nulls"] == 2
        assert prof["id"]["distinct"] == 3
        assert prof["v"]["min"] == -5.0 and prof["v"]["max"] == 1000.0
        assert prof["v"]["std"] > 0
        assert prof["ts"]["len_min"] == 19
        assert len(prof["id"]["top_values"]) <= 5
        top_id = prof["id"]["top_values"][0]
        assert top_id["value"] == 2 and top_id["count"] == 2

    def test_profile_approx_mode(self, dirty):
        prof = profile_df(dirty, exact=False)
        # distinct counts come from the histogram groups: exact in both modes
        assert prof["id"]["distinct"] == 3

    @pytest.mark.parametrize("exact", [True, False])
    def test_distinct_from_groups_equals_count_distinct(self, spark, exact):
        """The string transport must group exactly as countDistinct:
        -0.0 and 0.0 are one value, NaNs are one value, NULL is none."""
        from decimal import Decimal

        from pyspark.sql import functions as F
        nan = float("nan")
        rows = [(0.0, datetime(2024, 1, 1), "a", Decimal("1.50")),
                (-0.0, datetime(2024, 1, 1), "a", Decimal("1.5")),
                (nan, datetime(2024, 1, 2), "b", Decimal("2.25")),
                (nan, None, "", None),
                (None, datetime(2024, 1, 2, 0, 0, 0, 1), None, Decimal("0"))]
        df = spark.createDataFrame(
            rows, "d double, t timestamp, s string, m decimal(10,2)")
        prof = profile_df(df, exact=exact)
        want = df.agg(*[F.countDistinct(c).alias(c)
                        for c in df.columns]).first().asDict()
        assert {c: prof[c]["distinct"] for c in df.columns} == want
        assert want == {"d": 2, "t": 3, "s": 3, "m": 3}

    def test_profile_job_count_independent_of_columns(self, spark):
        """Histogram batching: every atomic column shares ONE
        string-cast stacked histogram job regardless of how many types
        the schema mixes — 2 actions total (stats + histograms) for 12
        columns across 2 types; the per-column loop would launch 13+
        and the r2 per-type batching 3."""
        # patch the CLASSIC class: pyspark.sql.DataFrame is the
        # abstract base and classic sessions override collect()
        from pyspark.sql.classic.dataframe import DataFrame
        row = {f"n{i}": i for i in range(6)} | {f"s{i}": str(i)
                                                for i in range(6)}
        wide = spark.createDataFrame([row, row])
        actions = 0
        orig = DataFrame.collect

        def counting(self):
            nonlocal actions
            actions += 1
            return orig(self)

        DataFrame.collect = counting
        try:
            prof = profile_df(wide)
        finally:
            DataFrame.collect = orig
        assert len(prof) == 12
        assert all(prof[c]["top_values"] for c in prof)
        # values come back natively typed despite the string transport
        assert prof["n0"]["top_values"][0]["value"] == 0
        assert prof["s3"]["top_values"][0]["value"] == "3"
        # 1 stats pass + 1 unified atomic histogram pass
        assert actions == 2, f"expected 2 actions, saw {actions}"


class TestRunner:
    def test_run_checks_and_report(self, spark, sf_dir):
        from data_platform_copilot_spark.sources import register_testdata
        register_testdata(spark, sf_dir, ("events",))
        rules = [
            DQRule(type="not_null", column="user_id"),
            DQRule(type="unique", column="event_id"),
            DQRule(type="range", column="value", min=0, max=1e6),
            DQRule(type="anomaly_zscore", column="value", sigma=6.0),
            DQRule(type="bogus_rule", column="value"),
        ]
        out = run_checks(spark, "events", rules, sample_limit=500)
        assert len(out["results"]) == 5
        by_rule = {r.rule: r for r in out["results"]}
        assert by_rule["not_null(user_id)"].passed
        assert not by_rule["bogus_rule(value)"].passed  # unknown -> fail
        assert len(out["sample_rows"]) == 50
        md = render_markdown_report("events", out["profile"], out["results"])
        assert "4/5 rules passed" in md
        assert "❌ `bogus_rule(value)`" in md

    def test_sampler_clamps(self):
        assert clamp_limit(None) == 10_000
        assert clamp_limit(0) == 1
        assert clamp_limit(10**9) == 200_000

    def test_sampler_where_and_identifier_gate(self, spark, sf_dir):
        from data_platform_copilot_spark.sources import register_testdata
        register_testdata(spark, sf_dir, ("events",))
        df = fetch_table_sample(spark, "events",
                                where="event_type = 'click'", limit=10)
        got = df.collect()
        assert 0 < len(got) <= 10
        assert all(r["event_type"] == "click" for r in got)
        with pytest.raises(ValueError):
            fetch_table_sample(spark, "events; DROP TABLE x")


class TestObservedProfile:
    def test_metrics_ride_a_write_and_match_direct_agg(self, spark,
                                                       sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from data_platform_copilot_spark.dq.observe import (
            check_observed,
            observed_profile,
        )
        from data_platform_copilot_spark.sources.registry import load_table
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value")
        obs_df, obs = observed_profile(ev)
        # the metrics ride the job the pipeline already runs — here a
        # parquet write; no second scan happens for DQ
        obs_df.write.mode("overwrite").parquet(str(tmp_path / "out"))
        got = obs.get
        direct = ev.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("user_id").isNull().cast("long")).alias("nu"),
            F.min("value").alias("mn"), F.max("value").alias("mx"),
            F.sum("value").alias("sm")).first()
        assert got["n_rows"] == direct.n
        assert got["nulls_user_id"] == direct.nu
        assert got["min_value"] == direct.mn
        assert got["max_value"] == direct.mx
        assert abs(got["sum_value"] - direct.sm) < 1e-6 * abs(direct.sm)

    def test_threshold_rules_over_observed_metrics(self):
        from data_platform_copilot_spark.dq.observe import check_observed
        metrics = {"n_rows": 100, "nulls_user_id": 3}
        report = check_observed(metrics, {
            "n_rows": (">=", 1),
            "nulls_user_id": ("==", 0),
            "missing_metric": ("<=", 5),
        })
        by = {r["metric"]: r for r in report}
        assert by["n_rows"]["passed"] is True
        assert by["nulls_user_id"]["passed"] is False
        assert by["missing_metric"]["passed"] is False


class TestFusedRun:
    """``run_checks`` materializes its sample once and answers the
    profile, every rule and the preview from those rows."""

    @pytest.fixture(scope="class")
    def multi_file(self, spark, tmp_path_factory):
        """A 12-file table whose rows vary in nulls, duplicates and
        outliers, so two different 40-row samples would disagree."""
        rows = [(i, None if i % 5 == 0 else i % 9,
                 1e6 if i % 97 == 0 else float(i % 13), f"k{i % 11}")
                for i in range(1200)]
        path = str(tmp_path_factory.mktemp("dq_multi") / "t")
        (spark.createDataFrame(rows, "id long, g long, v double, s string")
         .repartition(12).write.parquet(path))
        from data_platform_copilot_spark.sources.registry import read_parquet
        read_parquet(spark, path).createOrReplaceTempView("dq_multi")
        return "dq_multi"

    def test_profile_rules_and_rows_describe_one_sample(self, spark,
                                                        multi_file):
        import pandas as pd
        rules = [DQRule(type="not_null", column="g"),
                 DQRule(type="unique", column="g"),
                 DQRule(type="unique", column="s"),
                 DQRule(type="range", column="v", min=0, max=10),
                 DQRule(type="anomaly_zscore", column="v", sigma=1.0)]
        out = run_checks(spark, multi_file, rules, where="id % 2 = 0",
                         sample_limit=40)
        prof, res = out["profile"], {r.rule: r.details
                                     for r in out["results"]}
        # the limit is below the preview size: sample_rows IS the sample
        pdf = pd.DataFrame(out["sample_rows"])
        assert len(pdf) == 40 and (pdf["id"] % 2 == 0).all()
        for name in ("not_null(g)", "unique(g)", "unique(s)", "range(v)"):
            assert res[name]["total"] == prof["g"]["count"] == 40
        assert res["not_null(g)"]["nulls"] == pdf["g"].isna().sum()
        assert prof["g"]["nulls"] == pdf["g"].isna().sum()
        assert res["unique(g)"]["distinct"] == pdf["g"].nunique()
        assert prof["g"]["distinct"] == pdf["g"].nunique()
        assert res["unique(s)"]["distinct"] == pdf["s"].nunique()
        assert res["range(v)"]["violations"] == (
            (pdf["v"] < 0) | (pdf["v"] > 10)).sum()
        v = pdf["v"]
        z = ((v - v.mean()) / v.std(ddof=0)).abs()
        assert res["anomaly_zscore(v)"]["outliers"] == (z > 1.0).sum()
        assert res["anomaly_zscore(v)"]["n"] == v.notna().sum()

    @pytest.mark.parametrize("rules,budget", [
        ([DQRule(type="not_null", column="o_custkey")], 3),
        ([DQRule(type="not_null", column="o_custkey"),
          DQRule(type="unique", column="o_orderkey"),
          DQRule(type="unique", column="o_orderstatus"),
          DQRule(type="range", column="o_totalprice", min=0, max=1e5),
          DQRule(type="freshness", column="o_orderdate"),
          DQRule(type="bogus", column="o_custkey")], 3),
        ([DQRule(type="anomaly_zscore", column="o_totalprice"),
          DQRule(type="anomaly_zscore", column="o_custkey", sigma=1.0),
          DQRule(type="not_null", column="o_custkey"),
          DQRule(type="unique", column="o_orderkey"),
          DQRule(type="range", column="o_totalprice", min=0, max=1e5),
          DQRule(type="freshness", column="o_orderdate")], 4),
    ], ids=["one_rule", "six_rules", "six_rules_two_zscore"])
    def test_job_budget_independent_of_rule_count(self, spark, sf_dir,
                                                  rules, budget):
        """Fused scalar pass + histogram job + preview, plus one
        outlier pass shared by every anomaly_zscore rule (the per-rule
        formulation launched 7 jobs for 4 rules)."""
        from data_platform_copilot_spark.sources import register_testdata
        from tests.test_queries_oracle import _jobs_submitted
        register_testdata(spark, sf_dir, ("orders",))
        before = _jobs_submitted(spark)
        out = run_checks(spark, "orders", rules, where="o_orderkey > 10",
                         sample_limit=400)
        jobs = _jobs_submitted(spark) - before
        assert len(out["results"]) == len(rules)
        assert jobs <= budget, f"{jobs} jobs for {len(rules)} rules"

    def test_fused_results_equal_standalone_checks(self, spark, dirty):
        """The fused run and the public check_* share each rule's math."""
        dirty.createOrReplaceTempView("dq_dirty")
        now = datetime(2024, 1, 5, 12, 0, tzinfo=timezone.utc)
        out = run_checks(spark, "dq_dirty", [
            DQRule(type="not_null", column="id"),
            DQRule(type="unique", column="id"),
            DQRule(type="range", column="v", min=0, max=100),
            DQRule(type="freshness", column="ts", max_age_hours=24),
            DQRule(type="anomaly_zscore", column="v", sigma=2.0),
        ], now=now)
        alone = [check_not_null(dirty, "id"), check_unique(dirty, "id"),
                 check_range(dirty, "v", 0, 100),
                 check_freshness(dirty, "ts", 24, now=now),
                 check_anomaly_zscore(dirty, "v", 2.0)]
        # mean/std may differ in the last ulps: the aggregation tree
        # over the materialized sample differs from the frame's own
        for got, want in zip(out["results"], alone):
            assert (got.rule, got.passed) == (want.rule, want.passed)
            assert got.details == pytest.approx(want.details, rel=1e-12)

    def test_cluster_branch_releases_the_sample(self, spark, sf_dir,
                                                tmp_path, monkeypatch):
        """On clusters the sample is persisted; run_checks and
        dq_profile unpersist it on exit, so repeated requests leave
        the CacheManager as they found it."""
        from data_platform_copilot_spark.chain import StubProvider
        from data_platform_copilot_spark.service import CopilotService
        from data_platform_copilot_spark.sources import register_testdata
        from data_platform_copilot_spark.sources import registry
        from tests.test_sharing import _cache_entries
        register_testdata(spark, sf_dir, ("events",))
        svc = CopilotService(spark, StubProvider(), str(tmp_path / "c"))
        monkeypatch.setattr(registry, "_is_local", lambda _spark: False)
        persisted = []
        orig = registry.materialize_auto

        def spying(df):
            shared = orig(df)
            persisted.append(shared.storageLevel.useMemory)
            return shared

        monkeypatch.setattr(registry, "materialize_auto", spying)
        before = _cache_entries(spark)
        try:
            for _ in range(3):
                run_checks(spark, "events",
                           [DQRule(type="not_null", column="user_id")],
                           sample_limit=100)
                out = svc.dq_profile("events", limit=100)
                assert len(out["rows"]) == 20
            assert _cache_entries(spark) == before
        finally:
            spark.catalog.clearCache()
        # the cluster branch really ran: every sample was persisted
        assert persisted == [True] * 6
