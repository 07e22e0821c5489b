"""sf0.1 oracle verification for the dedup/ANN pack (r4 verdict #5).

The default gate runs at sf0.01; the planted corpora, deterministic
k-means/PQ codebook replays and LSH hyperplane replays must stay
hash-identical to the DuckDB oracle off that tuned point. This suite
re-runs the value-hash comparison at 10x the data. Excluded from the
default run (see pyproject addopts); run with: pytest -m slow
"""
from __future__ import annotations

import pytest

SF01_DIR = "/root/testdata/sf0.1"

DEDUP_ANN_PACK = [
    "dedup_exact", "dedup_spans", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine",
    "dedup_embedding_lsh", "dedup_semantic", "dedup_incremental",
    "dedup_clusters", "dedup_keeper_selection",
    "ann_bruteforce_topk", "ann_srp_lsh_topk", "ann_ivf_topk",
    "ann_pq_topk", "embedding_quantize_int8", "decontamination",
]


@pytest.fixture(scope="module")
def duck01():
    import duckdb
    from tests.conftest import TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF01_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.slow
@pytest.mark.parametrize("name", DEDUP_ANN_PACK)
def test_dedup_ann_pack_matches_oracle_at_sf01(spark, duck01, name):
    _assert_matches_at_sf01(spark, duck01, name)


def _other_oracle_entries():
    from data_platform_copilot_spark.queries import ORACLE
    return [n for n in ORACLE if n not in DEDUP_ANN_PACK]


@pytest.mark.slow
@pytest.mark.parametrize("name", _other_oracle_entries())
def test_full_registry_matches_oracle_at_sf01(spark, duck01, name):
    """Every oracle-comparable entry, not just the dedup/ANN pack:
    the whole registry must hold away from the tuned sf0.01 point
    (rounding boundaries, LIMIT-edge ties and planted-corpus
    determinism are all sf-sensitive)."""
    _assert_matches_at_sf01(spark, duck01, name)


def _assert_matches_at_sf01(spark, duck01, name):
    from tests.conftest import normalize_rows

    from data_platform_copilot_spark.queries import ORACLE, QUERIES
    spark_df = QUERIES[name](spark, SF01_DIR).toPandas()
    oracle_df = duck01.sql(ORACLE[name]).df()
    assert sorted(spark_df.columns) == sorted(oracle_df.columns)
    assert normalize_rows(spark_df) == normalize_rows(oracle_df)


@pytest.mark.slow
def test_every_entry_survives_empty_tables(spark, tmp_path_factory):
    """Zero-row robustness: every registry entry must EXECUTE (not
    necessarily return rows) against an empty mirror of the testdata
    — at 100 TB, empty partitions and filters that match nothing are
    routine, and a driver-side crash (seed collect()[0], numpy stack
    of zero rows, ANSI divide-by-zero) is an operator bug. The r7
    audit found and fixed seven of these; this pins them closed."""
    import shutil
    from pathlib import Path

    from data_platform_copilot_spark.queries import QUERIES

    src = "/root/testdata/sf0.001"
    dst = tmp_path_factory.mktemp("sf_empty")
    tables = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
    for t in tables:
        stage = dst / f"_stage_{t}"
        (spark.read.parquet(f"{src}/{t}.parquet")
         .limit(0).coalesce(1)
         .write.mode("overwrite").parquet(str(stage)))
        part = next(stage.glob("part-*.parquet"))
        shutil.copy(part, dst / f"{t}.parquet")
        shutil.rmtree(stage)
    failures = []
    for name, fn in QUERIES.items():
        try:
            fn(spark, str(dst)).limit(5).collect()
        except Exception as e:  # noqa: BLE001 — audit collects all
            failures.append((name, str(e).splitlines()[0][:120]))
    assert not failures, failures


@pytest.mark.slow
def test_no_entry_plans_a_python_row_udf_or_cartesian(spark):
    """Global physical-plan invariant over the ENTIRE registry: no
    entry may compile to a row-at-a-time Python UDF
    (BatchEvalPython), a scalar Arrow UDF in the hot path
    (ArrowEvalPython — the engine's Python stages are mapInPandas /
    applyInPandas kernels, which appear as MapInPandas / FlatMap*
    nodes), or an unconstrained CartesianProduct. This is the
    100 TB contract enforced as a test, not a convention."""
    from data_platform_copilot_spark.queries import QUERIES

    offenders: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        if name.startswith("streaming_"):
            continue  # bounded-replay harness; no batch plan to audit
        df = fn(spark, "/root/testdata/sf0.001")
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        hits = [node for node in
                ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct")
                if node in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


# Entries allowed to plan an EMPTY-partition-spec WindowExec, each
# with the reason its window input is bounded (r11 verdict item 3:
# the invariant below rejects any global window not named here, so a
# future unbounded single-partition window fails CI instead of dying
# at 100x). Classes:
#   series  — window over a date/hour-aggregated series (rows bounded
#             by the time range, not the data volume)
#   hist    — window over a value histogram / quantile bins / ROC
#             bins (rows bounded by distinct-value cardinality; the
#             sanctioned roc_auc pattern, also used by the r12
#             gini/pareto/shard-plan rewrites)
#   mix     — window over per-source/domain mixture rows (rows
#             bounded by the source/domain alphabet)
#   spec    — §2.B SQL-surface window-function spec entries over a
#             monthly aggregate (bounded by the month range)
#   topm    — rank window over the rows that survive a top-m limit
#             (rows bounded by m)
GLOBAL_WINDOW_ALLOWLIST: dict[str, str] = {
    "acf_daily_value": "series",
    "burst_detection_hourly": "series",
    "changepoint_cusum_daily": "series",
    "sax_daily_value": "series",
    "user_growth_daily": "series",
    "seasonal_decompose_daily": "series",
    "seasonal_adjusted_anomalies": "series",
    "funnel_view_click_purchase": "series",
    "survival_km_user_lifetime": "hist",
    "drift_ks_value": "hist",
    "quantile_histogram_sketch": "hist",
    "quality_score_auc": "hist",
    "quality_calibration_bins": "hist",
    "conformal_quality_coverage": "hist",
    "vocab_coverage_curve": "hist",
    "zipf_slope_tokens": "hist",
    "concentration_gini_user_activity": "hist",
    "pareto_share_user_activity": "hist",
    "range_partition_plan": "hist (deterministic ~5% sample histogram"
                            " feeding boundary planning)",
    "output_shard_plan": "hist (P=32 per-bucket subtotals of the"
                         " two-phase prefix sum)",
    "padding_waste_batching": "hist",
    "dsir_importance_resample": "hist",
    "domain_mix_sample_counts": "mix",
    "temperature_mix_counts": "mix",
    "token_budget_allocation": "mix",
    "token_budget_epochs_plan": "mix",
    "window_running_sum": "spec",
    "window_lag_delta": "spec",
    "window_range_frame": "spec",
    "null_ordering": "spec",
    # both rewritten r12 (global rank residue retired): remaining
    # global windows are over bounded frames only
    "ab_test_mann_whitney": "hist (tie-averaged rank sums over the"
                            " distinct-value histogram)",
    "training_order_interleave": "mix (apportionment frame + B=32"
                                 " bucket offsets; rank is two-phase)",
    "pareto_frontier_users": "hist (pareto_frontier_2d's running max"
                             " over its one-row-per-bucket summary)",
    "quantile_normalize_doclen": "hist (the pooled bucketed_global_rank's"
                                 " offsets over per-bucket counts)",
    "ann_margin_scores": "topm (margin_topk ranks the m=20 limited"
                         " pairs)",
}


@pytest.mark.slow
def test_no_entry_plans_an_unpartitioned_window_off_allowlist(spark):
    """Registry-wide plan invariant (r11 verdict item 3): an
    empty-partition-spec WindowExec moves ALL rows to one task
    (\"Moving all data to a single partition\") — the class that runs
    fine at sf0.1 and serializes at 100 TB. Every entry that plans
    one must be explicitly allowlisted above with the reason its
    window input is bounded; anything else fails here. Detection is
    on the optimized plan's windowspecdefinition argument shape: a
    partitioned spec leads with partition columns, an unpartitioned
    one leads with an ordering (ASC/DESC) or, for ORDER-less global
    frames, the frame spec itself."""
    import re

    from data_platform_copilot_spark.queries import QUERIES

    def has_global_window(plan: str) -> bool:
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            first = m.group(1).split(",")[0].strip()
            if ("ASC" in first or "DESC" in first
                    or first.startswith("specifiedwindowframe")):
                return True
        return False

    offenders, stale = [], []
    seen = set()
    for name, fn in QUERIES.items():
        if name.startswith("streaming_"):
            continue
        df = fn(spark, "/root/testdata/sf0.001")
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        if has_global_window(plan):
            seen.add(name)
            if name not in GLOBAL_WINDOW_ALLOWLIST:
                offenders.append(name)
    stale = [n for n in GLOBAL_WINDOW_ALLOWLIST
             if n in QUERIES and n not in seen]
    assert not offenders, (
        f"unpartitioned global window outside the allowlist: "
        f"{offenders}")
    assert not stale, (
        f"allowlist entries no longer planning a global window "
        f"(prune them): {stale}")
