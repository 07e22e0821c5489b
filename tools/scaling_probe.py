"""Scale-up probe: how do the headline queries scale from sf0.1 to
K x sf0.1 on the same local hardware?

Builds /tmp/spark_graft_sf_x{K} by unioning K id-shifted copies of
every sf0..1 table (key shifts keep join relationships intact;
documents get a per-copy token interleaved so cross-copy texts are
NOT near-duplicates and dedup work scales linearly like a real
corpus), then times each headline query warm at both scales and
prints per-query ratios. A plan whose cost is dominated by fixed
stage latency shows ratio << K; a well-shaped data-bound plan shows
ratio ~= K; ratio >> K flags a superlinear path that would not
survive a real scale-up.

Usage: python tools/scaling_probe.py [K] [queries...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

BASE = "/root/testdata/sf0.1"

SHIFTS = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp", "s_nationkey": None},
    "events": {"event_id": "ev", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
    "nation": {},   # dims: single copy
    "region": {},
}


def build(spark, k: int, out: str) -> None:
    from pyspark.sql import functions as F
    ranges: dict[str, int] = {}
    for table, cols in SHIFTS.items():
        src = spark.read.parquet(f"{BASE}/{table}.parquet")
        for col, key in cols.items():
            if key is not None and key not in ranges:
                ranges[key] = src.agg(F.max(col)).collect()[0][0] + 1
    for table, cols in SHIFTS.items():
        src = spark.read.parquet(f"{BASE}/{table}.parquet")
        if not cols:  # pure dims replicate once
            src.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
            continue
        copies = []
        for c in range(k):
            cp = src
            for col, key in cols.items():
                if key is None:
                    continue
                cp = cp.withColumn(col, F.col(col) + c * ranges[key])
            if table == "documents":
                # suffix every token with the copy id: token COUNT is
                # unchanged (so per-doc work stays comparable across
                # copies) while every shingle differs across copies —
                # cross-copy texts are not near-duplicates, and the
                # within-copy structure (incl. planted near-dups) is
                # preserved
                cp = cp.withColumn(
                    "text",
                    F.regexp_replace("text", r"(\S+)", f"$1{c}"))
            copies.append(cp)
        full = copies[0]
        for cp in copies[1:]:
            full = full.unionByName(cp)
        full.write.mode("overwrite").parquet(f"{out}/{table}.parquet")


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    names = sys.argv[2:] or [
        "flagship_revenue_by_nation", "multi_join_topk",
        "cohort_retention_weekly", "tpch_q1_pricing_summary",
        "window_rank_topk_per_group", "dq_profile_events_value",
        "text_quality_score", "dedup_minhash_lsh",
        "ann_bruteforce_topk", "sessionization_gaps",
    ]
    out = f"/tmp/spark_graft_sf_x{k}"
    from data_platform_copilot_spark.queries import QUERIES
    from data_platform_copilot_spark.session import get_spark
    spark = get_spark("scaling-probe")
    if not Path(f"{out}/lineitem.parquet").exists():
        build(spark, k, out)
    results = {}
    for sf_dir in (BASE, out):
        QUERIES["flagship_revenue_by_nation"](spark, sf_dir).collect()
        t = {}
        for n in names:
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                QUERIES[n](spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            t[n] = min(runs)
        results[sf_dir] = t
    print(f"{'query':34s} {'sf0.1':>8s} {f'x{k}':>8s} {'ratio':>7s}")
    for n in names:
        a, b = results[BASE][n], results[out][n]
        print(f"{n:34s} {a:8.3f} {b:8.3f} {b / a:7.2f}")


if __name__ == "__main__":
    main()
