"""Side-by-side bench: our Spark headline timings vs a warm DuckDB
proxy running the IDENTICAL oracle SQL on the same parquet — the
judge's 2x-bound methodology, reproducible in one command.

Usage: python tools/proxy_bench.py [sf_dir]

Prints one line per headline query (spark_s, duckdb_s, ratio) plus
totals. DuckDB numbers are warm min-of-3 (first run pays file
registration), matching the judge's min-of-3 warm proxy; Spark
numbers come from the same min-of-5 collect() loop bench.py uses —
both sides materialize their (<=5k-row) results, apples-to-apples
(r10 change: the former noop sink rebuilt a QueryExecution per save,
a fixed +0.2-0.3 s/query harness tax DuckDB's fetchall never paid;
see bench.py docstring for the same-commit measurements).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def duckdb_timings(sf_dir: str, names: list[str]) -> dict[str, float]:
    import duckdb

    from data_platform_copilot_spark.queries import ORACLE
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for n in names:
        sql = ORACLE[n]
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            runs.append(time.perf_counter() - t0)
        out[n] = min(runs)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from bench import BENCH_QUERIES
    from data_platform_copilot_spark.queries import ORACLE, QUERIES
    from data_platform_copilot_spark.session import get_spark

    names = [n for n in BENCH_QUERIES if n in QUERIES and n in ORACLE]
    duck = duckdb_timings(sf_dir, names)

    spark = get_spark("proxy-bench")
    # both engines scan parquet per run: DuckDB through its views,
    # Spark through a plan built fresh by each registry call
    QUERIES[names[0]](spark, sf_dir).collect()
    (spark.range(256).repartition(8)
     .mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())
    ours = {}
    for n in names:
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            QUERIES[n](spark, sf_dir).collect()
            runs.append(time.perf_counter() - t0)
        ours[n] = min(runs)

    print(f"{'query':34s} {'spark_s':>8s} {'duck_s':>8s} {'ratio':>7s}")
    for n in names:
        r = ours[n] / duck[n] if duck[n] > 0 else float("inf")
        print(f"{n:34s} {ours[n]:8.3f} {duck[n]:8.3f} {r:7.2f}")
    ts, td = sum(ours.values()), sum(duck.values())
    print(f"{'TOTAL':34s} {ts:8.3f} {td:8.3f} {ts / td:7.2f}")


if __name__ == "__main__":
    main()
