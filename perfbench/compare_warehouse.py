"""Compare the benchmark's generated warehouse with the sf0.1 test data.

    python3 perfbench/compare_warehouse.py <sf0.1 dir>            # tables
    python3 perfbench/compare_warehouse.py <sf0.1 dir> --entries  # + timing

Run from the repository root. For every table it prints whether the
contents are equal (``warehouse.table_digest``) and, for each column,
the distinct count and range on both sides. With ``--entries`` it also
times every headline registry entry, built fresh and collected, on both
warehouses in one Spark session (the two sides alternate which runs
first; median of six after one untimed pass). It writes nothing outside
``.bench_build/``.
"""

from __future__ import annotations

import argparse
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

from warehouse import TABLES, ensure_warehouse, table_digest  # noqa: E402


def column_profile(con, path: Path, table: str) -> dict[str, str]:
    src = f"read_parquet('{path}/{table}.parquet')"
    out = {}
    for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall():
        if typ.endswith("[]"):
            n, = con.execute(f"SELECT count(DISTINCT len({name})) FROM {src}"
                             ).fetchone()
            out[name] = f"list, {n} distinct lengths"
            continue
        n, lo, hi = con.execute(f"SELECT count(DISTINCT {name}), min({name}), "
                                f"max({name}) FROM {src}").fetchone()
        out[name] = f"{n} distinct, {str(lo)[:19]} .. {str(hi)[:19]}"
    return out


def text_profile(con, path: Path) -> str:
    src = f"read_parquet('{path}/documents.parquet')"
    words, chars, vocab, dups = con.execute(
        f"SELECT avg(len(string_split(text, ' '))), avg(length(text)), "
        f"(SELECT count(DISTINCT w) FROM (SELECT unnest(string_split("
        f"text, ' ')) AS w FROM {src})), "
        f"count(*) FILTER (WHERE text LIKE '% dup') FROM {src}").fetchone()
    return (f"{words:.1f} words / {chars:.1f} chars per text, vocabulary "
            f"{vocab}, {dups} near-duplicates")


def time_entries(dirs: dict[str, Path], reps: int = 6) -> None:
    import workloads as wl
    from data_platform_copilot_spark.queries import QUERIES
    from data_platform_copilot_spark.session import get_spark
    spark = get_spark("compare-warehouse")
    times = {(n, k): [] for n in wl.HEADLINE for k in dirs}
    for rep in range(reps + 1):
        order = list(dirs.items())[::1 if rep % 2 else -1]
        for name in wl.HEADLINE:
            for key, path in order:
                t0 = time.perf_counter()
                QUERIES[name].__wrapped__(spark, str(path)).collect()
                if rep:
                    times[(name, key)].append(time.perf_counter() - t0)
    spark.stop()
    print(f"\n{'entry':30s}" + "".join(f"{k:>12s}" for k in dirs))
    for name in wl.HEADLINE:
        print(f"{name:30s}" + "".join(
            f"{statistics.median(times[(name, k)]):11.3f}s" for k in dirs))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf01", type=Path)
    ap.add_argument("--entries", action="store_true")
    args = ap.parse_args()
    import duckdb
    import pyarrow.parquet as pq

    gen = ensure_warehouse(HERE.parent / ".bench_build" / "perfbench")
    dirs = {"sf0.1": args.sf01, "generated": gen}
    con = duckdb.connect()
    for table in TABLES:
        same = len({table_digest(pq.read_table(d / f"{table}.parquet"))
                    for d in dirs.values()}) == 1
        print(f"{table}: {'equal' if same else 'differs'}")
        if same:
            continue
        a, b = (column_profile(con, d, table) for d in dirs.values())
        for col in a:
            print(f"  {col:12s} sf0.1 {a[col]:45s} generated {b[col]}")
    for key, path in dirs.items():
        print(f"documents, {key}: {text_profile(con, path)}")
    if args.entries:
        time_entries(dirs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
