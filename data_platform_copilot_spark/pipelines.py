"""A31 — batch ETL pipeline (reference flows/daily_sales.py:6-30).

The reference's Prefect flow extracts a day window of orders,
applies a demo transform, and loads a table. Here the same
extract -> transform -> load shape is a real Spark batch job:
read orders for the window (partition-pruned / filter-pushed scan),
aggregate revenue per day, write a parquet output table. A Prefect
deployment would wrap ``daily_sales`` unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources import load_table, read_parquet


def extract_orders(spark: SparkSession, sf_dir: str,
                   start: str, end: str) -> DataFrame:
    """Half-open [start, end) window on o_orderdate; the predicate
    reaches the parquet scan (at 100 TB: partition pruning on a
    dt-partitioned table)."""
    return load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end))


def transform_daily_revenue(orders: DataFrame) -> DataFrame:
    return (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


def load_output(df: DataFrame, out_path: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(out_path)


def daily_sales(spark: SparkSession, sf_dir: str, out_path: str,
                start: str, end: str) -> DataFrame:
    """The flow body: returns the written DataFrame for inspection."""
    out = transform_daily_revenue(extract_orders(spark, sf_dir, start, end))
    load_output(out, out_path)
    return read_parquet(spark, out_path)


def daily_sales_versioned(spark: SparkSession, sf_dir: str,
                          table_dir: str, start: str,
                          end: str) -> DataFrame:
    """daily_sales committing through the versioned sink instead of a
    raw directory overwrite: every run is an atomic snapshot commit
    (readers mid-run keep the previous version — the torn-overwrite
    window of ``load_output`` doesn't exist), reruns are auditable in
    ``history()``, and a bad backfill rolls back by reading
    ``version=n-1``. This is how the scheduled flow should land data
    in production; the plain-path variant stays for parity with the
    reference's flow shape."""
    from .sources.versioned import read_version, write_version

    out = transform_daily_revenue(extract_orders(spark, sf_dir, start, end))
    write_version(out.coalesce(1), table_dir, mode="overwrite")
    return read_version(spark, table_dir)


def main(argv: list[str] | None = None) -> None:
    """Batch entrypoint for spark-submit (deploy/submit.sh — the
    role the reference's Prefect worker plays for flows/etl.py):
    ``python -m data_platform_copilot_spark.pipelines <sf_dir>
    <out_path> [start] [end]``."""
    import sys as _sys

    from .session import get_spark
    args = list(argv if argv is not None else _sys.argv[1:])
    if len(args) < 2:
        raise SystemExit(
            "usage: pipelines <sf_dir> <out_path> [start] [end]")
    sf_dir, out_path = args[0], args[1]
    start = args[2] if len(args) > 2 else "1995-01-01"
    end = args[3] if len(args) > 3 else "2001-12-31"
    spark = get_spark("etl-daily-sales")
    n = daily_sales(spark, sf_dir, out_path, start, end).count()
    print(f"daily_sales: wrote {n} rows to {out_path}")


if __name__ == "__main__":
    main()
