"""A6 — column profiler (reference src/dq.py:39-79).

Per column: dtype / count / nulls / distinct; numeric columns add
min/max/mean/std(population)/p50/p95; timestamp columns add min/max
ISO strings; string columns add length min/max/p95; every column
adds a top-5 value histogram.

Spark-first shape: ALL scalar statistics for ALL columns compute in
ONE ``df.agg(...)`` pass (a single scan + partial aggregation), not
a per-column loop like the pandas reference; callers may fold their
own aggregates into that pass (``extra``). Top-5 histograms for
every atomic column batch into ONE stacked string-cast job (explode
to (column, value-as-string) rows -> one groupBy + per-column window
top-k; the <= 5 winners reparse to native types on the driver), so a
whole profile is two jobs total — at 100 columns x 100 TB the
per-column-loop formulation would be 100 full scans. Map-side
partial aggregation means the stacked shuffle still carries only
distinct (column, value) pairs. Non-atomic columns (decimal, nested)
fall back to one typed histogram job per type.

Distinct counts come from the histogram job: a column's distinct
count is its number of non-NULL (column, value) groups, a window
count beside the top-k rank. The scalar pass therefore carries no
``countDistinct`` (its Expand plan cost 3-4x the rest of the pass on
a 5.7k-row sample) and the count stays exact at any scale.

``exact=False`` switches percentiles to percentile_approx — the
100 TB configuration.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, T.NumericType)


def _is_timestamp(dt: T.DataType) -> bool:
    return isinstance(dt, (T.TimestampType, T.DateType))


# Types whose string cast round-trips losslessly (DecimalType excluded:
# it belongs to the typed fallback so callers keep Decimal objects).
_ATOMIC = (T.IntegralType, T.FloatType, T.DoubleType, T.StringType,
           T.BooleanType, T.TimestampType, T.DateType)


def _is_atomic(dt: T.DataType) -> bool:
    return isinstance(dt, _ATOMIC)


def _reparse(s: str, dt: T.DataType) -> Any:
    """Parse a Spark string-cast scalar back to its native Python type."""
    import datetime as _dt
    if isinstance(dt, T.StringType):
        return s
    if isinstance(dt, T.IntegralType):
        return int(s)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(s)
    if isinstance(dt, T.BooleanType):
        return s == "true"
    if isinstance(dt, T.TimestampType):
        return _dt.datetime.fromisoformat(s)
    if isinstance(dt, T.DateType):
        return _dt.date.fromisoformat(s)
    return s


def _transport(c: Column, dt: T.DataType) -> Column:
    """The string a value travels as in the stacked histogram job.
    Spark's string cast tells -0.0 from 0.0 where grouping and
    ``countDistinct`` do not, so float zeros normalize first."""
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        c = F.when(c == 0, F.lit(0).cast(dt)).otherwise(c)
    return c.cast("string")


def profile_df(df: DataFrame, max_top: int = 5, exact: bool = True,
               extra: dict[str, Column] | None = None,
               ) -> dict[str, dict[str, Any]]:
    """Profile every column of ``df`` (reference profile_df parity).

    ``extra`` maps alias -> aggregate Column: each rides the scalar
    pass, and its value replaces the Column in ``extra``."""
    extra = {} if extra is None else extra
    aggs: list[Column] = [F.count(F.lit(1)).alias("__total")]
    aggs += [c.alias(k) for k, c in extra.items()]
    for field in df.schema.fields:
        c, name = F.col(field.name), field.name
        aggs.append(F.sum(c.isNull().cast("long")).alias(f"{name}__nulls"))
        if _is_numeric(field.dataType):
            aggs += [
                F.min(c).alias(f"{name}__min"),
                F.max(c).alias(f"{name}__max"),
                F.mean(c).alias(f"{name}__mean"),
                F.stddev_pop(c).alias(f"{name}__std"),  # ddof=0, reference src/dq.py:55
            ]
            if exact:
                aggs.append(F.expr(
                    f"percentile({name}, array(0.5, 0.95))").alias(f"{name}__pcts"))
            else:
                aggs.append(F.percentile_approx(
                    c, [0.5, 0.95], 10000).alias(f"{name}__pcts"))
        elif _is_timestamp(field.dataType):
            aggs += [F.min(c).alias(f"{name}__min"), F.max(c).alias(f"{name}__max")]
        elif isinstance(field.dataType, T.StringType):
            ln = F.length(c)
            aggs += [
                F.min(ln).alias(f"{name}__len_min"),
                F.max(ln).alias(f"{name}__len_max"),
            ]
            if exact:
                aggs.append(F.expr(
                    f"percentile(length({name}), 0.95)").alias(f"{name}__len_p95"))
            else:
                aggs.append(F.percentile_approx(
                    ln, 0.95, 10000).alias(f"{name}__len_p95"))

    stats = df.agg(*aggs).collect()[0].asDict()
    total = stats["__total"]
    extra.update({k: stats[k] for k in extra})

    out: dict[str, dict[str, Any]] = {}
    for field in df.schema.fields:
        name = field.name
        col_prof: dict[str, Any] = {
            "dtype": field.dataType.simpleString(),
            "count": total,
            "nulls": int(stats[f"{name}__nulls"] or 0),
            "distinct": 0,  # all-NULL unless the histogram job has groups
        }
        if _is_numeric(field.dataType):
            pcts = stats.get(f"{name}__pcts") or [None, None]
            col_prof.update({
                "min": stats.get(f"{name}__min"),
                "max": stats.get(f"{name}__max"),
                "mean": stats.get(f"{name}__mean"),
                "std": stats.get(f"{name}__std"),
                "p50": pcts[0],
                "p95": pcts[1],
            })
        elif _is_timestamp(field.dataType):
            mn, mx = stats.get(f"{name}__min"), stats.get(f"{name}__max")
            col_prof.update({
                "min": mn.isoformat() if mn is not None else None,
                "max": mx.isoformat() if mx is not None else None,
            })
        elif isinstance(field.dataType, T.StringType):
            col_prof.update({
                "len_min": stats.get(f"{name}__len_min"),
                "len_max": stats.get(f"{name}__len_max"),
                "len_p95": stats.get(f"{name}__len_p95"),
            })
        out[name] = col_prof

    # Top-k histograms: deterministic tie-break on the value itself.
    # Every ATOMIC column (numeric/string/boolean/timestamp/date)
    # string-casts into ONE stacked (column, value) explode — a single
    # scan + single shuffle regardless of how many types the schema
    # mixes; the <= max_top surviving strings per column are parsed
    # back to their native type on the driver. String-casting is safe
    # as a group key (and its group count as the distinct count)
    # because, once ``_transport`` folds -0.0 into 0.0, two values of
    # one column share a string iff grouping deems them equal
    # (timestamps render in the session time zone, UTC under
    # ``session.get_spark``). Non-atomic columns (decimal/array/
    # struct/...) keep a per-type job so their values come back
    # natively typed.
    from collections import defaultdict

    from pyspark.sql import Window as W

    for field in df.schema.fields:
        out[field.name]["top_values"] = []

    atomic = [f for f in df.schema.fields if _is_atomic(f.dataType)]
    other_by_type: dict[str, list[str]] = defaultdict(list)
    for f in df.schema.fields:
        if not _is_atomic(f.dataType):
            other_by_type[f.dataType.simpleString()].append(f.name)

    def run_topk(stacked: DataFrame) -> list:
        by_col = W.partitionBy("__col")
        w = by_col.orderBy(F.desc("__cnt"), F.col("__val").cast("string"))
        rows = (stacked.where(F.col("__val").isNotNull())
                .groupBy("__col", "__val").agg(F.count("*").alias("__cnt"))
                .withColumn("__rk", F.row_number().over(w))
                .withColumn("__distinct", F.count("*").over(by_col))
                .where(F.col("__rk") <= max_top)
                .collect())
        for r in rows:
            out[r["__col"]]["distinct"] = r["__distinct"]
        return rows

    if atomic:
        dtype_of = {f.name: f.dataType for f in atomic}
        stacked = df.select(F.explode(F.array(*[
            F.struct(F.lit(f.name).alias("__col"),
                     _transport(F.col(f.name), f.dataType).alias("__val"))
            for f in atomic])).alias("s")).select("s.__col", "s.__val")
        for r in sorted(run_topk(stacked),
                        key=lambda r: (r["__col"], r["__rk"])):
            out[r["__col"]]["top_values"].append(
                {"value": _reparse(r["__val"], dtype_of[r["__col"]]),
                 "count": r["__cnt"]})

    for names in other_by_type.values():
        stacked = df.select(F.explode(F.array(*[
            F.struct(F.lit(n).alias("__col"), F.col(n).alias("__val"))
            for n in names])).alias("s")).select("s.__col", "s.__val")
        for r in sorted(run_topk(stacked),
                        key=lambda r: (r["__col"], r["__rk"])):
            out[r["__col"]]["top_values"].append(
                {"value": r["__val"], "count": r["__cnt"]})
    return out
