"""Skew-aware join: hot-key-only salting.

AQE's skew-join splitting (enabled in session.py) handles most skew
at runtime; explicit salting remains the tool when one probe-side key
is so hot that even split partitions overwhelm a task, or when AQE is
unavailable (streaming joins, some cluster configs).

Mechanics: only keys DETECTED (or declared) as hot are salted — the
probe side splits into hot/cold branches with a broadcast semi/anti
join against the tiny hot-key set; the build side is replicated
``salts`` times for hot keys ONLY, and the cold remainder runs as a
plain join. Blanket salting (replicating the whole build side S
times) multiplies build shuffle volume by S for keys that never
needed it — at 100 TB the hot set is typically a handful of keys and
the replication cost must stay proportional to them.

The extra cost of detection is one aggregate scan of the probe side
(skipped when callers pass ``hot_keys`` from a prior
``key_skew_report``). Equality with the plain join is
property-tested; a plan test pins that the cold branch contains no
explode.

Only ``inner``, ``left`` and ``left_semi`` are accepted: with a
right/full outer join the replicated build side would emit each
unmatched build row ``salts`` times.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.registry import materialize_auto

_SUPPORTED = ("inner", "left", "left_semi")


def _hot_key_set(large: DataFrame, key: str,
                 hot_keys: list | None, min_freq: int | None) -> DataFrame:
    """One-column DataFrame of hot key values (small; broadcast it)."""
    if hot_keys is not None:
        kt = large.schema[key].dataType
        return large.sparkSession.createDataFrame(
            [(k,) for k in hot_keys],
            T.StructType([T.StructField(key, kt)]))
    hist = large.groupBy(key).agg(F.count("*").alias("__cnt"))
    if min_freq is not None:
        return hist.where(F.col("__cnt") >= min_freq).select(key)
    # Default detection: a key is hot when its rows exceed an even
    # share of one shuffle partition's input (the point at which a
    # single task's input stops shrinking as the cluster grows).
    # Under AQE-managed clusters the conf can be the string "auto";
    # fall back to the scheduler's default parallelism.
    try:
        nparts = int(large.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
    except ValueError:
        nparts = large.sparkSession.sparkContext.defaultParallelism
    total = hist.agg(F.sum("__cnt").alias("__total"))
    return (hist.crossJoin(F.broadcast(total))
            .where(F.col("__cnt") > F.col("__total") / nparts)
            .select(key))


def salted_join(large: DataFrame, small: DataFrame, key: str,
                salts: int = 8, how: str = "inner",
                hot_keys: list | None = None,
                min_freq: int | None = None) -> DataFrame:
    """Join ``large`` to ``small`` on ``key``, salting ONLY hot keys.

    Output columns = large's columns + small's non-key columns (like
    a plain ``join(..., on=key)``). Hot keys come from ``hot_keys``
    (explicit, e.g. from key_skew_report — no detection scan), from
    ``min_freq`` (histogram threshold), or from the default detector
    (count > total / shuffle partitions). Everything stays lazy: the
    hot set is a broadcast DataFrame, never collected to the driver.
    """
    if how not in _SUPPORTED:
        raise ValueError(
            f"salted_join supports {_SUPPORTED}, got {how!r}: outer "
            "joins would duplicate unmatched build rows per salt")
    # The hot set feeds three joins (l_hot / l_cold / s_hot); share it
    # so the detection histogram scans `large` once, not three times.
    hot = F.broadcast(materialize_auto(
        _hot_key_set(large, key, hot_keys, min_freq)))

    l_hot = large.join(hot, key, "left_semi")
    l_cold = large.join(hot, key, "left_anti")
    s_hot = small.join(hot, key, "left_semi")

    other_cols = [c for c in large.columns if c != key]
    salt_src = F.xxhash64(*[F.col(c) for c in other_cols]) if other_cols \
        else F.xxhash64(F.col(key))
    l_salted = l_hot.withColumn("__salt", F.pmod(salt_src, F.lit(salts)))
    s_rep = s_hot.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1))))
    hot_out = l_salted.join(s_rep, [key, "__salt"], how).drop("__salt")
    cold_out = l_cold.join(small, key, how)
    return hot_out.unionByName(cold_out)


def salted_topk(df: DataFrame, group_cols: list[str],
                order_cols: list[Column], k: int,
                salts: int = 32, rank_col: str = "rnk") -> DataFrame:
    """Top-k per group via a SALTED two-phase ranking window — the
    whale-proof twin of ``row_number().over(partitionBy(*group)
    .orderBy(*order)) <= k``.

    The one-window plan sorts EVERY row of a group in one task, and
    AQE cannot split a window partition — with few, huge groups
    (e.g. 5 market segments over 1.5 B customers) each window
    partition is N/5 rows in a single task. Phase 1 here ranks
    inside ``(group, salt)`` sub-partitions (salt = hash of the full
    order tuple, deterministic) and keeps each sub-partition's
    top-k; any global top-k row is top-k within its own salt bucket,
    so no survivor is lost. Phase 2 re-ranks the <= k*salts
    survivors per group — a window whose partitions are bounded by
    k*salts regardless of data volume, and whose ranks equal the
    global ranks because every better-ordered row also survived
    phase 1.

    ``order_cols`` must totally order rows within a group (ties make
    both formulations nondeterministic). Cost: the phase-1 shuffle
    carries the salt (so one group spreads over ``salts`` tasks) and
    the survivors take a second, k*salts-sized shuffle — the usual
    two-phase insurance premium over the plain window."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if salts < 1:
        raise ValueError("salts must be >= 1")
    salted = df.withColumn(
        "__salt",
        # hash the whole row, not order_cols: those may be sort
        # orderings (F.desc(...)), which cannot feed a hash; a
        # full-row hash is deterministic and spreads any group whose
        # rows are distinct (the total-order contract)
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
               F.lit(salts)))
    w1 = (W.partitionBy(*group_cols, "__salt").orderBy(*order_cols))
    survivors = (salted
                 .withColumn("__r1", F.row_number().over(w1))
                 .where(F.col("__r1") <= k)
                 .drop("__salt", "__r1"))
    w2 = W.partitionBy(*group_cols).orderBy(*order_cols)
    return (survivors
            .withColumn(rank_col, F.row_number().over(w2).cast("long"))
            .where(F.col(rank_col) <= k))
