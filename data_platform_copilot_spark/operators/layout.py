"""Storage-layout operators: z-order clustering keys for
multi-dimensional data skipping.

Sorting a 100 TB fact table by ONE key gives perfect min/max pruning
on that key and none on any other; interleaving the bits of two (or
more) bucketed keys — the Z-order / Morton curve — gives every
interleaved dimension locality, so parquet row-group min/max stats
prune scans filtered on EITHER key (the technique behind
Delta/Iceberg OPTIMIZE ZORDER; Morton 1966 is public domain).

Everything here is pure JVM expressions: bucketize each dimension to
``bits`` bits against its (broadcast, 1-row) max, then interleave.
The write path is just ``df.repartitionByRange(z).sortWithinPartitions
(z).write...`` — the curve key does the clustering, the engine does
the layout.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucketize(col: Column, max_col: Column, bits: int = 8) -> Column:
    """Scale a positive key to [0, 2^bits) against its max — the
    per-dimension quantile-free bucketing both engines replay
    exactly (floor of an exact double ratio)."""
    n = 1 << bits
    raw = F.floor((col - 1).cast("double") * n / max_col.cast("double"))
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), raw)).cast("long")


def interleave(x: Column, y: Column, bits: int = 8) -> Column:
    """Morton interleave: bit b of x lands at position 2b, bit b of
    y at 2b+1 — the 2-D case of ``interleave_many`` (single bit-math
    implementation; the oracle SQL replays this exact layout).
    Whole-stage codegen folds the terms into straight-line long
    arithmetic. (``bucketize`` deliberately does NOT delegate to
    ``bucketize_minmax``: its 1-based max-only scaling is pinned
    bit-for-bit by the zorder oracle entries.)"""
    return interleave_many([x, y], bits)


def bucketize_minmax(col: Column, min_col: Column, max_col: Column,
                     bits: int = 8) -> Column:
    """General-range variant of ``bucketize``: scale a numeric key to
    [0, 2^bits) against its observed [min, max] (handles negatives,
    floats, constant columns). NULL keys stay NULL — guarded
    explicitly (ADVICE r11: Spark's greatest/least SKIP nulls, so an
    unguarded clamp would map NULL to bucket 0 and cluster null rows
    with minimum-value rows); ``interleave_many``'s NULL-key contract
    then groups them into one partition, and min/max pruning ignores
    them (parquet stats skip nulls)."""
    n = 1 << bits
    span = (max_col - min_col).cast("double")
    raw = F.floor((col - min_col).cast("double") * n
                  / F.when(span > 0, span).otherwise(F.lit(1.0)))
    clamped = F.least(F.lit(n - 1),
                      F.greatest(F.lit(0), raw)).cast("long")
    return F.when(col.isNull(), F.lit(None).cast("long")) \
        .otherwise(clamped)


def interleave_many(cols: list[Column], bits: int = 8) -> Column:
    """k-dimensional Morton interleave: bit b of dimension i lands at
    position k*b + i (the 2-D ``interleave`` generalized). k*bits must
    stay under 63 to fit a signed long. A NULL in any dimension makes
    the key NULL (sorts together; never pruned incorrectly)."""
    k = len(cols)
    if k * bits > 62:
        raise ValueError(f"z-order key overflow: {k} dims x {bits} bits")
    terms = [F.shiftleft(F.shiftright(c, b).bitwiseAND(1), k * b + i)
             for b in range(bits) for i, c in enumerate(cols)]
    return reduce(lambda a, c: a + c, terms)


def add_range_bucket(df: DataFrame, key: str, n_buckets: int,
                     extra_aggs: list[Column] | None = None
                     ) -> DataFrame:
    """Deterministic fixed-width value bucketing for two-phase
    distributed prefix sums/ranks (shared by
    ``queries.quality.output_shard_plan`` and
    ``queries.sampling.training_order_interleave`` — r12): adds a
    ``__rb`` bucket id in [0, n_buckets) from ONE broadcast min/max
    row over the integer ``key``. Unlike ``repartitionByRange``, the
    bucket boundaries are a pure function of the data — re-evaluating
    the frame in a second branch of the same plan yields identical
    buckets, so subtotal offsets computed in one branch can be joined
    back in another. ``extra_aggs`` ride along on the broadcast bounds
    row (e.g. a total count) so callers need no second pass.

    NULL keys land in bucket 0 (ADVICE r12: the global-window
    formulation this replaces kept NULL-key rows, sorted first — an
    unguarded NULL ``__rb`` would silently drop them at the callers'
    inner join). Arithmetic is div-FIRST — ``(key - lo) div width``
    with ``width = ceil(span / n_buckets)`` — so nothing multiplies
    the key span: exact and overflow-free for any span that itself
    fits in a long (the ``key - lo`` contract; the replaced
    ``(key - lo) * n_buckets`` form overflowed ANSI longs n_buckets
    times earlier)."""
    aggs = [F.min(key).alias("__rb_lo"), F.max(key).alias("__rb_hi")]
    aggs += list(extra_aggs or [])
    # width = ceil((hi - lo + 1) / n) computed as (hi-lo) div n + 1
    # (exact for integers, and >= 1 even when hi == lo);
    # coalesce maps NULL keys to lo -> bucket 0. The all-NULL-column
    # frame needs the explicit if(): min/max are then NULL and
    # Spark's null-SKIPPING least(63, NULL) would return 63, not the
    # documented bucket 0 (review r13).
    bucket = F.expr(
        f"if(__rb_lo is null, cast(0 as bigint), "
        f"least({n_buckets - 1}, "
        f"(coalesce({key}, __rb_lo) - __rb_lo) div "
        f"((__rb_hi - __rb_lo) div {n_buckets} + 1)))")
    return (df.crossJoin(F.broadcast(df.agg(*aggs)))
            .withColumn("__rb", bucket)
            .drop("__rb_lo", "__rb_hi"))


def bucket_offsets(bucketed: DataFrame, weight: Column) -> DataFrame:
    """Phase-1 companion to ``add_range_bucket``: per-bucket totals of
    ``weight`` reduced to an EXCLUSIVE running offset per bucket —
    an n_buckets-row frame (the only unpartitioned window in the
    pattern runs over these aggregated rows). Broadcast-join it back
    and add a per-bucket (partitioned, bounded) running sum/rank for
    the exact global prefix."""
    from pyspark.sql import Window as W
    return (bucketed.groupBy("__rb").agg(F.sum(weight).alias("__rb_w"))
            .select("__rb", F.coalesce(
                F.sum("__rb_w").over(
                    W.orderBy("__rb")
                    .rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0)).alias("__rb_off")))


def zorder_stats(df: DataFrame, xcol: str, ycol: str,
                 bits: int = 8, files: int = 64) -> DataFrame:
    """Simulated post-OPTIMIZE layout report: assign every row its
    z-key, split the curve into ``files`` equal z-ranges (the file
    boundaries a range-partitioned sorted write produces), and emit
    per-file min/max of BOTH dimensions — the exact stats a reader's
    min/max pruning consults. Narrow ranges on both columns = both
    predicates skip files.

    Scale shape: two 1-row max aggregates (broadcast), one
    file-keyed combine; no shuffle of the fact rows beyond the
    groupBy (the real write path would range-repartition instead)."""
    maxes = df.agg(F.max(xcol).alias("mx"), F.max(ycol).alias("my"))
    z = interleave(bucketize(F.col(xcol), F.col("mx"), bits),
                   bucketize(F.col(ycol), F.col("my"), bits), bits)
    per_file = (1 << (2 * bits)) // files
    return (df.join(F.broadcast(maxes))
            .select(F.col(xcol).alias("x"), F.col(ycol).alias("y"),
                    (z / per_file).cast("long").alias("file_id"))
            .groupBy("file_id")
            .agg(F.count("*").alias("n_rows"),
                 F.min("x").alias("min_x"), F.max("x").alias("max_x"),
                 F.min("y").alias("min_y"), F.max("y").alias("max_y")))


def bucketed_global_rank(df: DataFrame, part_cols: list[str],
                         key_col: str, order_cols: list[Column],
                         n_buckets: int = 64,
                         rank_col: str = "rn",
                         size_col: str = "n_part") -> DataFrame:
    """Whale-proof global ``row_number`` per partition: all input
    columns + ``rank_col`` (1-based rank within ``part_cols`` in
    ``order_cols`` order) + ``size_col`` (partition row count) with
    no window partition wider than one (partition, range-bucket)
    slice — the two-phase replacement for
    ``row_number().over(partitionBy(*part).orderBy(*order))`` when a
    partition can dwarf a task (AQE cannot split a window
    partition).

    ``key_col`` must be an integer column that is a MONOTONE
    NON-DECREASING image of the ``order_cols`` order within every
    partition (e.g. ``floor(value)`` for an ascending value order,
    ``floor(-value * 10^dp)`` for a descending one): ties in the
    image stay inside one bucket, so bucket-prefix + local rank =
    global rank. Phase 1 range-buckets on ``key_col``
    (``add_range_bucket`` — deterministic boundaries from one
    broadcast min/max row), counts per (partition, bucket), and
    exclusive-prefixes the tiny partitions x n_buckets summary;
    phase 2 broadcasts the offsets back and ranks locally inside
    bounded (partition, bucket) windows. Partition width is bounded
    whenever the image spreads over its range — the assumption every
    repartitionByRange global sort makes; a single-value column
    degenerates to one bucket, i.e. to the one-window plan, never
    worse.

    Null-safety: the summary group/join key is ONE struct of
    (part_cols..., bucket) — complex-type equality treats NULL
    fields as equal (the operators/sessionize.py trick), so NULL
    partition values rank like any other partition instead of
    vanishing at the join, and the join reuses phase 1's exchange.
    ``key_col`` itself must be NON-NULL on every row (enforced with a
    per-row raise): add_range_bucket would put a NULL image in
    bucket 0 (first) while NULL order values sort elsewhere — and
    Spark/DuckDB even disagree on where — so a NULL image cannot
    rank consistently; callers filter or coalesce first."""
    from pyspark.sql import Window as W
    df = df.withColumn(
        key_col,
        F.when(F.col(key_col).isNotNull(), F.col(key_col)).otherwise(
            F.raise_error(F.lit(
                "bucketed_global_rank: key_col image must be non-null"
                " (a NULL image lands in bucket 0 but sorts elsewhere"
                " — filter or coalesce NULL rows first)")).cast("long")))
    b = add_range_bucket(df, key_col, n_buckets)
    pb = F.struct(
        *[F.col(c).alias(f"p{i}") for i, c in enumerate(part_cols)],
        F.col("__rb").alias("rb"))
    b = b.withColumn("__pb", pb).drop("__rb")
    part_fields = [f"__pb.p{i}" for i in range(len(part_cols))]

    cnt = b.groupBy("__pb").agg(F.count("*").alias("__c"))
    woff = (W.partitionBy(*part_fields).orderBy("__pb.rb")
            .rowsBetween(W.unboundedPreceding, -1))
    offs = cnt.select(
        "__pb",
        F.coalesce(F.sum("__c").over(woff), F.lit(0)).alias("__off"),
        F.sum("__c").over(W.partitionBy(*part_fields)).alias(size_col))

    wloc = W.partitionBy("__pb").orderBy(*order_cols)
    return (b.withColumn("__lr", F.row_number().over(wloc))
            .join(F.broadcast(offs), ["__pb"])
            .withColumn(rank_col,
                        (F.col("__off") + F.col("__lr")).cast("long"))
            .drop("__pb", "__lr", "__off"))


def ntile_expr(rank_col: str, size_col: str, tiles: int) -> Column:
    """``ntile(tiles)`` as a closed form of the global rank and the
    partition size (exact integer ceil-div arithmetic — no float):
    the first ``N % tiles`` tiles take ``N div tiles + 1`` rows, the
    rest ``N div tiles`` — SQL-standard ntile, byte-identical to the
    window function given a total order."""
    if tiles < 1:
        raise ValueError("tiles must be >= 1")
    rn, n, t = rank_col, size_col, tiles
    return F.expr(f"""
        CASE WHEN {rn} <= ({n} % {t}) * ({n} div {t} + 1)
             THEN ({rn} + {n} div {t}) div ({n} div {t} + 1)
             ELSE {n} % {t}
                  + ({rn} - ({n} % {t}) * ({n} div {t} + 1)
                     + {n} div {t} - 1) div ({n} div {t})
        END""").cast("long")


def bucketed_exact_percentiles(df: DataFrame, part_cols: list[str],
                               value_col: str,
                               percentages: list[float],
                               n_buckets: int = 512,
                               out_prefix: str = "pv") -> DataFrame:
    """EXACT interpolated percentiles per group, two-phase — the
    scale-safe replacement for ``percentile(value, p)`` when groups
    are corpus-sized (r14 optimization, guide §2.3/§2.5): Spark's
    exact ``percentile`` aggregate ships EVERY value into a per-group
    OpenHashMap buffer, so a 100 TB column funnels through as many
    tasks as there are groups and the buffer is O(distinct values).
    Here nothing bigger than a (group x bucket) count ever shuffles:

    - phase 1 range-buckets on ``floor(value)`` (``add_range_bucket``
      — deterministic boundaries from one broadcast min/max row, and
      a monotone non-decreasing image of the value order, so bucket
      prefix counts + local ranks = exact global ranks), counts per
      (group, bucket), and prefix-sums the tiny summary;
    - phase 2 computes, per group and percentage, Spark's own target
      position ``pos = p * (n - 1)`` and the two neighbor ranks
      ``floor(pos)+1`` / ``ceil(pos)+1``, locates the ONE bucket
      holding each rank on the summary frame, broadcast-semi-joins
      the base data down to just those buckets (<= 2 per percentage
      per group, ~n/n_buckets rows each), ranks them in bounded
      (group, bucket) windows, and picks the two neighbor values;
    - interpolation replicates ``Percentile.getPercentile``
      bit-for-bit: ``v_lo`` when ``floor(pos) == ceil(pos)`` OR the
      neighbor values are equal (Spark early-returns BEFORE the
      arithmetic — ``a*v + b*v`` with ``a+b == 1`` need not round
      back to ``v``), else
      ``(ceil(pos) - pos) * v_lo + (pos - floor(pos)) * v_hi``.

    Output: one row per group, columns ``part_cols`` +
    ``{out_prefix}{i}`` per percentage (doubles, bit-identical to
    ``percentile(value, p_i)``) — including, since r15, the NULL row
    the aggregate emits for an all-NULL group (NULL-value rows ride
    phase 1 in a sentinel bucket with zero rank weight, so matching
    the aggregate's contract costs no extra pass). NaN values are
    OUT OF CONTRACT (a NaN floor image cannot be bucketed
    consistently — ``floor(NaN)`` is silently 0 in non-ANSI mode)
    and now FAIL LOUDLY with a per-row raise instead of silently
    mis-bucketing (r14 verdict #5 / ADVICE); callers with NaN keep
    the aggregate. Group columns may be NULL: grouping, joins, and
    equality all run on ONE struct of the group fields (complex-type
    equality treats NULL fields as equal — the
    operators/sessionize.py trick).
    """
    from pyspark.sql import Window as W
    if not part_cols:
        raise ValueError("part_cols must name at least one column")
    v = F.col(value_col)
    d = (df.select(F.struct(*[F.col(c).alias(f"p{i}")
                              for i, c in enumerate(part_cols)]).alias("__pp"),
                   v.cast("double").alias("__v"))
         .withColumn(
             "__v",
             F.when(F.isnan("__v"), F.raise_error(F.lit(
                 "bucketed_exact_percentiles: NaN values are out of"
                 " contract (floor(NaN) mis-buckets silently in"
                 " non-ANSI mode) — filter NaN or use the percentile"
                 " aggregate")).cast("double"))
             .otherwise(F.col("__v")))
         .withColumn("__k", F.floor("__v").cast("long")))
    # NULL values keep flowing (sentinel bucket -1, zero rank weight)
    # so a group whose values are ALL NULL still surfaces in the
    # summary and gets the aggregate's NULL output row.
    b = (add_range_bucket(d, "__k", n_buckets)
         .withColumn("__rb", F.when(F.col("__v").isNull(), F.lit(-1))
                     .otherwise(F.col("__rb"))))
    cnt = b.groupBy("__pp", "__rb").agg(F.count("*").alias("__c"))
    wexc = (W.partitionBy("__pp").orderBy("__rb")
            .rowsBetween(W.unboundedPreceding, -1))
    ranked_c = F.when(F.col("__rb") >= 0, F.col("__c")).otherwise(F.lit(0))
    offs = cnt.select(
        "__pp", "__rb", "__c",
        F.coalesce(F.sum(ranked_c).over(wexc), F.lit(0)).alias("__off"),
        F.sum(ranked_c).over(W.partitionBy("__pp")).alias("__n"))
    pcts = F.array(*[F.struct(F.lit(i).alias("pi"),
                              F.lit(float(p)).alias("pct"))
                     for i, p in enumerate(percentages)])
    tgt = (offs.select("__pp", "__n").distinct()
           .select("__pp", F.explode(pcts).alias("__t"),
                   F.col("__n"))
           # Spark's Percentile: position = percentage * (count - 1)
           .select("__pp", F.col("__t.pi").alias("__pi"),
                   (F.col("__t.pct") * (F.col("__n") - 1).cast("double"))
                   .alias("__pos"))
           .select("__pp", "__pi", "__pos",
                   F.floor("__pos").alias("__lo"),
                   F.ceil("__pos").alias("__hi")))
    # An all-NULL group (n = 0) has pos = -p: at p = 1.0 both neighbor
    # ranks would be 0 and locate no bucket, dropping the group.
    # Clamping to rank 1 lands on the NULL sentinel bucket (the
    # aggregate's NULL answer); for n >= 1, pos >= 0 and it is a no-op.
    ranks = tgt.select(
        "__pp", "__pi", "__pos", "__lo", "__hi",
        F.explode(F.array_distinct(F.array(
            F.greatest(F.col("__lo") + 1, F.lit(1)),
            F.greatest(F.col("__hi") + 1, F.lit(1))))).alias("__rank"))
    located = (ranks.join(offs, "__pp")
               .where((F.col("__off") < F.col("__rank"))
                      & (F.col("__rank") <= F.col("__off") + F.col("__c"))))
    need = located.select("__pp", "__rb", "__off").distinct()
    picked = (b.join(F.broadcast(need), ["__pp", "__rb"])
              .withColumn("__gr", F.col("__off") + F.row_number().over(
                  W.partitionBy("__pp", "__rb").orderBy("__v"))))
    sel = located.select(F.col("__pp").alias("__tp"), "__pi", "__pos",
                         "__lo", "__hi", "__rank")
    hits = picked.join(
        F.broadcast(sel),
        (F.col("__pp") == F.col("__tp")) & (F.col("__gr") == F.col("__rank")))
    res = (hits.groupBy("__tp", "__pi", "__pos", "__lo", "__hi")
           .agg(F.min(F.when(F.col("__rank") == F.col("__lo") + 1,
                             F.col("__v"))).alias("__vlo"),
                F.min(F.when(F.col("__rank") == F.col("__hi") + 1,
                             F.col("__v"))).alias("__vhi"))
           .select("__tp", "__pi",
                   F.when((F.col("__lo") == F.col("__hi"))
                          | (F.col("__vlo") == F.col("__vhi")),
                          F.col("__vlo"))
                   .otherwise(
                       (F.col("__hi").cast("double") - F.col("__pos"))
                       * F.col("__vlo")
                       + (F.col("__pos") - F.col("__lo").cast("double"))
                       * F.col("__vhi")).alias("__pv")))
    return (res.groupBy("__tp")
            .agg(*[F.min(F.when(F.col("__pi") == i, F.col("__pv")))
                   .alias(f"{out_prefix}{i}")
                   for i in range(len(percentages))])
            .select(*[F.col("__tp").getField(f"p{i}").alias(c)
                      for i, c in enumerate(part_cols)],
                    *[f"{out_prefix}{i}"
                      for i in range(len(percentages))]))
