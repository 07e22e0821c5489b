"""Source layer: parquet-backed warehouse tables as temp views.

The reference's warehouse is a single DuckDB file whose tables are
created by CSV ingestion (reference src/route/namespace_table.py:
104-108). Our warehouse is a directory of parquet files (the driver
testdata layout, TESTDATA.md) registered as session views — the
Spark-native equivalent of "one file = the warehouse".

Scale notes: parquet scans get predicate pushdown + column pruning
from Catalyst for free once the query is declarative; at 100 TB the
same views would point at partitioned parquet/Delta directories and
nothing above this layer changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Columns stored as parquet TIMESTAMP(NANOS), which Spark reads as a
# long (spark.sql.legacy.parquet.nanosAsLong) — rebuilt to microsecond
# timestamps here, matching DuckDB's nanos->micros truncation so the
# correctness oracle sees identical instants.
_NANOS_TS_COLUMNS = {"events": ("ts",)}


# Warm-table registry: (applicationId, sf_dir, name) -> DataFrame.
# Populated by warm_tables(); load_table returns the warm copy when
# present, so repeated queries against the same sf_dir reuse one
# analyzed (and optionally memory-persisted) plan instead of
# re-listing parquet and re-probing partitioning every call. This is
# the local-mode analogue of a cluster's long-lived table catalog +
# buffer cache; correctness paths never require it.
_WARM: dict[tuple[str, str, str], DataFrame] = {}


def warm_tables(spark: SparkSession, sf_dir: str,
                tables: tuple[str, ...] = TESTDATA_TABLES,
                persist: bool = True) -> None:
    """Pre-load every table once. Two modes:

    ``persist=False`` (the bench mode since r14): PLAN-only warming —
    memoize each table's analyzed frame so repeated queries skip
    re-listing parquet and re-probing schemas (driver bookkeeping),
    while every execution still scans the parquet files. No data is
    cached and no layout repartition is injected, so a warmed frame
    plans exactly like the cold ``load_table`` path. This is the mode
    benchmarks must use: timed runs compute from the inputs
    (BENCH.md r14 change-log entry has the same-commit A/B).

    ``persist=True``: additionally materialize the SPREAD layout into
    the block-manager cache — the state of a cluster whose buffer
    cache holds the working set with properly-sized splits. Probes
    that isolate NON-scan costs (straggler sweep, fair-pool overlap)
    use it; the graded bench does not. Idempotent per (app, sf_dir).
    """
    app = spark.sparkContext.applicationId
    for name in tables:
        key = (app, sf_dir, name)
        got = _WARM.get(key)
        if got is not None:
            # r14 ADVICE: the memo used to ignore the persist flag, so
            # a persist=True call after a plan-only warm silently
            # no-opped and probes expecting cached tables measured
            # unpersisted scans. A plan-only entry is now UPGRADED to
            # the persisted layout when persist=True asks for it; the
            # reverse (plan-only after persisted) keeps the persisted
            # frame — persist=True probes opted into cache semantics
            # for the whole session.
            already = (got.storageLevel.useMemory
                       or got.storageLevel.useDisk)
            if not persist or already:
                continue
            _WARM.pop(key)
        if persist:
            # Persist the SPREAD layout: the testdata files are single
            # row-group (1 partition); caching them pre-repartitioned
            # means every downstream spread() is a no-op and parallel
            # stages start parallel.
            df = spread(load_table(spark, sf_dir, name)).persist()
            df.count()
        else:
            df = load_table(spark, sf_dir, name)
        _WARM[key] = df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one warehouse table from ``{sf_dir}/{name}.parquet``."""
    # The warehouse contract is UTC (reference stores UTC; the DuckDB
    # oracle reads parquet naive timestamps as naive-UTC). The NTZ
    # normalization below re-labels naive instants in the SESSION
    # timezone, so pin it here — runtime-settable, and required even
    # on sessions we did not build (e.g. the driver's own session).
    # Pinned on BOTH the warm and cold paths: the NTZ->LTZ cast is
    # lazy, so a caller that reset the session timezone after the
    # cold load would otherwise re-label cached frames' naive
    # instants under the new zone at execution time.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    warm = _WARM.get((spark.sparkContext.applicationId, sf_dir, name))
    if warm is not None:
        return warm
    if name in _NANOS_TS_COLUMNS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANOS_TS_COLUMNS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, T.LongType):
            # Integer `div`, not F.floor(col/1000): the latter routes
            # through double, whose 256ns ulp at 2024-epoch nanosecond
            # magnitudes shifts ~1.6% of instants by 1us vs DuckDB's
            # exact truncation.
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return _normalize_ntz(df)


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to session-TZ TIMESTAMP.

    Parquet naive timestamps (isAdjustedToUTC=false) land as
    TIMESTAMP_NTZ in Spark 4, a type unix_millis/withWatermark/epoch
    casts all reject. The session timezone is pinned to UTC
    (session.py), so this cast relabels the same wall-clock instant —
    it is the one place the whole engine pays the NTZ migration;
    everything downstream may assume TIMESTAMP.
    """
    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, T.TimestampNTZType)]
    for col in ntz:
        df = df.withColumn(col, F.col(col).cast("timestamp_ltz"))
    return df


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions for CPU-parallel map work.

    The driver testdata ships single-row-group parquet files, which
    Spark cannot split — every downstream map stage would run on one
    core. A round-robin repartition (cheap: one pass over the rows)
    unlocks the full local[N] parallelism for expression-heavy
    operators (shingling, simhash, regex scoring). On a real cluster
    reading properly-sized files this is a no-op: the probe (and the
    repartition) is gated to local masters, so cluster plans never pay
    the `.rdd` lineage materialization the probe requires.
    """
    sc = df.sparkSession.sparkContext
    if not _is_local(df.sparkSession):
        return df
    target = min_partitions or sc.defaultParallelism
    # The .rdd partition probe builds a fresh JVM RDD lineage per
    # call — measured 4-13 ms of driver bookkeeping (13 ms on the
    # events table, whose NTZ/nanos rebuild makes the conversion
    # plan bigger). DataFrames are immutable, so memoize the probe
    # result on the object: the long-lived warm frames every query
    # reads (warm_tables) then pay it once per process instead of
    # once per invocation. Derived frames get a fresh probe, as
    # before.
    n = getattr(df, "_graft_npart", None)
    if n is None:
        n = df.rdd.getNumPartitions()
        try:
            df._graft_npart = n
        except AttributeError:  # pragma: no cover — slotted impl
            pass
    if n * 2 <= target:
        return df.repartition(target)
    return df


def _is_local(spark: SparkSession) -> bool:
    """True on a ``local[...]`` master. Outside ``session.get_spark``
    this is the only local-vs-cluster test in the package."""
    return spark.sparkContext.master.startswith("local")


def materialize_auto(df: DataFrame) -> DataFrame:
    """Share a frame that feeds multiple downstream subtrees without
    recomputing it per consumer — the single sharing gate: no other
    module picks checkpoint or persist for a shared frame. Lazy
    localCheckpoint on local masters (cheapest; executor-local
    blocks), recomputable MEMORY_AND_DISK persist on clusters (an
    executor loss under dynamic allocation must not fail the job — a
    localCheckpoint has no recompute path, so losing its blocks kills
    the query). Iteration state that must cut its lineage every round
    uses ``truncate_lineage`` instead.

    KNOWN CLUSTER-MODE LEAK (r14 ADVICE, accepted trade-off): the
    cluster path never unpersists, so each invocation of a query
    built on this gate leaves one CacheManager entry behind (LRU
    eviction reclaims the blocks under pressure; the entry itself
    lives until the session ends). Callers returning lazy frames
    have no post-action hook to unpersist from; a long-lived cluster
    service that re-invokes such queries should periodically call
    ``spark.catalog.clearCache()`` between requests. Local masters
    (every bench/probe path) take the localCheckpoint branch and do
    not leak — the r14 bench de-gaming covered exactly that path."""
    if _is_local(df.sparkSession):
        return df.localCheckpoint(eager=False)
    from pyspark import StorageLevel
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + STATS REBASE for iterative loops.

    Spark 4's ``Dataset.checkpoint`` truncates lineage but carries
    the pre-checkpoint plan's *estimated* statistics into the new
    ``LogicalRDD`` (``LogicalRDD.rewriteStatsAndConstraints``,
    computed on the analyzed plan — persisting does not intercept
    it). In a loop that checkpoints every round, the estimate is the
    size-PRODUCT of the round's joins over the previous round's
    inherited estimate, so the BigInt ``sizeInBytes`` multiplies its
    digit count by the join fan-in every round; by round ~11
    Catalyst's stats visitor spends minutes inside
    ``BigInteger.multiplyToomCook3`` (measured in BPE training:
    rebuild 0.7s -> 8.8s -> 85s on rounds 9/10/11). Rebasing the
    checkpointed RDD through ``createDataFrame`` builds a LogicalRDD
    with NO inherited stats — constant-size estimates every round —
    at the cost of a per-read InternalRow->Row conversion, linear in
    the (vocab/vertex-sized) iteration state.

    Use for ROUND-STATE frames in iterative algorithms (BPE, label
    propagation, PageRank). One-shot checkpoint sharing inside a
    single query doesn't compound and doesn't need this.
    """
    ck = df.localCheckpoint(eager=eager)
    jdf = ck._jdf  # noqa: SLF001 — JVM-level stats rebase
    return DataFrame(
        df.sparkSession._jsparkSession.createDataFrame(  # noqa: SLF001
            jdf.javaRDD(), jdf.schema()),
        df.sparkSession)


def register_testdata(spark: SparkSession, sf_dir: str,
                      tables: tuple[str, ...] = TESTDATA_TABLES) -> None:
    """Register every warehouse table as a temp view named after it.

    Idempotent; re-registering against a different sf_dir repoints
    the views (used by tests that move between scale factors).
    """
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
