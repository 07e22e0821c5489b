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

import functools
import os
from collections.abc import Iterator
from contextlib import contextmanager

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


def read_parquet(spark: SparkSession, paths: str | list[str],
                 schema: str | None = None) -> DataFrame:
    """The package's one parquet read. Spark infers a missing schema
    with a job per read; here it comes from metadata: the caller's
    DDL ``schema`` (versioned tables pass their manifest's), else the
    footer of the first data file in path order — the file Spark's
    non-merging inference reads. Paths the driver cannot list (object
    stores, globs, missing paths) and footers with no Spark mapping
    fall back to Spark's inference."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    if not schema:
        first = next((f for p in paths for f in _data_files(p)), None)
        footer = None
        if first is not None:
            st = os.stat(first)
            footer = _footer_schema(first, st.st_mtime_ns, st.st_size)
        if footer is None:
            return spark.read.parquet(*paths)
        schema, nanos = footer
        if nanos:  # runtime-settable: holds on sessions we did not build
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.schema(schema).parquet(*paths)


def _data_files(path: str):
    """Files Spark lists under ``path``, in path order: ``.``/``_``
    names (``_SUCCESS``, ``.crc``) are hidden, ``k=v`` dirs are not."""
    def shown(n: str) -> bool:
        return not (n[0] == "." or (n[0] == "_" and "=" not in n))
    if os.path.isfile(path):
        yield path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(filter(shown, dirs))
        yield from (os.path.join(root, f)
                    for f in sorted(filter(shown, files)))


@functools.lru_cache(maxsize=1024)
def _footer_schema(path: str, mtime_ns: int, size: int
                   ) -> tuple[T.StructType, bool] | None:
    """(schema Spark 4 infers for one parquet file, whether it holds
    TIMESTAMP(NANOS)), from the footer; memoized on file identity.
    Naive timestamps are NTZ, INT96 is TIMESTAMP, and NANOS is a long
    (``spark.sql.legacy.parquet.nanosAsLong``). None when a column
    has no Spark mapping."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    pf = pq.ParquetFile(path)
    int96 = {c.path for c in pf.schema if c.physical_type == "INT96"}
    fields, nanos = [], False
    for f in pf.schema_arrow:
        if f.name in int96:
            dt = T.TimestampType()
        elif pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            dt, nanos = T.LongType(), True
        else:
            try:
                dt = from_arrow_type(f.type, prefer_timestamp_ntz=True)
            except TypeError:  # e.g. unsigned or float16 columns
                return None
        fields.append(T.StructField(f.name, dt, f.nullable))
    return T.StructType(fields), nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one warehouse table from ``{sf_dir}/{name}.parquet``."""
    # The warehouse contract is UTC (reference stores UTC; the DuckDB
    # oracle reads parquet naive timestamps as naive-UTC). The NTZ
    # normalization below re-labels naive instants in the SESSION
    # timezone, so pin it here — runtime-settable, and required even
    # on sessions we did not build (e.g. the driver's own session).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
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
    # the .rdd partition probe costs 4-13 ms of driver bookkeeping
    # per call (a fresh JVM RDD lineage); no job
    n = df.rdd.getNumPartitions()
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
    ``spark.catalog.clearCache()`` between requests. Callers that run
    every action themselves use ``materialized`` instead, which
    releases on exit. Local masters (every bench/probe path) take
    the localCheckpoint branch and do not leak — the r14 bench
    de-gaming covered exactly that path."""
    if _is_local(df.sparkSession):
        return df.localCheckpoint(eager=False)
    from pyspark import StorageLevel
    return df.persist(StorageLevel.MEMORY_AND_DISK)


@contextmanager
def materialized(df: DataFrame) -> Iterator[DataFrame]:
    """``materialize_auto(df)`` for the scope of a ``with`` block whose
    actions are the frame's only consumers; on exit the cluster
    branch's persist is released (a no-op for the local branch, whose
    checkpoint blocks go with its RDD)."""
    shared = materialize_auto(df)
    try:
        yield shared
    finally:
        shared.unpersist()


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
