"""Source-layer invariants (sources/registry.py).

The load-bearing one: no table the registry hands out may expose a
TIMESTAMP_NTZ column. Spark 4 reads parquet naive timestamps as NTZ,
a type that unix_millis(), withWatermark() and epoch casts all
reject — rounds 3 and 4 each re-paid that bug one call site at a
time. The registry now normalizes NTZ -> session-TZ TIMESTAMP once
at load (registry._normalize_ntz); this test pins the invariant for
every warehouse table so the bug class cannot resurface downstream.
"""
from __future__ import annotations

from pyspark.sql import types as T

from data_platform_copilot_spark.sources.registry import (
    TESTDATA_TABLES, load_table)


def test_no_registered_table_exposes_ntz(spark, sf_dir):
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        ntz = [f.name for f in df.schema.fields
               if isinstance(f.dataType, T.TimestampNTZType)]
        assert not ntz, f"{name} exposes TIMESTAMP_NTZ columns: {ntz}"


def test_events_ts_is_session_tz_timestamp(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_streaming_source_dtype_matches_batch(spark, sf_dir):
    from data_platform_copilot_spark.streaming.events import (
        streaming_events_source)
    stream = streaming_events_source(spark, sf_dir)
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_nanos_timestamps_truncate_alike_in_batch_and_stream(spark, tmp_path):
    # No warehouse stores events.ts as TIMESTAMP(NANOS), so this
    # fixture is what exercises the footer's nanos -> long mapping
    # and the integer-`div` repair behind it.
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_platform_copilot_spark.streaming.events import (
        streaming_events_source)
    ns = [1_700_000_000_123_456_789, 1_700_000_000_999_999_999,
          1_712_345_678_000_000_001, 1_712_345_678_000_000_999]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(ns)), pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet", version="2.6",
        coerce_timestamps=None)
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type \
        == pa.timestamp("ns")
    want = sorted(v // 1000 for v in ns)

    batch = load_table(spark, str(tmp_path), "events")
    assert sorted(r[0] for r in batch.select(
        F.unix_micros("ts")).collect()) == want

    stream = streaming_events_source(spark, str(tmp_path))
    q = (stream.select(F.unix_micros("ts").alias("us"))
         .writeStream.format("memory").queryName("nanos_events").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r[0] for r in spark.table("nanos_events").collect()) \
        == want


def test_parquet_is_read_only_through_read_parquet():
    # read_parquet is the one place a parquet schema is decided (from
    # metadata, never by a Spark inference job); every other read in
    # the package must go through it
    import ast
    from pathlib import Path

    import data_platform_copilot_spark as pkg
    root = Path(pkg.__file__).parent
    registry = root / "sources" / "registry.py"
    helper = next(n for n in ast.walk(ast.parse(registry.read_text()))
                  if isinstance(n, ast.FunctionDef)
                  and n.name == "read_parquet")
    inside = {(registry, i)
              for i in range(helper.lineno, helper.end_lineno + 1)}
    hits = [f"{path.relative_to(root)}:{i}"
            for path in sorted(root.rglob("*.py"))
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if ".read.parquet(" in line and (path, i) not in inside]
    assert not hits, f"parquet reads outside read_parquet: {hits}"
