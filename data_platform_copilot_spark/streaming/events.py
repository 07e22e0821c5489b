"""Structured Streaming over the events table.

The reference has no streaming at all (SURVEY.md §2.C) — its events
table is batch-profiled only. This module provides the streaming
twin of the batch time-series queries: the same tumbling-window
aggregation expressed as ``readStream -> withWatermark -> groupBy
(window) -> writeStream``, plus session windows.

Local smoke strategy (per public Spark docs): a bounded parquet
directory as the stream source, memory sink, processAllAvailable()
— the streaming answer must equal the batch answer, asserted in
tests/test_streaming.py.

Scale notes: in production the source is Kafka/object-store
autoloader; the watermark bounds state (late events beyond 1 hour
are dropped), and the shuffle keys on (window, event_type) exactly
like the batch plan. ``complete`` mode is used for the bounded smoke
(append would hold back the final, still-open window); real
deployments use append + downstream upsert.
"""

from __future__ import annotations

import hashlib
import tempfile
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.core import rnd
from ..sources.registry import load_table, read_parquet


def _slot(sf_dir: str) -> str:
    """Stable per-sf_dir staging slot id. ``hash(str)`` is salted per
    interpreter (PYTHONHASHSEED), so it only deduplicates staging dirs
    in-process — every new process would leak another staged copy of
    the table under /tmp; a content digest reuses one slot across
    processes."""
    return hashlib.sha1(sf_dir.encode()).hexdigest()[:12]


def _stage_atomically(target: Path, write_to) -> None:
    """Publish an immutable staged dataset at ``target`` safely across
    processes sharing the slot: write to a unique sibling tmp dir,
    then atomically rename into place. A racer that loses the rename
    simply uses the winner's (identical, content-stable) copy — no
    process ever writes INTO ``target`` directly, so readers can
    never observe a torn directory (r10 review: the bare
    exists-then-overwrite had a write/write race once slots became
    cross-process).

    Legacy torn copies (pre-atomic code wrote INTO the slot and could
    die mid-write, leaving no _SUCCESS) are cleared at rename-failure
    time by STEALING the occupant — rename it aside to a unique name
    first, then inspect it. Exactly one racer wins the steal, so no
    two processes ever delete the same path, and if the stolen dir
    turns out COMPLETE (a publish landed in the check window — the
    r10 third-review TOCTOU), it is renamed straight back instead of
    deleted, preserving the part-file paths a concurrent reader may
    already have listed. Persistent failure raises instead of
    silently leaving the slot empty."""
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    tmp = target.with_name(f"{target.name}.tmp-{_uuid.uuid4().hex[:8]}")
    write_to(str(tmp))
    last: OSError | None = None
    for _ in range(3):
        try:
            _os.rename(tmp, target)
            return
        except OSError as exc:
            last = exc
            if (target / "_SUCCESS").exists():
                _shutil.rmtree(tmp, ignore_errors=True)
                return  # a racer published a complete copy: use theirs
            stolen = target.with_name(
                f"{target.name}.dead-{_uuid.uuid4().hex[:8]}")
            try:
                _os.rename(target, stolen)
            except OSError:
                continue  # another racer stole it (or it vanished)
            if (stolen / "_SUCCESS").exists():
                # raced a publish between the check and the steal:
                # restore the complete copy, byte- and path-identical
                try:
                    _os.rename(stolen, target)
                    _shutil.rmtree(tmp, ignore_errors=True)
                    return
                except OSError:
                    pass  # someone republished meanwhile: ours retries
            _shutil.rmtree(stolen, ignore_errors=True)  # legacy torn
    _shutil.rmtree(tmp, ignore_errors=True)
    raise RuntimeError(
        f"could not publish staged dataset at {target}") from last


def _vsink_run_workspace(root: Path, prefix: str) -> Path:
    """Fresh per-process run dir ``<root>/<prefix>_<pid>`` inside a
    shared slot, plus a sweep of DEAD processes' run dirs (any
    prefix): a dir is collected only when its owning pid is not alive
    (``os.kill(pid, 0)``; slots are machine-local so pid liveness is
    decisive) AND it is over an hour old (guards pid reuse and
    just-started owners). mtime alone is NOT proof of death — a
    long-running stream never touches its run dir's mtime after
    start (r10 third review)."""
    import os as _os
    import shutil as _shutil
    import time as _time

    run = root / f"{prefix}_{_os.getpid()}"
    _shutil.rmtree(run, ignore_errors=True)
    now = _time.time()
    for stale in root.glob("run*_*"):
        if stale == run:
            continue
        try:
            pid = int(stale.name.rsplit("_", 1)[1])
            _os.kill(pid, 0)
        except (ValueError, ProcessLookupError):
            try:
                if now - stale.stat().st_mtime >= 3600.0:
                    _shutil.rmtree(stale, ignore_errors=True)
            except OSError:
                pass  # racing sweeper: someone else handled it
        except PermissionError:
            pass  # pid alive under another user: leave it
    return run


def streaming_events_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a streaming source (schema from a batch peek).

    The nanos->micros repair from sources/registry.py is re-applied:
    the stream reads the raw long nanos column.
    """
    batch = load_table(spark, sf_dir, "events")
    raw_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    # FileStreamSource requires a directory; testdata ships one file.
    # Stage a symlink dir (no data copy) under /tmp.
    stage = Path(tempfile.gettempdir()) / f"stream_events_{_slot(sf_dir)}"
    stage.mkdir(exist_ok=True)
    link = stage / "events.parquet"
    if not link.exists():
        try:
            link.symlink_to(f"{sf_dir}/events.parquet")
        except FileExistsError:
            pass  # cross-process slot: a racer created the same link
    stream = (spark.readStream.schema(raw_schema)
              .parquet(str(stage)))
    if dict(stream.dtypes).get("ts") == "bigint":
        # Integer div, matching sources/registry.py exactly (double
        # division drifts 1us on ~1.6% of nanosecond instants).
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(stream.dtypes).get("ts") == "timestamp_ntz":
        # Same normalization as sources/registry._normalize_ntz:
        # withWatermark rejects NTZ event time
        # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); session TZ is UTC so
        # the cast relabels the identical instant.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    assert dict(stream.dtypes)["ts"] == dict(batch.dtypes)["ts"]
    return stream


def run_streaming_tumbling_agg(spark: SparkSession, sf_dir: str,
                               window: str = "1 hour",
                               watermark: str = "1 hour") -> DataFrame:
    """Tumbling-window count/sum per event_type, run to completion on
    the bounded source; returns the final result as a batch DataFrame
    with the same shape as queries/timeseries.tumbling_window_1h."""
    stream = streaming_events_source(spark, sf_dir)
    agg = (
        stream
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             rnd(F.sum("value"), 2).alias("total_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"),
                "event_type", "n", "total_value")
    )
    name = f"stream_tumbling_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def run_streaming_hopping_agg(spark: SparkSession, sf_dir: str,
                              size: str = "1 hour", hop: str = "15 minutes",
                              watermark: str = "1 hour") -> DataFrame:
    """Hopping (sliding) window count/sum per event_type — the
    streaming twin of queries/timeseries.hopping_window_15m. Spark
    replicates each event into size/hop windows BEFORE the keyed
    state update, so state size scales with open windows x groups,
    bounded by the watermark exactly as for tumbling windows."""
    stream = streaming_events_source(spark, sf_dir)
    agg = (
        stream
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, hop).alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             rnd(F.sum("value"), 2).alias("total_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"),
                "event_type", "n", "total_value")
    )
    name = f"stream_hopping_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def run_streaming_sessionization(spark: SparkSession, sf_dir: str,
                                 gap: str = "30 minutes",
                                 watermark: str = "1 hour") -> DataFrame:
    """Session windows (native session_window — the streaming-stateful
    equivalent of the batch gap-sessionization query): per (user,
    session) event counts and duration."""
    stream = streaming_events_source(spark, sf_dir)
    agg = (
        stream
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
                F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
                "n_events")
    )
    name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def run_streaming_dedup(spark: SparkSession, sf_dir: str,
                        keys: tuple[str, ...] = ("user_id", "event_type"),
                        watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: ``withWatermark +
    dropDuplicatesWithinWatermark`` — the continuous-ingest twin of the
    batch exact-dedup operator.

    Plain ``dropDuplicates(keys)`` only evicts state when the
    event-time column is part of the dedup subset; with keys alone its
    state grows forever on an unbounded stream.
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+) keeps one state row
    per key and drops it once the watermark passes the key's horizon —
    bounded state at 100 TB/day, at the cost that a key recurring more
    than ``watermark`` after its first arrival is emitted again (the
    documented within-horizon guarantee; eviction is pinned by
    tests/test_streaming.py::test_streaming_dedup_state_eviction).
    Append mode: each within-horizon first-arrival is emitted once."""
    stream = streaming_events_source(spark, sf_dir)
    deduped = (stream
               .withWatermark("ts", watermark)
               .dropDuplicatesWithinWatermark([*keys])
               .select(*keys, "ts"))
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (deduped.writeStream.outputMode("append")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def run_streaming_enriched_agg(spark: SparkSession, sf_dir: str,
                               watermark: str = "1 hour") -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    dimension (no state, no watermark needed on the static side —
    Spark re-plans the dim per micro-batch, which at scale is the
    broadcast-refresh pattern for slowly-changing lookups), then
    aggregates per enriched group. Returns the final result of the
    bounded run."""
    stream = streaming_events_source(spark, sf_dir)
    # deterministic user->segment dimension (derived, engine-free)
    dim = (spark.range(100_000)
           .select(F.col("id").alias("user_id"),
                   F.concat(F.lit("seg_"), (F.col("id") % 4))
                   .alias("segment")))
    agg = (
        stream
        .withWatermark("ts", watermark)
        .join(dim, "user_id")
        .groupBy(F.window("ts", "6 hours").alias("w"), "segment")
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "segment", "n")
    )
    name = f"stream_enriched_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def streaming_documents_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a streaming source (same staged-symlink
    trick as the events source; documents carry no timestamps, so no
    type repair is needed)."""
    schema = read_parquet(spark, f"{sf_dir}/documents.parquet").schema
    stage = Path(tempfile.gettempdir()) / f"stream_docs_{_slot(sf_dir)}"
    stage.mkdir(exist_ok=True)
    link = stage / "documents.parquet"
    if not link.exists():
        try:
            link.symlink_to(f"{sf_dir}/documents.parquet")
        except FileExistsError:
            pass  # cross-process slot: a racer created the same link
    return spark.readStream.schema(schema).parquet(str(stage))


def run_streaming_decontamination(spark: SparkSession, sf_dir: str,
                                  n: int = 13) -> DataFrame:
    """Streaming benchmark decontamination: documents arrive as a
    stream and join the STATIC eval n-gram fingerprint set (the
    GPT-3 13-gram rule of operators/quality.decontaminate, applied
    as data lands instead of in a batch sweep — the shape of a
    production ingest gate that quarantines contaminated docs before
    they reach the training corpus).

    Stream-static broadcast join: the eval gram set is
    benchmark-sized and static, so every micro-batch pays one
    broadcast-hash probe per gram, no stateful operator and no
    watermark needed (per-doc counts are a stateless per-batch
    aggregation here because each doc's grams arrive in its one
    micro-batch row). Equality with the batch operator is asserted
    in tests/test_streaming.py.
    """
    from ..operators.dedup import shingle_array

    docs_batch = load_table(spark, sf_dir, "documents")
    eval_df = docs_batch.where(F.col("doc_id") % 97 == 0)
    eval_fps = (eval_df.select(F.explode(
        shingle_array(F.col("text"), n)).alias("shingle"))
        .select(F.md5("shingle").alias("fp")).distinct())

    stream = streaming_documents_source(spark, sf_dir)
    hits = (stream
            .select("doc_id",
                    F.explode(shingle_array(F.col("text"), n))
                    .alias("shingle"))
            .select("doc_id", F.md5("shingle").alias("fp"))
            .join(F.broadcast(eval_fps), "fp")
            .groupBy("doc_id").agg(F.count("*").alias("n_hit_ngrams")))
    name = f"stream_decon_{uuid.uuid4().hex[:8]}"
    q = (hits.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def run_streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: the CURRENT window's value
    distribution accumulates from the live event stream (running
    per-bin counts — the stateful part a production monitor keeps),
    while the REFERENCE window's distribution and the bin bounds are
    static batch state. The PSI epilogue over the 10 running bins is
    a constant-space batch step on the monitor's state table.

    Produces bit-identical rows to the batch ``drift_psi_value``
    entry (same bounds, same bins, same 1e-4 clamp), so the same
    DuckDB oracle value-verifies the streaming path end to end.
    """
    from ..queries.core import rnd

    cutoff = F.lit("2024-01-16").cast("timestamp")
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    bin_of = F.least(F.lit(9), F.greatest(F.lit(0), F.floor(
        (F.col("value") - F.col("lo")) * 10.0
        / (F.col("hi") - F.col("lo"))).cast("int"))).alias("bin")
    ref = (ev.where(F.col("ts") < cutoff)
           .join(F.broadcast(bounds))
           .select(bin_of)
           .groupBy("bin").agg(F.count("*").alias("n_ref")))

    stream = streaming_events_source(spark, sf_dir)
    cur_stream = (stream.where(F.col("ts") >= cutoff)
                  .join(F.broadcast(bounds))
                  .select(bin_of)
                  .groupBy("bin").agg(F.count("*").alias("n_cur")))
    name = f"stream_psi_{uuid.uuid4().hex[:8]}"
    q = (cur_stream.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    cur = spark.table(name)

    counts = (ref.join(cur, "bin", "full")
              .select("bin",
                      F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
                      F.coalesce("n_cur", F.lit(0)).alias("n_cur")))
    tot = counts.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    p = F.greatest(F.col("n_ref") / F.col("tr"), F.lit(0.0001))
    qq = F.greatest(F.col("n_cur") / F.col("tc"), F.lit(0.0001))
    return (counts.crossJoin(F.broadcast(tot))
            .select(F.col("bin").cast("long").alias("bin"),
                    rnd(p, 6).alias("p_ref"),
                    rnd(qq, 6).alias("p_cur"),
                    rnd((p - qq) * F.log(p / qq), 6).alias("psi_term")))


def run_streaming_trending_types(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Trending event types per hour from the live stream: the
    stream maintains (hour, type) counts (complete-mode windowed
    aggregation — the monitor's running state); the top-3 rank per
    hour is a |hours|x|types|-row batch epilogue over that state.
    Same rows as the batch twin, so one oracle verifies both."""
    from pyspark.sql import Window as W

    stream = streaming_events_source(spark, sf_dir)
    counts = (stream
              .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count("*").alias("n")))
    name = f"stream_trend_{uuid.uuid4().hex[:8]}"
    q = (counts.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = spark.table(name)
    rk = W.partitionBy("w").orderBy(F.desc("n"), "event_type")
    return (state
            .withColumn("rnk", F.row_number().over(rk).cast("long"))
            .where(F.col("rnk") <= 3)
            .select(F.date_format(F.col("w.start"),
                                  "yyyy-MM-dd HH:mm:ss")
                    .alias("hour_start"),
                    "event_type", F.col("n").cast("long").alias("n"),
                    "rnk"))


def run_streaming_incremental_rollup(spark: SparkSession, sf_dir: str,
                                     n_splits: int = 4) -> DataFrame:
    """Streaming refresh of a daily rollup via MERGEABLE STATES: a
    ``foreachBatch`` sink collapses each micro-batch to the
    (n, sum, sumsq, min, max) monoid state per day
    (operators/incremental.py) and folds it into the accumulated
    state — the production pattern for "keep the rollup current as
    partitions land" (state merge touches |groups| rows per batch,
    never history). The bounded source is staged as ``n_splits``
    parquet files with maxFilesPerTrigger=1, so the fold genuinely
    crosses micro-batch boundaries; merge commutativity makes the
    result independent of batch slicing, which is what lets the
    batch full-history oracle hash-verify a streaming run.

    Returns the final derived report (day, n, total, min, max, mean,
    std) as a batch DataFrame.
    """
    from ..operators.incremental import (
        agg_state,
        merge_agg_states,
        state_report,
    )

    stage = (Path(tempfile.gettempdir())
             / f"stream_events_split{n_splits}_{_slot(sf_dir)}")
    if not (stage / "_SUCCESS").exists():
        _stage_atomically(
            stage, lambda tmp: (load_table(spark, sf_dir, "events")
                                .repartition(n_splits)
                                .write.mode("overwrite").parquet(tmp)))
    schema = read_parquet(spark, str(stage)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(stage)))

    holder: dict = {"state": None, "batches": 0}

    def sink(bdf: DataFrame, _bid: int) -> None:
        days = bdf.select(F.to_date("ts").alias("day"), "value")
        st = agg_state(days, ["day"], "value").localCheckpoint()
        prev = holder["state"]
        holder["state"] = (st if prev is None else
                           merge_agg_states(prev, st, ["day"])
                           .localCheckpoint())
        holder["batches"] += 1

    name = f"stream_rollup_{uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.foreachBatch(sink)
         .queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    empty_report = "day date, n long, total double, min_v double, " \
                   "max_v double, mean_v double, std_v double"
    if holder["state"] is None:  # empty source: no batches arrived
        return spark.createDataFrame([], empty_report)
    if holder["batches"] < min(n_splits, 2):
        # an all-empty source can legitimately arrive as one empty
        # micro-batch; only a NON-empty single-batch run breaks the
        # crossed-boundary contract
        assert holder["state"].limit(1).count() == 0, \
            "rollup fold never crossed a micro-batch boundary"
        return spark.createDataFrame([], empty_report)
    return state_report(holder["state"], ["day"])


def run_streaming_observed_dq(spark: SparkSession, sf_dir: str,
                              max_files_per_trigger: int = 1):
    """Continuous DQ via observed metrics on a stream: the
    `dq/observe.py` pattern applied to Structured Streaming — the
    observation expressions ride every micro-batch's existing
    aggregation, and the per-batch numbers surface through
    `StreamingQueryProgress.observedMetrics` with NO extra scan and
    NO second query. This is the production shape for ingest-time
    monitoring (null spikes, value-range drift) at any scale: the
    metrics are accumulator-merged per task, state-free, and
    watermark-independent.

    Returns (rows_written, metrics) where metrics is the list of
    per-batch observed dicts (n_rows / nulls_user_id /
    min_value / max_value)."""
    stream = streaming_events_source(spark, sf_dir)
    observed = stream.observe(
        "dq",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long"))
         .alias("nulls_user_id"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"))
    name = f"stream_observed_{uuid.uuid4().hex[:8]}"
    batches: list[dict] = []

    def sink(batch: DataFrame, _bid: int) -> None:
        # the job the pipeline already runs — here a count-only fold
        batches.append({"rows": batch.count()})

    q = (observed.writeStream.outputMode("append")
         .foreachBatch(sink).queryName(name)
         .option("maxFilesPerTrigger", max_files_per_trigger)
         .start())
    metrics = []
    try:
        q.processAllAvailable()
        for progress in q.recentProgress:
            om = progress["observedMetrics"] if isinstance(
                progress, dict) else None
            if om is None:
                import json
                om = json.loads(progress.json).get("observedMetrics")
            if om and "dq" in om:
                metrics.append(om["dq"])
    finally:
        q.stop()
    rows = sum(b["rows"] for b in batches)
    return rows, metrics


def run_streaming_interval_join(spark: SparkSession, sf_dir: str,
                                horizon: str = "1 hour",
                                watermark: str = "1 hour") -> DataFrame:
    """STREAM-STREAM inner interval join — the attribution shape
    (ad-impression x click, here view x purchase): two branches of
    the event stream, each with its own watermark, joined on user
    within ``[view.ts, view.ts + horizon]``.

    This is the one streaming join Spark buffers BOTH sides for: the
    range condition + watermarks let the engine bound each side's
    state (a view can be evicted once the purchase-side watermark
    passes view.ts + horizon — without the time bound the state
    would grow forever, which is why the interval predicate is
    mandatory for production stream-stream joins). Inner-join
    matches emit immediately (no watermark holdback — that applies
    to outer sides), so the bounded replay yields exactly the batch
    interval join, which is the oracle.
    """
    stream = streaming_events_source(spark, sf_dir)
    views = (stream.where(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_event_id"),
                     F.col("ts").alias("v_ts"))
             .withWatermark("v_ts", watermark))
    purchases = (stream.where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_event_id"),
                         F.col("ts").alias("p_ts"))
                 .withWatermark("p_ts", watermark))
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_event_id", "purchase_event_id",
        (F.unix_millis(F.col("p_ts").cast("timestamp_ltz"))
         - F.unix_millis(F.col("v_ts").cast("timestamp_ltz")))
        .alias("latency_ms"))
    name = f"stream_ss_join_{uuid.uuid4().hex[:8]}"
    q = (joined.writeStream.outputMode("append")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def run_streaming_left_outer_join(spark: SparkSession, sf_dir: str,
                                  horizon: str = "1 hour",
                                  watermark: str = "1 hour") -> DataFrame:
    """LEFT OUTER stream-stream interval join — attribution with
    explicit NON-conversion rows. Unlike the inner join, the
    null-padded (view, no purchase) rows are emitted by WATERMARK
    HOLDBACK: a view can only be declared unconverted once the
    watermark passes ``v_ts + horizon`` (before that a matching
    purchase could still arrive), so the final answer is not "the
    batch left join" but the batch left join CUT at
    ``v_ts < max_event_time - watermark - horizon`` — the
    deterministic boundary this runner's oracle encodes. Views
    younger than that stay in state when a bounded replay ends,
    exactly as they would in production.

    The run polls ``processAllAvailable`` until the memory sink
    stabilizes: Spark advances the watermark and flushes outer
    results in no-data micro-batches AFTER the last data batch
    (``noDataMicroBatches`` policy), so a single
    processAllAvailable call returns before the evictions land.
    """
    stream = streaming_events_source(spark, sf_dir)
    views = (stream.where(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_event_id"),
                     F.col("ts").alias("v_ts"))
             .withWatermark("v_ts", watermark))
    purchases = (stream.where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_event_id"),
                         F.col("ts").alias("p_ts"))
                 .withWatermark("p_ts", watermark))
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_event_id", "purchase_event_id",
        (F.unix_millis(F.col("p_ts").cast("timestamp_ltz"))
         - F.unix_millis(F.col("v_ts").cast("timestamp_ltz")))
        .alias("latency_ms"))
    import time as _time
    name = f"stream_lo_join_{uuid.uuid4().hex[:8]}"
    q = (joined.writeStream.outputMode("append")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
        n_prev = -1
        for _ in range(60):  # stabilize: no-data batches flush evictions
            n = spark.table(name).count()
            if n == n_prev:
                break
            n_prev = n
            _time.sleep(0.2)
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def run_streaming_checkpoint_recovery(spark: SparkSession, sf_dir: str,
                                      n_files: int = 8,
                                      stop_after: int = 3,
                                      work_dir: str | None = None) -> dict:
    """Driver-restart recovery: run a checkpointed stream partway,
    STOP it, restart the identical query from the same checkpoint,
    and prove (a) the final aggregate equals the batch answer and
    (b) every source file was processed exactly once ACROSS the two
    runs (offsets resume; nothing re-read, nothing skipped).

    This is the property none of the memory-sink smokes exercise —
    production streams survive driver restarts only through the
    checkpoint (offsets + state store), and side-effect sinks get
    AT-LEAST-ONCE batch delivery: on restart Spark may replay the
    last uncommitted batch, so a foreachBatch sink must be
    idempotent BY batchId. Both sinks here follow that contract:
    the aggregate snapshot is a full overwrite (naturally
    idempotent), the batch log dedupes on batch_id at read time.

    Mechanics: the events table staged as ``n_files`` parquet files,
    ``maxFilesPerTrigger=1`` so each micro-batch consumes one file;
    complete-mode count/sum per event_type lands in foreachBatch.
    Returns the final agg (DataFrame), the batch log (DataFrame with
    distinct batch_ids), and phase-1/phase-2 batch counts.
    """
    import time as _time

    root = Path(work_dir or tempfile.mkdtemp(prefix="ckpt_recovery_"))
    src, ckpt = root / "src", root / "ckpt"
    agg_out, log_out = root / "agg", root / "log"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    if not src.exists():
        events.repartition(n_files).write.mode("overwrite").parquet(str(src))

    schema = read_parquet(spark, str(src)).schema

    def build_query():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        agg = (stream.groupBy("event_type")
               .agg(F.count("*").alias("n"),
                    rnd(F.sum("value"), 2).alias("total_value")))

        def sink(bdf: DataFrame, bid: int) -> None:
            # snapshot overwrite: idempotent under batch replay
            bdf.write.mode("overwrite").parquet(str(agg_out))
            # batch log: appended, deduped by batch_id at read time
            # (the documented at-least-once side-effect contract)
            bdf.sparkSession.createDataFrame(
                [(bid, bdf.count())], "batch_id long, n_groups long"
            ).write.mode("append").parquet(str(log_out))

        return (agg.writeStream.outputMode("complete")
                .option("checkpointLocation", str(ckpt))
                .trigger(processingTime="300 milliseconds")
                .foreachBatch(sink).start())

    def distinct_batches() -> int:
        try:
            return (read_parquet(spark, str(log_out))
                    .select("batch_id").distinct().count())
        except Exception:
            return 0  # log dir not created yet

    # Phase 1: run until >= stop_after batches committed, then stop
    q1 = build_query()
    try:
        deadline = _time.time() + 120
        while distinct_batches() < stop_after and _time.time() < deadline:
            _time.sleep(0.05)
    finally:
        q1.stop()
    q1.awaitTermination(30)
    phase1 = distinct_batches()

    # Phase 2: identical query, same checkpoint — offsets resume
    q2 = build_query()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    q2.awaitTermination(30)

    log = (read_parquet(spark, str(log_out))
           .dropDuplicates(["batch_id"]))
    return {
        "agg": read_parquet(spark, str(agg_out)),
        "log": log,
        "phase1_batches": phase1,
        "total_batches": log.count(),
        "n_files": n_files,
        "batch_expected": (events.groupBy("event_type")
                           .agg(F.count("*").alias("n"),
                                rnd(F.sum("value"), 2)
                                .alias("total_value"))),
    }


def run_streaming_versioned_sink(spark: SparkSession, sf_dir: str,
                                 n_files: int = 6,
                                 work_dir: str | None = None) -> dict:
    """Structured Streaming into a manifest-versioned table with
    EXACTLY-ONCE batch commits: each micro-batch appends through
    ``write_version(..., txn=(app, batch_id))``, so the table's own
    atomic manifest log doubles as the idempotence ledger (the Delta
    txnAppId/txnVersion recipe) — no side batch-log, no overwrite
    snapshot. foreachBatch delivery is at-least-once under restart;
    a replayed batch finds its txn in a committed manifest and
    no-ops, leaving history linear and the row set exact.

    The function proves the contract in-process: run the stream to
    completion, then REPLAY the last micro-batch through the same
    sink (what a driver restart would do) and return enough state
    for the test to assert (a) versioned rows == batch answer,
    (b) one version per micro-batch, (c) the replay added nothing.

    Scale: each micro-batch is one append version (no rewrite);
    readers stay snapshot-isolated during commits; compaction folds
    the per-batch file spray back to ``target_files`` without
    touching the stream.
    """
    from ..sources.versioned import history, read_version, write_version

    # default work dir is deterministic per sf_dir (same pattern as
    # the other staging sites in this module) so repeated invocations
    # reuse one slot instead of leaking a fresh mkdtemp copy of the
    # events table per call; the run-scoped state (checkpoint, table)
    # resets each run, the staged source is content-stable and reused
    root = Path(work_dir) if work_dir else (
        Path(tempfile.gettempdir()) / f"vsink_{_slot(sf_dir)}")
    # run-scoped state is PER-PROCESS: two processes sharing the slot
    # must not rmtree each other's in-flight checkpoint/table (r10
    # review); only the content-stable staged source is shared
    run = _vsink_run_workspace(root, "run")
    src, ckpt, table = root / "src", run / "ckpt", run / "table"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    if not (src / "_SUCCESS").exists():
        _stage_atomically(
            src, lambda tmp: (events.repartition(n_files)
                              .write.mode("overwrite").parquet(tmp)))
    schema = read_parquet(spark, str(src)).schema

    replay: dict = {}

    def sink(bdf: DataFrame, bid: int) -> None:
        write_version(bdf.coalesce(1), table, mode="append",
                      txn=("events_versioned", bid))
        replay["last"] = (bdf, bid)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (stream.writeStream.option("checkpointLocation", str(ckpt))
         .foreachBatch(sink).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q.awaitTermination(30)

    versions_before = len(history(table))
    # at-least-once replay of the final batch (driver-restart shape)
    bdf, bid = replay["last"]
    sink(bdf, bid)

    return {
        "table": str(table),
        "rows": read_version(spark, table),
        "expected": events,
        "history": history(table),
        "versions_before_replay": versions_before,
        "versions_after_replay": len(history(table)),
    }


def run_streaming_mor_upsert_sink(spark: SparkSession, sf_dir: str,
                                  n_files: int = 6, n_entities: int = 64,
                                  work_dir: str | None = None,
                                  auto_compact_vectors: int | None = 10
                                  ) -> dict:
    """Streaming CDC UPSERT into a versioned table via merge-on-read
    deletion vectors, exactly-once: each micro-batch folds to one row
    per entity (``entity = event_id % n_entities``, value = the
    batch's running max) and upserts it with
    ``merge_version(strategy="mor", txn=(app, batch_id))`` — write
    cost O(batch), never a partition rewrite, and a replayed batch is
    a version-level no-op through the manifest txn ledger.

    The per-entity fold is a MONOTONE max, so the final table state
    is independent of how the stream slices into micro-batches:
    final == batch ``events.groupBy(entity).agg(max(value))`` — the
    stream==batch equality a test can hash, regardless of file
    ordering. Every batch re-touches hot entities, so the vector
    stack exercises the positional masking hard; ``compact`` at the
    end folds it away and must preserve the answer.

    Scale: this is the shape of a CDC tail landing in a 100 TB
    entity table — per-batch bytes written are the batch's entity
    count, reads pay one broadcast anti-join per outstanding vector,
    and ``auto_compact_vectors`` (engine-triggered MoR auto-
    compaction, r11) bounds the stack without operator intervention.
    """
    from ..sources.versioned import (
        compact, history, merge_version, read_version, write_version)

    root = Path(work_dir) if work_dir else (
        Path(tempfile.gettempdir()) / f"vsink_{_slot(sf_dir)}")
    run = _vsink_run_workspace(root, "run_mor")
    src, ckpt, table = root / "src", run / "ckpt", run / "table"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    if not (src / "_SUCCESS").exists():
        _stage_atomically(
            src, lambda tmp: (events.repartition(n_files)
                              .write.mode("overwrite").parquet(tmp)))
    schema = read_parquet(spark, str(src)).schema

    replay: dict = {}

    def sink(bdf: DataFrame, bid: int) -> None:
        batch_state = (bdf
                       .groupBy((F.col("event_id") % n_entities)
                                .alias("entity"))
                       .agg(F.max("value").alias("value")))
        if bid == 0:
            # seed version: the MoR merge needs a table to mask
            write_version(batch_state, table, mode="overwrite",
                          txn=("events_mor", bid))
        else:
            # read-modify-write CDC apply: fold the batch into the
            # CURRENT table state (a masked read mid-stream — the MoR
            # read path is exercised inside the pipeline, not just at
            # the end), then upsert the folded rows. An upsert
            # REPLACES per key, so batch-slicing independence comes
            # from folding against state, not from the batch alone.
            cur = read_version(spark, table).select(
                "entity", F.col("value").alias("cur_value"))
            folded = (batch_state.join(cur, "entity", "left")
                      .select("entity",
                              F.greatest("value", "cur_value")
                              .alias("value")))
            merge_version(spark, table, folded, "entity",
                          strategy="mor", txn=("events_mor", bid),
                          auto_compact_vectors=auto_compact_vectors)
        replay["last"] = (bdf, bid)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (stream.writeStream.option("checkpointLocation", str(ckpt))
         .foreachBatch(sink).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q.awaitTermination(30)

    versions_before = len(history(table))
    bdf, bid = replay["last"]
    sink(bdf, bid)  # at-least-once replay: must be a no-op
    versions_after = len(history(table))

    expected = (events
                .groupBy((F.col("event_id") % n_entities).alias("entity"))
                .agg(F.max("value").alias("value")))
    pre_compact = read_version(spark, table)
    n_vectors = len(history(table)[-1].get("delete_vectors") or [])
    compact(spark, table)
    return {
        "table": str(table),
        "rows": read_version(spark, table),
        "rows_pre_compact": pre_compact,
        "expected": expected,
        "n_vectors": n_vectors,
        "versions_before_replay": versions_before,
        "versions_after_replay": versions_after,
        "history": history(table),
    }
