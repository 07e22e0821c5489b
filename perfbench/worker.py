"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with the environment already pinned (CPU count,
scratch directories, event log). Sequence:

1. set-up: Spark session, catalog, workload state;
2. warm-in: a fixed set of untimed operations (see ``Workload``);
3. timed window: one closed-loop client sends operations back to back
   for at least ``--seconds`` and the workload's minimum number of
   rounds, and finishes the round it is in;
4. correctness checks, all outside the timed window;
5. Spark is stopped, its event log read, and the metrics written as
   JSON to ``--out``.

``setup_s`` runs from the launcher starting this process to the first
timed operation, so it includes interpreter start, Spark start-up and
the warm-in.
"""

from __future__ import annotations

import argparse
import asyncio
import hashlib
import json
import math
import os
import re
import resource
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

T0 = float(os.environ.get("PERFBENCH_T0") or time.time())

import workloads as wl  # noqa: E402
from eventlog import attribute, read_event_log  # noqa: E402
from spans import Tracer, span_cost_s  # noqa: E402


@dataclass
class Record:
    op: wl.Op
    start: float          # epoch seconds
    end: float
    ok: bool = True
    error: str | None = None
    result: Any = None
    extra: dict[str, Any] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Workload:
    """One workload: set-up, a fixed warm-in, and the timed rounds.

    The warm-in is a fixed list of operations rather than a
    run-until-flat rule: every run then starts its window from the same
    state (the versioned table's deletion-vector stack included), and
    set-up time stays inside the time budget. README.md records the
    residual drift this leaves."""
    name = ""
    min_rounds = 1         # timed rounds at least
    tables: tuple[str, ...] = ()

    def __init__(self, spark, warehouse: Path, seed: int,
                 tracer: Tracer | None) -> None:
        self.spark = spark
        self.warehouse = warehouse
        self.seed = seed
        self.tracer = tracer
        self.service = None
        self.warm_results: dict[str, Any] = {}
        self.warm_walls: list[tuple[str, float]] = []

    # -- set-up ----------------------------------------------------------------
    def make_service(self):
        from data_platform_copilot_spark.chain.provider import StubProvider
        from data_platform_copilot_spark.service import CopilotService
        from data_platform_copilot_spark.sources import register_testdata
        register_testdata(self.spark, str(self.warehouse), self.tables)
        self.provider = StubProvider()
        svc = CopilotService(
            self.spark, self.provider,
            os.environ["SPARK_GRAFT_CONTROL_ROOT"],
            versioned_data_root=os.environ["SPARK_GRAFT_VERSIONED_ROOT"])
        svc.bootstrap()
        self.service = svc
        return svc

    def setup(self) -> None:
        raise NotImplementedError

    def warm_ops(self) -> list[wl.Op]:
        raise NotImplementedError

    def timed_rounds(self) -> list[list[Any]]:
        raise NotImplementedError

    def execute(self, op: wl.Op, rec: Record) -> None:
        raise NotImplementedError

    def check(self, records: list[Record]) -> list[str]:
        """Correctness checks after the window; marks failed records
        and returns run-level problems."""
        return []

    def layer_extra(self, records: list[Record]) -> dict[str, float]:
        """Workload-specific per-layer metrics (traced run)."""
        return {}

    # -- driving ---------------------------------------------------------------
    def run_op(self, op: wl.Op, op_id: int | None) -> Record:
        rec = Record(op, time.time(), 0.0)
        try:
            if self.tracer is not None and op_id is not None:
                with self.tracer.op(op_id):
                    self.execute(op, rec)
            else:
                self.execute(op, rec)
        except Exception as exc:  # a failed op is counted, not fatal
            rec.ok, rec.error = False, f"{type(exc).__name__}: {exc}"
        rec.end = time.time()
        return rec

    def warm_in(self) -> None:
        """Run the warm-in operations, one after another, untimed."""
        for op in self.warm_ops():
            rec = self.run_op(op, None)
            if not rec.ok:
                raise RuntimeError(f"warm-in failed: {rec.error}")
            self.warm_results[rec.op.shape()] = rec.result
            self.warm_walls.append((rec.op.shape(), round(rec.wall, 3)))

    def window(self, seconds: float) -> list[Record]:
        """The timed rounds: at least ``min_rounds`` and at least
        ``seconds``, ending on a round boundary. At the benchmark's
        ``run_seconds`` the minimum rounds take longer than ``seconds``,
        so the window is exactly ``min_rounds`` rounds."""
        records: list[Record] = []
        t_end = time.time() + seconds
        for i, ops in enumerate(self.timed_rounds()):
            for op in ops:
                records.append(self.run_op(op, len(records)))
            if i + 1 >= self.min_rounds and time.time() >= t_end:
                break
        return records


# -- helpers --------------------------------------------------------------

def _norm(v: Any) -> Any:
    """Engine-neutral value for result comparison."""
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (list, tuple)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return [_norm(x) for x in (v.tolist() if hasattr(v, "tolist")
                                   else v)]
    return v


def same_rows(got: list[dict], want: list[dict]) -> bool:
    """Ordered row comparison; floats within 0.011 (rounded sums may
    differ in the last cent between engines' summation orders)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if set(g) != set(w):
            return False
        for k in g:
            a, b = _norm(g[k]), _norm(w[k])
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a != b:
                        return False
                elif abs(float(a) - float(b)) > 0.011 + 1e-9 * abs(float(b)):
                    return False
            elif a != b:
                return False
    return True


def duckdb_over(warehouse: Path, tables: tuple[str, ...]):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{warehouse}/{t}.parquet')")
    return con


def duck_rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def dq_comparable(res: dict) -> str:
    """A ``dq_check`` response without its wall-clock parts: rule
    details (and the report rendering them) may hold ages measured
    against the current time, so rule outcomes and the sample rows are
    compared."""
    body = {"results": [(r["rule"], r["passed"]) for r in res["results"]],
            "rows": res["sample_rows"]}
    return json.dumps(body, sort_keys=True, default=str)


def canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive canonical form (the project's oracle rule:
    floats rounded to 6 places, timestamps as ISO strings)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def val(v):
        v = _norm(v)
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return f"{round(v, 6):.6f}"
        if isinstance(v, list):
            return str([val(x) for x in v])
        return str(v)

    return sorted(tuple([cols[i] for i in order]) + tuple(
        val(r[i]) for i in order) for r in rows)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


# -- copilot_service ---------------------------------------------------------

class CopilotWorkload(Workload):
    """The copilot user's path through ``CopilotService``: rounds of
    chat requests, each followed by a round of the versioned-table CDC
    loop (upsert, then three gateway reads; once per auto-compaction
    cycle, a data-quality request)."""
    name = "copilot_service"
    tables = ("orders", "customer", "nation", "lineitem", "events")
    CHAT_WARM_ROUNDS = 1
    # the warm-in runs the first CDC round (one merge, its reads and the
    # cycle's data-quality request); the window the next full cycle
    CDC_WARM_ROUNDS = 1
    min_rounds = wl.CDC_COMPACT_EVERY
    MAX_ROUNDS = 20

    def setup(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from data_platform_copilot_spark.sources import write_version
        self.make_service()
        self.chat_warm = wl.chat_ops(self.seed, self.CHAT_WARM_ROUNDS,
                                     tag="w")
        self.chat = wl.chat_ops(self.seed, self.MAX_ROUNDS)
        for op in (o for r in self.chat_warm + self.chat for o in r):
            self.provider.canned[op.args["question"]] = wl.fence(
                op.args["sql"])
            if op.kind == "agent":
                self.provider.canned[
                    op.args["question"] + "\n\nThe previous attempt was"] = \
                    wl.fence(op.args["refined_sql"])
        # versioned table: a seeded slice of orders, written at set-up
        start = wl.cdc_base_start(self.seed)
        t = pq.read_table(self.warehouse / "orders.parquet")
        t = t.filter(pc.and_(
            pc.greater_equal(t[wl.CDC_KEY], start),
            pc.less(t[wl.CDC_KEY], start + wl.CDC_BASE_ROWS)))
        self.columns = tuple(t.column_names)
        self.arrow_schema = t.schema
        base = {row[0]: row for row in zip(*[t[c].to_pylist()
                                              for c in self.columns])}
        self.cdc, self.state = wl.cdc_ops(
            self.seed, base, self.MAX_ROUNDS + self.CDC_WARM_ROUNDS,
            self.columns)
        base_df = self.spark.createDataFrame(t.to_pandas())
        self.spark_schema = base_df.schema
        self.dir = (Path(os.environ["SPARK_GRAFT_VERSIONED_ROOT"])
                    / wl.CDC_TABLE)
        self.version_after = {0: write_version(base_df, str(self.dir))}
        self.register()
        self.reads = 0

    def register(self) -> None:
        out = self.service.versioned_register(wl.CDC_TABLE, str(self.dir))
        if "error" in out:
            raise RuntimeError(out["error"])

    def warm_ops(self):
        return [op for r in self.chat_warm + self.cdc[:self.CDC_WARM_ROUNDS]
                for op in r]

    def warm_in(self) -> None:
        super().warm_in()
        self.bytes_before = dir_bytes(self.dir)

    def timed_rounds(self):
        return [c + v for c, v in zip(self.chat,
                                      self.cdc[self.CDC_WARM_ROUNDS:])]

    # -- operations ---------------------------------------------------------
    def execute(self, op, rec) -> None:
        a = op.args
        if op.kind == "chat":
            rec.result = asyncio.run(self.service.chat(a["question"]))
            if op.expect.get("rejected"):
                if rec.result.get("status") != 400:
                    rec.ok, rec.error = False, "unsafe SQL was accepted"
            elif "error" in rec.result:
                rec.ok, rec.error = False, rec.result["error"]
        elif op.kind == "agent":
            rec.result = asyncio.run(self.service.chat_agent(a["question"]))
            if self.tracer is not None:
                self.tracer.count("chain.agent_calls")
                self.tracer.count("chain.answers",
                                  1 if rec.result["rows"] else 0)
                self.tracer.count("chain.refines", sum(
                    1 for c in rec.result["candidates"]
                    if c["status"] not in ("draft", "ok")))
        elif op.kind == "cdc_write":
            self._write(op, rec)
        elif op.kind == "cdc_read":
            self._read(op, rec)
        else:
            rec.result = self.service.dq_check(a["table"], a["rules"],
                                               a["where"], a["limit"])

    def _write(self, op, rec) -> None:
        import pyarrow as pa
        from data_platform_copilot_spark.sources import merge_version
        batch = pa.Table.from_pylist(
            [dict(zip(self.columns, r)) for r in op.args["rows"]],
            schema=self.arrow_schema)
        df = self.spark.createDataFrame(batch.to_pandas(),
                                        schema=self.spark_schema)
        span = (self.tracer.span("sources.merge_version")
                if self.tracer is not None else nullcontext())
        with span:
            v = merge_version(self.spark, str(self.dir), df, wl.CDC_KEY,
                              strategy="mor",
                              auto_compact_vectors=wl.CDC_COMPACT_EVERY)
        self.version_after[op.args["write"]] = v
        # publish the new version to the catalog (this also drops the
        # cached schema docs, as any catalog change does)
        self.register()
        rec.extra["user_bytes"] = batch.nbytes

    def _read(self, op, rec) -> None:
        a = op.args
        where = (f"WHERE {wl.CDC_KEY} >= {a['lo']} "
                 f"AND {wl.CDC_KEY} < {a['hi']}")
        asof = ("" if a["at_write"] is None else
                f" FOR VERSION AS OF {self.version_after[a['at_write']]}")
        sql = (f"SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total "
               f"FROM {wl.CDC_TABLE}{asof} {where}")
        self.reads += 1
        question = f"cdc read #{self.reads}."
        self.provider.canned[question] = wl.fence(sql)
        rec.result = asyncio.run(self.service.chat(question))
        if "error" in rec.result:
            rec.ok, rec.error = False, rec.result["error"]
            return
        row = rec.result["rows"][0]
        total = 0.0 if row["total"] is None else float(row["total"])
        want = op.expect
        if (int(row["n"]) != want["n"] or abs(total - want["total"])
                > 0.011 + 1e-9 * abs(want["total"])):
            rec.ok, rec.error = False, f"read {row} != expected {want}"

    # -- correctness (after the window) -----------------------------------------
    def check(self, records) -> list[str]:
        self._check_chat(records)
        for rec in records:
            # the cycle's data-quality request repeats the warm-in's
            if rec.ok and rec.op.kind == "dq_check" and (
                    dq_comparable(rec.result) != dq_comparable(
                        self.warm_results[rec.op.shape()])):
                rec.ok, rec.error = False, "differs from untimed run"
        return self._check_table(records)

    def _check_chat(self, records) -> None:
        con = duckdb_over(self.warehouse, self.tables)
        want: dict[str, list[dict]] = {}
        for rec in records:
            op = rec.op
            if (not rec.ok or op.kind not in ("chat", "agent")
                    or op.expect.get("rejected")):
                continue
            sql = op.expect["sql"]
            if sql not in want:
                want[sql] = duck_rows(con, sql)
            if op.kind == "agent":
                statuses = [c["status"] for c in rec.result["candidates"]]
                if (rec.result["chosen_sql"] != sql
                        or statuses != ["draft", "ok:empty", "ok"]):
                    rec.ok, rec.error = False, f"agent path {statuses}"
                    continue
            if not same_rows(rec.result["rows"], want[sql]):
                rec.ok, rec.error = False, "preview differs from DuckDB"
        con.close()

    def _check_table(self, records) -> list[str]:
        """Latest snapshot against the last-write-wins replay."""
        import pyarrow as pa
        from data_platform_copilot_spark.sources import read_version
        last = max(self.version_after)
        got = read_version(self.spark, str(self.dir)).toPandas()
        want = {k: row for k in self.state.history
                if (row := self.state.row(k, last)) is not None}
        pi = self.columns.index("o_totalprice")
        si = self.columns.index("o_orderstatus")
        problems = []
        if len(got) != len(want):
            problems.append(f"latest has {len(got)} rows, replay "
                            f"{len(want)}")
        for k, price, status in zip(got[wl.CDC_KEY], got["o_totalprice"],
                                    got["o_orderstatus"]):
            w = want.get(int(k))
            if w is None or w[pi] != price or w[si] != status:
                problems.append(f"latest row {k} differs from replay")
                break
        self.live_bytes = pa.Table.from_pylist(
            [dict(zip(self.columns, r)) for r in want.values()],
            schema=self.arrow_schema).nbytes
        return problems

    def layer_extra(self, records) -> dict[str, float]:
        wall = sum(r.wall for r in records)
        writes = [r for r in records if r.op.kind == "cdc_write"]
        user = sum(r.extra["user_bytes"] for r in writes)
        total = dir_bytes(self.dir)
        return {
            **self.scanned(records),
            "cdc.read_frac": sum(r.wall for r in records
                                 if r.op.kind == "cdc_read") / wall,
            "cdc.write_frac": sum(r.wall for r in writes) / wall,
            # bytes written under the table directory in the window per
            # byte of upserted rows (Arrow, uncompressed)
            "cdc.write_amp": (total - self.bytes_before) / user,
            # table directory bytes per byte of live rows (Arrow)
            "cdc.space_amp": total / self.live_bytes,
        }

    def scanned(self, records) -> dict[str, float]:
        """Data files and deletion vectors per timed CDC read: the input
        files of the views the gateway's rewritten statement reads, so
        after its manifest pruning."""
        view_re = re.compile(rf"\b(?:FROM|JOIN)\s+({wl.CDC_TABLE}__\w+)",
                             re.IGNORECASE)
        files = vectors = reads = 0
        for rec in records:
            if rec.op.kind != "cdc_read" or not rec.ok:
                continue
            dirs = []  # per input file, its directory in the table dir
            for view in view_re.findall(rec.result["sql"]):
                for path in self._input_files(view):
                    parts = Path(path).parts
                    dirs.append(parts[parts.index(wl.CDC_TABLE) + 1])
            files += sum(1 for d in dirs if not d.startswith("delete-"))
            vectors += len({d for d in dirs if d.startswith("delete-")})
            reads += 1
        return {"sources.dv_stack": vectors / reads,
                "sources.files_per_read": files / reads}

    def _input_files(self, view: str) -> list[str]:
        from urllib.parse import unquote, urlparse
        return [unquote(urlparse(p).path)
                for p in self.spark.table(view).inputFiles()]


# -- analytics_pack -----------------------------------------------------------

class AnalyticsWorkload(Workload):
    """bench.py's headline registry entries, each built fresh by its
    registered query function and collected."""
    name = "analytics_pack"
    # three rounds of six entries (about 16 s)
    min_rounds = 3

    def setup(self) -> None:
        from data_platform_copilot_spark.queries import QUERIES
        self.queries = QUERIES

    def warm_ops(self):
        return wl.analytics_ops(self.seed, 1, tag="w")[0]

    def timed_rounds(self):
        return wl.analytics_ops(self.seed, 20)

    def execute(self, op, rec) -> None:
        # the registered function itself: never the plan-cached frame
        build = self.queries[op.args["name"]].__wrapped__
        sf_dir = str(self.warehouse)
        if self.tracer is None:
            rec.result = build(self.spark, sf_dir).collect()
            return
        with self.tracer.span("queries.build"):
            df = build(self.spark, sf_dir)
        with self.tracer.span("queries.collect"):
            rec.result = df.collect()

    def check(self, records) -> list[str]:
        from data_platform_copilot_spark.queries import (
            EXTRA_ORACLE, ORACLE, register_oracle_udfs)
        from warehouse import TABLES
        con = None
        want: dict[str, list] = {}
        for rec in records:
            if not rec.ok:
                continue
            name = rec.op.args["name"]
            oracle = ORACLE.get(name) or EXTRA_ORACLE.get(name)
            if oracle is None:
                continue
            if name not in want:
                # oracle results depend only on the warehouse and the
                # oracle text: kept beside the warehouse once computed
                digest = hashlib.sha256(oracle.encode()).hexdigest()[:16]
                cache = self.warehouse / "oracle" / f"{name}-{digest}.json"
                if cache.is_file():
                    want[name] = [tuple(r) for r in
                                  json.loads(cache.read_text())]
                else:
                    if con is None:
                        con = duckdb_over(self.warehouse, TABLES)
                        register_oracle_udfs(con)
                    cur = con.execute(oracle)
                    cols = [d[0] for d in cur.description]
                    want[name] = canonical(cols, cur.fetchall())
                    cache.parent.mkdir(exist_ok=True)
                    tmp = cache.with_suffix(f".{os.getpid()}.tmp")
                    tmp.write_text(json.dumps(want[name]))
                    os.replace(tmp, cache)
            got = (canonical(list(rec.result[0].__fields__),
                             [tuple(r) for r in rec.result])
                   if rec.result else [])
            if got != want[name]:
                rec.ok, rec.error = False, f"{name} differs from ORACLE"
        if con is not None:
            con.close()
        return []


WORKLOAD_CLASSES = {c.name: c for c in (CopilotWorkload, AnalyticsWorkload)}


# -- tracing ------------------------------------------------------------------

def install_patches(tracer: Tracer) -> None:
    """Spans around each layer's public functions (traced run only)."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from data_platform_copilot_spark import service
    from data_platform_copilot_spark.chain import agent
    from data_platform_copilot_spark.dq import runner
    from data_platform_copilot_spark.gateway import sql_runner, time_travel
    from data_platform_copilot_spark.sources import versioned

    def preview(parent: str | None) -> str:
        if parent == "gateway.sql_run":
            return "gateway.preview"
        if parent and parent.startswith("dq."):
            return "dq.preview"
        return "other.preview"

    p = tracer.patch
    p(sql_runner, "validate_sql", "gateway.validate")
    p(SparkSession, "sql", "gateway.analyze")
    p(DataFrame, "toPandas", preview)
    p(time_travel, "rewrite_as_of", "gateway.rewrite_as_of")
    for mod in (service, agent):
        p(mod, "sql_run", "gateway.sql_run")
    p(service, "nl_to_sql", "chain.generate")
    p(agent, "nl_to_sql", "chain.generate")
    p(agent, "refine", "chain.generate")
    p(service, "agent_answer", "chain.agent")
    p(service.CopilotService, "schema_docs", "catalog.schema_docs")
    p(service, "build_markdown", "catalog.build")
    p(service, "fetch_table_sample", "dq.sample")
    p(runner, "fetch_table_sample", "dq.sample")
    p(service, "profile_df", "dq.profile")
    p(runner, "profile_df", "dq.profile")
    p(service, "run_checks", "dq.rules")
    p(versioned, "compact", "sources.compact")
    p(time_travel, "read_version", "sources.read_version")
    p(versioned, "read_version", "sources.read_version")


# Metric name -> unit, for both kinds of run. BENCHMARK.json declares
# the same names (a test keeps the two in step).
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s"}

# Per-layer share of the timed operations' wall time: metric -> spans
# whose self time it sums. Shares (not seconds) so that a layer a
# workload never calls reads 0 without posing as a measured time.
SHARE_METRICS = {
    "gateway.validate_frac": ("gateway.validate",),
    "gateway.analyze_frac": ("gateway.analyze",),
    "gateway.explain_frac": ("gateway.sql_run",),
    "gateway.preview_frac": ("gateway.preview",),
    "gateway.rewrite_as_of_frac": ("gateway.rewrite_as_of",),
    "chain.generate_frac": ("chain.generate",),
    "catalog.schema_docs_frac": ("catalog.schema_docs", "catalog.build"),
    "dq.sample_frac": ("dq.sample",),
    "dq.profile_frac": ("dq.profile",),
    "dq.rules_frac": ("dq.rules",),
    "dq.preview_frac": ("dq.preview",),
    "queries.build_frac": ("queries.build",),
    "queries.collect_frac": ("queries.collect",),
    "sources.merge_frac": ("sources.merge_version",),
    "sources.compact_frac": ("sources.compact",),
    "sources.read_version_frac": ("sources.read_version",),
    "op.unattributed_frac": ("op",),
}
LAYER_UNITS = {
    **{m: "ratio" for m in SHARE_METRICS},
    "gateway.rejected": "count",
    "chain.refines_per_answer": "ratio",
    "chain.answer_frac": "ratio",
    "catalog.schema_docs_builds": "count",
    "sources.compactions": "count",
    "sources.dv_stack": "count",
    "sources.files_per_read": "count",
    "cdc.read_frac": "ratio",
    "cdc.write_frac": "ratio",
    "cdc.write_amp": "ratio",
    "cdc.space_amp": "ratio",
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.stages_skipped": "count/op",
    "spark.tasks": "count/op",
    "spark.executor_run_s": "s/op",
    "spark.executor_cpu_s": "s/op",
    "spark.gc_frac": "ratio",
    "spark.input_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.spill_bytes": "B/op",
    "spark.driver_s": "s/op",
    "spark.core_busy_frac": "ratio",
    "mem.peak_rss_mb": "MB",
    "trace.op_p50_s": "s",
    "trace.ops_per_s": "1/s",
    "trace.spans_per_op": "count",
    "trace.span_cost_s": "s/op",
}
CDC_ONLY = {"sources.dv_stack", "sources.files_per_read", "cdc.read_frac",
            "cdc.write_frac", "cdc.write_amp", "cdc.space_amp"}


def e2e_metrics(records: list[Record], setup_s: float,
                window_s: float) -> dict[str, float]:
    # With one closed-loop client, ops_per_s is 1 / mean latency.
    return {"setup_s": setup_s, "ops_per_s": len(records) / window_s}


def layer_metrics(tracer: Tracer, records: list[Record], log,
                  cores: int) -> dict[str, float]:
    n = len(records)
    selfs = tracer.self_times()
    walls = tracer.op_walls()
    # self time never negative, and per op it sums to the op's wall
    worst = max((abs(sum(selfs[i].values()) - walls[i]) for i in range(n)),
                default=0.0)
    if worst > 1e-6 or any(v < -1e-9 for d in selfs.values()
                           for v in d.values()):
        raise RuntimeError(f"span self times do not add up ({worst})")
    wall = sum(walls[i] for i in range(n))
    out: dict[str, float] = {}
    for metric, names in SHARE_METRICS.items():
        out[metric] = sum(selfs[i].get(nm, 0.0) for i in range(n)
                          for nm in names) / wall

    def total(name: str) -> int:
        return sum(v for (op, nm), v in tracer.counts.items()
                   if nm == name and op is not None)

    def spans(name: str) -> float:
        return float(sum(1 for s in tracer.spans
                         if s.name == name and s.op is not None))

    out["gateway.rejected"] = float(total("gateway.validate.raised"))
    calls = total("chain.agent_calls")
    out["chain.refines_per_answer"] = (total("chain.refines") / calls
                                       if calls else 0.0)
    out["chain.answer_frac"] = (total("chain.answers") / calls
                                if calls else 0.0)
    out["catalog.schema_docs_builds"] = spans("catalog.build")
    out["sources.compactions"] = spans("sources.compact")

    per_op = [attribute(log, r.start * 1e3, r.end * 1e3) for r in records]
    for key in ("jobs", "stages", "stages_skipped", "tasks",
                "executor_run_s", "executor_cpu_s", "input_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{key}"] = sum(getattr(s, key) for s in per_op) / n
    run_s = sum(s.executor_run_s for s in per_op)
    out["spark.gc_frac"] = (sum(s.gc_s for s in per_op) / run_s
                            if run_s else 0.0)
    out["spark.driver_s"] = sum(r.wall - s.job_s for r, s in
                                zip(records, per_op)) / n
    out["spark.core_busy_frac"] = run_s / (wall * cores)

    # the traced run's own median latency and throughput; set the latter
    # against ops_per_s of an untraced run of the same seed for the
    # tracing overhead, next to the calibrated cost of the spans
    out["trace.op_p50_s"] = statistics.median(r.wall for r in records)
    out["trace.ops_per_s"] = n / (records[-1].end - records[0].start)
    per = sum(tracer.span_count(i) for i in range(n)) / n
    out["trace.spans_per_op"] = per
    out["trace.span_cost_s"] = per * span_cost_s()
    return out


# -- main ---------------------------------------------------------------------

def peak_rss_mb(spark) -> float:
    """Peak resident memory of Spark's JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    if proc is not None:
        status = Path(f"/proc/{proc.pid}/status")
        for line in status.read_text().splitlines():
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--events", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        install_patches(tracer)
    phases = {"start": time.time() - T0}
    from data_platform_copilot_spark.session import get_spark
    spark = get_spark(f"perfbench-{args.workload}")
    cores = spark.sparkContext.defaultParallelism
    phases["spark"] = time.time() - T0
    work = WORKLOAD_CLASSES[args.workload](
        spark, Path(args.warehouse), args.seed, tracer)
    work.setup()
    phases["setup"] = time.time() - T0
    work.warm_in()
    phases["warm"] = time.time() - T0

    t_first = time.time()
    records = work.window(args.seconds)
    t_last = time.time()

    problems = work.check(records)
    extra = work.layer_extra(records) if tracer is not None else {}
    rss = peak_rss_mb(spark)
    spark.stop()
    if tracer is not None:
        tracer.unpatch()
    log = read_event_log(args.events)

    if args.workload == "analytics_pack":
        # fresh-execution guard: each timed op ran every stage its jobs
        # list, and read its input
        for rec in records:
            s = attribute(log, rec.start * 1e3, rec.end * 1e3)
            if rec.ok and (s.stages_skipped or s.input_bytes <= 0):
                rec.ok = False
                rec.error = (f"not fresh: {s.stages_skipped} of {s.stages} "
                             f"stages skipped, {s.input_bytes} input bytes")

    failed = [r for r in records if not r.ok]
    if tracer is None:
        metrics = e2e_metrics(records, t_first - T0, t_last - t_first)
        units = E2E_UNITS
    else:
        # the CDC figures read 0 on a workload without the CDC loop
        metrics = {k: 0.0 for k in LAYER_UNITS if k in CDC_ONLY}
        metrics.update(layer_metrics(tracer, records, log,
                                     log.cores or cores))
        metrics.update(extra)
        metrics["mem.peak_rss_mb"] = rss
        units = LAYER_UNITS
    result = {
        "correct": not failed and not problems,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
        "details": {
            "phases": {k: round(v, 2) for k, v in phases.items()},
            "problems": problems,
            "errors": sorted({r.error for r in failed})[:10],
            "walls": [(r.op.shape(), round(r.wall, 3)) for r in records],
            "warm_walls": work.warm_walls,
            # end-to-end figures that carry no bound (README: Metrics)
            "unbounded": {"op_p50_s": statistics.median(
                r.wall for r in records), "peak_rss_mb": rss},
        },
    }
    Path(args.out).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
