"""A27/A33-A35 — the HTTP-facing service layer.

The reference exposes a FastAPI app (`/health`, `/description`,
`/schema`, `/metrics`, chat/agent, dq, dbt, namespace/table routes —
reference src/main.py, src/route/*). This module implements every
handler framework-free (dict in, dict out) so the whole surface is
testable in this container (no fastapi/httpx baked in), with
``create_fastapi_app`` wiring them to real routes when FastAPI is
available.

A33 (connection management) degenerates to the one long-lived
SparkSession + a ``SELECT 1`` ping; A34 (DDL bootstrap) initializes
the control tables and warehouse views at startup.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path
from typing import Any

from pyspark.sql import SparkSession

from .catalog import (
    NamespaceManager,
    TableManager,
    ViewManager,
    build_markdown,
    create_demo_views,
)
from .config import settings
from .chain import CompletionProvider, agent_answer, nl_to_sql
from .chain.dbt import generate_dbt_model, write_files_atomic
from .dq import DQRule, profile_df, render_markdown_report, run_checks
from .dq.sampler import fetch_table_sample
from .gateway import (
    IncorrectQuestionError,
    extract_sql_from_markdown,
    register_versioned_table,
    sql_run,
    table_history,
)
from .metrics import REGISTRY
from .sources.registry import materialized
from .sources.versioned import VersionedTableError

DESCRIPTION = ("PySpark-native data-platform copilot: validated NL->SQL "
               "over a Spark SQL warehouse, data-quality checks, catalog "
               "management, dbt generation.")


class CopilotService:
    def __init__(self, spark: SparkSession, provider: CompletionProvider,
                 control_root: str, *, github=None, orchestrator=None,
                 default_branch: str = "main",
                 demo_data_dir: str | None = None,
                 versioned_data_root: str | None = None) -> None:
        self.spark = spark
        self.provider = provider
        # server-side demo CSV directory; None -> settings.data value
        self.demo_data_dir = demo_data_dir
        # ADVICE r11: when set, /versioned/{name}/register only
        # accepts table dirs under this root — an HTTP caller cannot
        # point the SQL surface at arbitrary filesystem paths.
        # create_app() wires it from SPARK_GRAFT_VERSIONED_ROOT;
        # library embedders opt in explicitly.
        self.versioned_data_root = versioned_data_root
        self.ns = NamespaceManager(spark, control_root)
        self.tables = TableManager(spark, self.ns)
        self.views = ViewManager(spark)
        # Optional outbound integrations (reference settings.git /
        # settings.orchestrator); injectable transports keep the
        # handlers testable without a network (integrations.py).
        self.github = github
        self.orchestrator = orchestrator
        self.default_branch = default_branch
        self._schema_docs_cache: str | None = None
        # named versioned_stream pipes this service started (r12
        # verdict item 7): name -> StreamingQuery
        self._streams: dict[str, Any] = {}

    # -- lifecycle (A33/A34) ------------------------------------------------
    def bootstrap(self) -> None:
        """Startup ping + catalog warm-up (reference src/lifespan.py);
        demo warehouse views when the base tables are present
        (reference db/schema_docs.md:43-48)."""
        assert self.spark.sql("SELECT 1").collect()[0][0] == 1
        self.ns.namespaces.all()  # materializes control tables
        self.ns.tables.all()
        create_demo_views(self.views)

    # -- views (reference db/schema_docs.md:43-48) ---------------------------
    def view_create(self, name: str, sql: str) -> dict[str, Any]:
        out = self.views.create(name, sql)
        self._schema_docs_cache = None  # views render in schema docs
        return out

    def view_list(self) -> list[dict[str, str]]:
        return self.views.list()

    def view_delete(self, name: str) -> dict[str, Any]:
        dropped = self.views.drop(name)
        self._schema_docs_cache = None
        return {"name": name, "dropped": dropped}

    # -- misc surface (A35) --------------------------------------------------
    def health(self) -> dict[str, Any]:
        return {"status": "ok",
                "spark": self.spark.version,
                "ts": datetime.utcnow().isoformat()}

    def description(self) -> dict[str, Any]:
        return {"description": DESCRIPTION}

    def schema(self) -> dict[str, Any]:
        return {"markdown": self.schema_docs()}

    def metrics(self) -> str:
        return REGISTRY.export()

    def schema_docs(self, refresh: bool = False) -> str:
        """lru-cached docs with explicit invalidation (reference
        src/chain.py:29, src/route/chat.py:349-356)."""
        if refresh or self._schema_docs_cache is None:
            self._schema_docs_cache = build_markdown(self.spark)
        return self._schema_docs_cache

    # -- chat (A1-A4, A23-A25) ------------------------------------------------
    async def chat(self, question: str) -> dict[str, Any]:
        REGISTRY.inc("ai_chat_requests")
        md = await nl_to_sql(self.provider, question, self.schema_docs())
        sql = extract_sql_from_markdown(md)
        try:
            run = sql_run(self.spark, sql)
        except IncorrectQuestionError as exc:
            return {"error": str(exc), "sql": sql, "status": 400}
        return {"sql": run.sql, "plan": run.plan, "rows": run.preview}

    async def chat_agent(self, question: str,
                         max_steps: int = 2) -> dict[str, Any]:
        res = await agent_answer(self.spark, self.provider, question,
                                 self.schema_docs(), max_steps=max_steps)
        return {"plan": res.plan, "candidates": res.candidates,
                "chosen_sql": res.chosen_sql, "rows": res.rows,
                "explain": res.explain, "telemetry": res.telemetry}

    # -- dq (A5-A13) ----------------------------------------------------------
    def dq_profile(self, table: str, where: str | None = None,
                   limit: int | None = None) -> dict[str, Any]:
        REGISTRY.inc("dq_profile_requests")
        with materialized(fetch_table_sample(self.spark, table, where,
                                             limit)) as sample:
            prof = profile_df(sample)
            preview = sample.limit(20).toPandas().to_dict(orient="records")
        return {"profile": prof, "rows": preview}

    def dq_check(self, table: str, rules: list[dict[str, Any]],
                 where: str | None = None,
                 sample_limit: int | None = None) -> dict[str, Any]:
        REGISTRY.inc("dq_check_requests")
        typed = [DQRule(**r) for r in rules]
        out = run_checks(self.spark, table, typed, where=where,
                         sample_limit=sample_limit)
        passed = all(r.passed for r in out["results"])
        return {
            "passed": passed,
            "results": [{"rule": r.rule, "passed": r.passed,
                         "details": r.details} for r in out["results"]],
            "markdown_report": render_markdown_report(
                table, out["profile"], out["results"]),
            "sample_rows": out["sample_rows"],
        }

    # -- dbt (A26-A28) ----------------------------------------------------------
    async def dbt_generate(self, question: str,
                           model_name: str) -> dict[str, Any]:
        name, sql, yml = await generate_dbt_model(
            self.provider, question, model_name, self.schema_docs())
        return {"model_name": name, "sql": sql, "schema_yml": yml}

    def dbt_preview(self, sql: str,
                    limit_override: int | None = None) -> dict[str, Any]:
        """A27: validate + run with an optional LIMIT override
        (reference src/route/chat.py:226-236 rewrites a trailing
        LIMIT n; `.limit()` composes the same cap plan-side)."""
        try:
            run = sql_run(self.spark, sql,
                          row_limit=limit_override
                          or settings.sql.row_limit)
        except IncorrectQuestionError as exc:
            return {"error": str(exc), "status": 400}
        return {"plan": run.plan, "rows": run.preview}

    def dbt_write(self, root: str, model_name: str, sql: str,
                  schema_yml: str) -> dict[str, str]:
        return write_files_atomic(root, {
            f"models/{model_name}.sql": sql,
            f"models/{model_name}.yml": schema_yml,
        })

    # -- dbt PR composition (reference src/route/chat.py:254-275) -------------
    async def dbt_pr(self, title: str, branch: str,
                     files: dict[str, str],
                     base: str | None = None) -> dict[str, Any]:
        """Compose create-branch -> upsert-files -> open-PR over the
        A29 GitHub client — the payoff step of the dbt workflow
        (reference query.http:103-110). Files map repo-relative paths
        to raw contents; this handler base64-encodes for the contents
        API, mirroring the reference's upsert_file."""
        import base64

        if self.github is None:
            return {"error": "GitHub integration not configured",
                    "status": 400}
        base_branch = base or self.default_branch
        try:
            await self.github.create_branch(branch, base_branch)
            committed: dict[str, str] = {}
            for path, body in files.items():
                await self.github.upsert_file(
                    branch, path,
                    base64.b64encode(body.encode()).decode(),
                    f"chore(dbt): add/update {path}")
                committed[path] = "ok"
            pr = await self.github.open_pr(
                branch, base_branch, title,
                "Automated PR from data_platform_copilot_spark")
        except RuntimeError as exc:  # client-level GitHub error -> 400
            return {"error": str(exc), "status": 400}
        return {"branch": branch, "files_committed": committed,
                "pr_url": pr.get("html_url", "")}

    # -- orchestration (reference src/route/chat.py:373-384) ------------------
    async def orchestrate_run(self, flow_name: str,
                              parameters: dict[str, Any] | None = None,
                              ) -> dict[str, Any]:
        if self.orchestrator is None:
            return {"error": "orchestrator not configured", "status": 400}
        try:
            run_id = await self.orchestrator.run_flow(flow_name, parameters)
        except RuntimeError as exc:
            return {"error": str(exc), "status": 400}
        return {"run_id": run_id}

    async def orchestrate_status(self, run_id: str) -> dict[str, Any]:
        if self.orchestrator is None:
            return {"error": "orchestrator not configured", "status": 400}
        try:
            state = await self.orchestrator.get_status(run_id)
        except RuntimeError as exc:
            return {"error": str(exc), "status": 400}
        return {"run_id": run_id, "state": state}

    # -- namespaces / tables (A16-A18) -----------------------------------------
    def namespace_create(self, name: str) -> dict[str, Any]:
        return _jsonable(self.ns.create(name))

    def namespace_list(self) -> list[dict[str, Any]]:
        return [_jsonable(r) for r in self.ns.list()]

    def namespace_get(self, id_: int) -> dict[str, Any]:
        """reference src/route/namespace.py:57-60."""
        return _jsonable(self.ns.get(id_))

    def namespace_rename(self, id_: int, name: str) -> dict[str, Any]:
        """reference src/route/namespace.py:63-74 (metadata-only
        rename; physical schema_name stable)."""
        return _jsonable(self.ns.rename(id_, name))

    def namespace_delete(self, id_: int) -> dict[str, Any]:
        self.ns.delete(id_)
        return {"deleted": id_}

    def namespace_demo_upload(self) -> dict[str, Any]:
        """reference src/route/namespace.py:99-140: register-or-reuse
        the demo namespace, then bulk register + upload every *.csv in
        the SERVER-configured demo directory (intended behavior — the
        reference handler crashes on missing imports, SURVEY.md §7).
        The directory is never client-supplied: the reference ingests
        only its fixed DemoDataPath (src/config.py:17), and accepting
        a caller path here would expose arbitrary host CSVs over HTTP
        (r8 advice). Configure via ``settings.data.demo_data_dir`` or
        the Service's ``demo_data_dir`` override."""
        from pathlib import Path

        from .config import settings

        directory = str(self.demo_data_dir
                        or settings.data.demo_data_dir)
        if not Path(directory).is_dir():
            return {"error": f"demo data directory not found: {directory}",
                    "status": 404}
        existing = self.ns.namespaces.filter(schema_name="demo")
        ns = existing[0] if existing else self.ns.create("demo")
        loaded = self.tables.demo_bulk_ingest(int(ns["id"]), directory)
        self._schema_docs_cache = None  # new tables -> docs stale
        return {"message": "OK" if loaded else "No CSV files found",
                "namespace": _jsonable(ns),
                "tables": [_jsonable(t) for t in loaded],
                "files_processed": len(loaded)}

    def table_register(self, namespace_id: int, name: str) -> dict[str, Any]:
        return _jsonable(self.tables.register(namespace_id, name))

    def table_upload(self, table_id: int, csv_path: str) -> dict[str, Any]:
        out = _jsonable(self.tables.upload_csv(table_id, csv_path))
        self._schema_docs_cache = None  # new table -> docs stale
        return out

    def table_list(self, namespace_id: int) -> dict[str, Any]:
        """reference src/route/namespace_table.py:55-65 (message +
        rows envelope)."""
        rows = [_jsonable(r) for r in self.tables.list(namespace_id)]
        return {"message": "OK" if rows else "No tables created",
                "tables": rows}

    def table_get(self, table_id: int) -> dict[str, Any]:
        """Intended behavior of reference namespace_table.py:118-122
        (which returns the *namespace* — pinned bug, SURVEY.md §7)."""
        return _jsonable(self.tables.get(table_id))

    def table_rename(self, table_id: int, name: str) -> dict[str, Any]:
        return _jsonable(self.tables.rename(table_id, name))

    def table_delete(self, table_id: int) -> dict[str, Any]:
        """Intended behavior of reference namespace_table.py:139-144
        (which deletes by namespace id — pinned bug): drop the
        physical table + metadata by TABLE id."""
        self.tables.delete(table_id)
        self._schema_docs_cache = None
        return {"deleted": table_id}

    def table_upload_jsonl(self, table_id: int,
                           jsonl_path: str) -> dict[str, Any]:
        """JSONL twin of table_upload (reference surface is CSV-only;
        same lifecycle, gates and docs-cache invalidation)."""
        out = _jsonable(self.tables.upload_jsonl(table_id, jsonl_path))
        self._schema_docs_cache = None
        return out

    # -- demo seed (reference query.http:164-169; handler absent there,
    #    intended behavior implemented) --------------------------------------
    # -- versioned tables: time travel surface (r11; the reference has
    #    no equivalent — this is the control-plane feature the table
    #    format exists to serve) ---------------------------------------
    def versioned_register(self, name: str,
                           table_dir: str) -> dict[str, Any]:
        """Expose a versioned table to the SQL surface: plain SELECTs
        see the latest snapshot; ``FOR VERSION|TIMESTAMP AS OF``
        resolves through the manifest log (gateway/time_travel.py).

        Guards (ADVICE r11): with ``versioned_data_root`` configured,
        ``table_dir`` must resolve under it (no path traversal out of
        the data area); registering a name that would SHADOW an
        existing non-versioned catalog view (e.g. ``documents``) is
        refused — createOrReplaceTempView would silently redirect
        every query against that view."""
        from pathlib import Path

        from .gateway import registered_versioned_tables

        if self.versioned_data_root is not None:
            root = Path(self.versioned_data_root).resolve()
            target = Path(table_dir).resolve()
            if not target.is_relative_to(root):
                return {"error": f"table_dir must live under "
                                 f"{root}", "status": 400}
        try:
            # a malformed identifier makes tableExists raise
            # ParseException; treat it as "no shadow" and let
            # register_versioned_table's own name validation produce
            # the clean 400 below
            exists = self.spark.catalog.tableExists(name)
        except Exception:
            exists = False
        if (exists
                and name.lower() not in registered_versioned_tables()):
            return {"error": f"{name!r} would shadow an existing "
                             f"catalog view", "status": 400}
        try:
            v = register_versioned_table(self.spark, name, table_dir)
        except VersionedTableError as exc:
            return {"error": str(exc), "status": 400}
        self._schema_docs_cache = None  # the latest-view shows in docs
        return {"name": name, "table_dir": str(table_dir), "latest": v}

    def versioned_history(self, name: str) -> dict[str, Any]:
        """The table's audit log (version, mode, committed_at, dir and
        deletion-vector counts) — the /table/{t}/history payload."""
        try:
            return {"name": name, "history": table_history(name)}
        except VersionedTableError as exc:
            return {"error": str(exc), "status": 400}

    def _versioned_dir(self, name: str) -> str:
        from .gateway import registered_versioned_tables
        tdir = registered_versioned_tables().get(name.lower())
        if tdir is None:
            raise VersionedTableError(
                f"unknown versioned table: {name!r}")
        return tdir

    def versioned_compact(self, name: str,
                          target_files: int = 8) -> dict[str, Any]:
        """Small-file repair on a registered table (re-clusters on the
        recorded sort_by intent, folds deletion vectors) and refreshes
        the latest-view."""
        from .sources.versioned import (_read_manifest, compact,
                                        latest_version)
        from pathlib import Path
        try:
            tdir = self._versioned_dir(name)
            latest = latest_version(tdir)
            if latest is None:
                raise VersionedTableError(
                    f"not a versioned table: {tdir}")
            m = _read_manifest(Path(tdir), latest)
            v = compact(self.spark, tdir, target_files=target_files,
                        sort_by=m.get("sort_by"),
                        cluster=m.get("cluster") or "auto")
            register_versioned_table(self.spark, name, tdir)
        except VersionedTableError as exc:
            return {"error": str(exc), "status": 400}
        REGISTRY.inc("versioned_service_compactions")
        return {"name": name, "version": v}

    def versioned_vacuum(self, name: str, keep_last: int = 1,
                         min_age_s: float = 3600.0) -> dict[str, Any]:
        """Retention cleanup on a registered table; returns the dirs
        deleted (time travel reaches only retained versions after)."""
        from .sources.versioned import vacuum
        try:
            tdir = self._versioned_dir(name)
            # refresh the latest-view FIRST: the registered view's
            # plan is pinned to the version current at registration;
            # vacuuming while it references an older snapshot would
            # leave a view over deleted files (review finding)
            register_versioned_table(self.spark, name, tdir)
            deleted = vacuum(tdir, keep_last=keep_last,
                             min_age_s=min_age_s)
        except VersionedTableError as exc:
            return {"error": str(exc), "status": 400}
        return {"name": name, "deleted": deleted}

    def versioned_diff(self, name: str, key: str, v_from: int,
                       v_to: int | None = None,
                       include_values: bool = False,
                       limit: int = 200) -> dict[str, Any]:
        """Row-level change feed between two versions (Delta
        table_changes shape) — capped preview through HTTP."""
        from .sources.versioned import diff_versions
        try:
            df = diff_versions(self.spark, self._versioned_dir(name),
                               key, v_from, v_to,
                               include_values=include_values)
            rows = [_jsonable(r.asDict()) for r in
                    df.limit(limit).collect()]
        except VersionedTableError as exc:
            return {"error": str(exc), "status": 400}
        return {"name": name, "v_from": v_from, "v_to": v_to,
                "changes": rows}

    # -- streaming pipes: versioned_stream source -> sink (r12 verdict
    #    item 7; completes the control-plane story the change-feed
    #    route began) ---------------------------------------------------
    def _resolve_dest_dir(self, dest: str) -> str:
        """Destination table dir for a pipe: a REGISTERED versioned
        name, or (with ``versioned_data_root`` configured) a new
        table directory under that root — same trust boundary as
        /versioned/register."""
        from .gateway import registered_versioned_tables
        tdir = registered_versioned_tables().get(dest.lower())
        if tdir is not None:
            return tdir
        if self.versioned_data_root is None:
            raise VersionedTableError(
                f"unknown versioned table: {dest!r} (register it, or "
                f"configure versioned_data_root to allow creating "
                f"new pipe destinations)")
        root = Path(self.versioned_data_root).resolve()
        target = (root / dest).resolve()
        if not target.is_relative_to(root):
            raise VersionedTableError(
                f"destination must live under {root}")
        return str(target)

    def stream_start(self, name: str, source: str, dest: str,
                     max_versions_per_batch: int | None = None,
                     starting_version: int | None = None,
                     skip_change_commits: bool = False,
                     trigger_seconds: float = 1.0) -> dict[str, Any]:
        """Start a named exactly-once pipe: versioned_stream SOURCE on
        ``source`` (a registered table) -> versioned_stream SINK into
        ``dest``, on Spark's own offset log (checkpoint lives under
        the destination table). Admission control and starting
        version pass through to the source options."""
        from .streaming import register_stream_source

        q = self._streams.get(name)
        if q is not None and q.isActive:
            return {"error": f"stream {name!r} is already running",
                    "status": 409}
        try:
            src_dir = self._versioned_dir(source)
            dest_dir = self._resolve_dest_dir(dest)
        except VersionedTableError as exc:
            return {"error": str(exc), "status": 400}
        register_stream_source(self.spark)
        reader = (self.spark.readStream.format("versioned_stream")
                  .option("path", src_dir))
        if starting_version is not None:
            reader = reader.option("startingVersion",
                                   str(starting_version))
        if max_versions_per_batch is not None:
            reader = reader.option("maxVersionsPerBatch",
                                   str(max_versions_per_batch))
        if skip_change_commits:
            reader = reader.option("skipChangeCommits", "true")
        ck = Path(dest_dir) / "_checkpoints" / f"pipe-{name}"
        q = (reader.load()
             .writeStream.format("versioned_stream")
             .option("path", dest_dir)
             .option("appId", f"pipe-{name}")
             .option("checkpointLocation", str(ck))
             .trigger(processingTime=f"{trigger_seconds} seconds")
             .queryName(f"versioned_pipe_{name}")
             .start())
        self._streams[name] = q
        REGISTRY.inc("versioned_stream_pipes_started")
        return {"name": name, "source": source, "dest": dest,
                "checkpoint": str(ck), "query_id": str(q.id),
                "active": True}

    def stream_status(self, name: str) -> dict[str, Any]:
        """Spark's own progress for a named pipe: activity, last
        micro-batch metrics, and the terminating exception if the
        query died."""
        q = self._streams.get(name)
        if q is None:
            return {"error": f"unknown stream: {name!r}",
                    "status": 404}
        exc = q.exception()
        return {"name": name, "query_id": str(q.id),
                "active": q.isActive,
                "progress": q.lastProgress,
                "exception": str(exc) if exc else None}

    def stream_list(self) -> dict[str, Any]:
        return {"streams": [
            {"name": n, "active": q.isActive, "query_id": str(q.id)}
            for n, q in self._streams.items()]}

    def stream_stop(self, name: str) -> dict[str, Any]:
        q = self._streams.get(name)
        if q is None:
            return {"error": f"unknown stream: {name!r}",
                    "status": 404}
        error: str | None = None
        try:
            q.stop()
            q.awaitTermination(60)
        except Exception as exc:  # a pipe that already DIED with an
            # error re-raises from awaitTermination — stopping a dead
            # pipe must still deregister it, not 500 forever
            error = str(exc)
        self._streams.pop(name, None)
        return {"name": name, "stopped": True, "error": error,
                "progress": q.lastProgress}

    def demo_seed_events(self, rows: int = 150_000) -> dict[str, Any]:
        """Seed the deterministic demo ``events`` table at ``rows``
        rows and register it in the session catalog."""
        from .sources.seed import seed_events
        df = seed_events(self.spark, rows)
        df.createOrReplaceTempView("events")
        self._schema_docs_cache = None  # new table -> docs stale
        return {"table": "events", "rows": df.count(), "seeded": True}


def _jsonable(row: dict[str, Any]) -> dict[str, Any]:
    return {k: (v.isoformat() if hasattr(v, "isoformat") else
                (int(v) if hasattr(v, "item") and "int" in type(v).__name__.lower()
                 else v))
            for k, v in row.items()}


def create_fastapi_app(service: CopilotService):
    """Wire the handlers to HTTP routes when FastAPI is installed."""
    from fastapi import FastAPI  # import-gated

    app = FastAPI(title="data_platform_copilot_spark")

    @app.middleware("http")
    async def _time_requests(request, call_next):
        # automatic per-route latency (reference src/main.py:43-50,
        # prometheus-fastapi-instrumentator): every request lands in
        # the http_request_ms histogram labeled by route template
        # (post-routing, so /namespace/3 aggregates under
        # /namespace/{id_}), exported with _sum/_count/_p95
        import time
        t0 = time.monotonic()
        status = "500"  # an uncaught handler exception IS a 500 —
        try:            # failing requests must land in the series too
            response = await call_next(request)
            status = str(response.status_code)
            return response
        finally:
            route = request.scope.get("route")
            # ONLY templated route paths become labels: an unmatched
            # request (404 scanner hitting /a, /b, ...) must not mint
            # one histogram series per raw URL — that is
            # client-controlled unbounded label cardinality
            path = getattr(route, "path", None) or "<unmatched>"
            REGISTRY.observe_ms("http_request_ms",
                                (time.monotonic() - t0) * 1000.0,
                                labels={"route": path,
                                        "status": status})

    # A32 parity: when a Prometheus ASGI instrumentator is installed,
    # its registry dump is merged ahead of the local series on every
    # /metrics export (reference src/main.py:43-50, src/metrics.py:
    # 54-68). Absent the packages, the native middleware above already
    # provides the per-route timing, local-only.
    # Broad except: beyond ImportError, instrument() raises
    # "Duplicated timeseries" ValueError when a SECOND app is built in
    # one process (its default collectors live in the process-global
    # prometheus registry) — app creation must survive that, keeping
    # the first wiring. The exporter reads the process-global registry
    # (prometheus_client.REGISTRY) rather than an instrumentator
    # attribute, which older instrumentator versions don't expose.
    try:  # import-gated: neither package is a hard dependency
        import prometheus_client
        from prometheus_fastapi_instrumentator import Instrumentator

        Instrumentator().instrument(app)
        REGISTRY.set_external_exporter(
            lambda: prometheus_client.generate_latest(
                prometheus_client.REGISTRY).decode("utf-8"))
    except Exception:  # noqa: BLE001 — optional-feature degradation
        pass

    app.get("/health")(service.health)
    app.get("/description")(service.description)
    app.get("/schema")(service.schema)
    app.get("/metrics")(service.metrics)
    app.post("/chat")(service.chat)
    app.post("/chat/agent")(service.chat_agent)
    app.post("/dq/profile")(service.dq_profile)
    app.post("/dq/check")(service.dq_check)
    app.post("/dbt/generate")(service.dbt_generate)
    app.post("/dbt/preview")(service.dbt_preview)
    app.post("/dbt/write")(service.dbt_write)
    app.post("/dbt/pr")(service.dbt_pr)
    app.post("/orchestrate/run")(service.orchestrate_run)
    app.get("/orchestrate/status/{run_id}")(service.orchestrate_status)
    app.post("/namespace")(service.namespace_create)
    app.get("/namespace")(service.namespace_list)
    app.get("/namespace/{id_}")(service.namespace_get)
    app.put("/namespace/{id_}")(service.namespace_rename)
    app.delete("/namespace/{id_}")(service.namespace_delete)
    app.post("/namespace/demo-upload")(service.namespace_demo_upload)
    app.post("/namespace/{namespace_id}/table")(service.table_register)
    app.get("/namespace/{namespace_id}/table")(service.table_list)
    app.get("/table/{table_id}")(service.table_get)
    app.put("/table/{table_id}")(service.table_rename)
    app.delete("/table/{table_id}")(service.table_delete)
    # table_upload is also the schema-docs cache invalidator — without
    # this route the HTTP surface could never refresh stale docs after
    # a new table (reference src/route/namespace_table.py).
    app.post("/table/{table_id}/upload")(service.table_upload)
    app.post("/table/{table_id}/upload_jsonl")(service.table_upload_jsonl)
    app.post("/schema/refresh")(
        lambda: {"markdown": service.schema_docs(refresh=True)})
    app.post("/demo/seed/events")(service.demo_seed_events)
    app.post("/views/{name}")(service.view_create)
    app.get("/views")(service.view_list)
    app.delete("/views/{name}")(service.view_delete)
    app.post("/versioned/{name}/register")(service.versioned_register)
    app.get("/versioned/{name}/history")(service.versioned_history)
    app.post("/versioned/{name}/compact")(service.versioned_compact)
    app.post("/versioned/{name}/vacuum")(service.versioned_vacuum)
    app.get("/versioned/{name}/diff")(service.versioned_diff)
    app.post("/streams/{name}/start")(service.stream_start)
    app.get("/streams/{name}/status")(service.stream_status)
    app.post("/streams/{name}/stop")(service.stream_stop)
    app.get("/streams")(service.stream_list)
    return app


def create_app():
    """No-arg ASGI factory for a real deployment (``uvicorn --factory
    data_platform_copilot_spark.service:create_app``; parity: reference
    src/main.py builds its app at import). Builds the default service
    from the settings tree — session, provider, control root — and
    bootstraps the catalog before serving.
    """
    import os

    from .chain.provider import make_provider
    from .session import get_spark

    spark = get_spark("copilot-api")
    github = orchestrator = None
    try:  # real transports only when httpx is installed
        from .integrations import (GitHubClient, OrchestratorClient,
                                   http_requester)
        req = http_requester()
        if settings.git.github_token and settings.git.github_repo:
            github = GitHubClient(req, settings.git.github_repo,
                                  settings.git.github_token)
        orchestrator = OrchestratorClient(
            req, settings.orchestration.orchestrator_api)
    except ImportError:
        pass
    service = CopilotService(
        spark, make_provider(settings.llm),
        os.environ.get("SPARK_GRAFT_CONTROL_ROOT", "/tmp/copilot_control"),
        github=github, orchestrator=orchestrator,
        default_branch=settings.git.default_branch,
        versioned_data_root=os.environ.get(
            "SPARK_GRAFT_VERSIONED_ROOT"))
    service.bootstrap()
    return create_fastapi_app(service)
