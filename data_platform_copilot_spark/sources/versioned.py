"""Manifest-versioned parquet tables — table-format-lite.

Plain ``mode("overwrite")`` on a directory is NOT atomic: a reader
listing the directory mid-write sees torn state (half the old files
deleted, half the new written), and there is no history to audit or
roll back. Table formats (Delta, Iceberg — neither installed in this
container) fix this with immutable data files + an atomically
published manifest; this module implements that core idea with
nothing but parquet and POSIX filesystem atomics:

- every commit writes data under a NEW immutable, uniquely named
  directory ``data-<version>-<token>/`` (deliberately NOT hive
  ``k=v`` style, which Spark's partition discovery would misread as
  partition values once the table itself is hive-partitioned inside
  each dir; the random token keeps concurrent writers from ever
  sharing a directory) and an immutable manifest
  ``manifest-<n>.json`` listing the data directories composing that
  version (append = previous list + new dir; overwrite = just the
  new dir; merge = new dir + carried-forward untouched partitions);
- THE commit point is the atomic create-if-absent publish of
  ``manifest-<n>.json`` (content written to a tmp file, then
  ``os.link`` — which fails with EEXIST if version ``n`` is already
  taken). This doubles as optimistic concurrency control, the Delta
  log protocol (Armbrust et al., VLDB 2020 §3.2): concurrent
  committers race for the same version number, exactly one wins,
  losers re-read the new latest and retry (append/overwrite — their
  composition commutes) or raise ``CommitConflict`` (merge — its
  rewrite was computed against a now-stale snapshot);
- ``_latest`` is a flock-serialized monotonic pointer (tmp + atomic
  ``os.replace`` under ``._latest.lock``), not the commit point;
  readers resolve latest in O(1) table age by VERIFYING the pointer
  and walking forward over the contiguous manifest tail (glob
  fallback when the pointer is missing/stale-beyond-verification) ->
  immutable manifest -> immutable files, so they always see a
  complete, consistent version (snapshot isolation for free);
- time travel = read an older manifest; compaction = rewrite the
  live file set as one new overwrite version (small-file repair
  after many appends); vacuum = delete data (and tombstone) dirs no
  live manifest references;
- upserts carry BOTH write-amplification contracts: copy-on-write
  (default; partition-scoped rewrite, zero read overhead) and
  merge-on-read deletion vectors (``merge_version(strategy="mor")``:
  update rows + a key-tombstone sidecar, a positional vector masks
  earlier dirs via broadcast anti-join at read — O(update bytes)
  merges for CDC tails of huge partitions; compact()/the next CoW
  merge folds vectors back into plain files).

Scale notes: on a real object store the manifest publish maps to a
conditional PUT / put-if-absent, manifests stay O(versions) tiny
JSON, and data files never mutate — the exact recipe in the Delta
Lake paper. Every ``_CHECKPOINT_INTERVAL`` commits the log state
(snapshot manifest + per-app txn high-water) rolls up into
``checkpoint-<n>.json`` (Delta §3.1), so txn-idempotent commits read
O(interval) manifests regardless of table age — a month-old
streaming sink at one version per micro-batch pays the same commit
cost as a fresh table. A writer crashing before its manifest publish leaves
only unreferenced directories (vacuum-able garbage), never a torn
table; a crash after publish IS a completed commit.
"""

from __future__ import annotations

import fcntl
import json
import math
import os
import re
import shutil
import tempfile
from datetime import datetime, timezone
from pathlib import Path
from urllib.parse import unquote
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import materialize_auto, read_parquet

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_MAX_COMMIT_RETRIES = 50
# Write a checkpoint every N commits (the Delta log checkpoint recipe,
# Armbrust et al. VLDB 2020 §3.1: 10 commits there too). Keeps txn
# lookups O(interval) manifest reads instead of O(versions).
_CHECKPOINT_INTERVAL = 10


class VersionedTableError(RuntimeError):
    pass


class CommitConflict(VersionedTableError):
    """A concurrent committer published this version number first and
    the caller's composition cannot be mechanically replayed (merge:
    the rewrite was computed against a stale snapshot). Re-run the
    operation against the new latest."""


def _pointer(table_dir: Path) -> Path:
    return table_dir / "_latest"


def _manifest_path(table_dir: Path, version: int) -> Path:
    return table_dir / f"manifest-{version}.json"


def _latest_version_glob(root: Path) -> int | None:
    """O(versions) authority: max over the manifest files. The slow
    path — correct on any table state, including a missing/corrupt
    ``_latest`` pointer."""
    versions = [int(p.stem.split("-", 1)[1])
                for p in root.glob("manifest-*.json")]
    return max(versions) if versions else None


def latest_version(table_dir: str | Path) -> int | None:
    """Highest PUBLISHED version, O(1) in table age (the Delta
    ``_last_checkpoint`` idea applied to the log tip): read the
    ``_latest`` pointer, VERIFY its manifest exists, then walk
    forward while ``manifest-(v+1)`` exists. Safe because versions
    are contiguous upward from the pointer — every commit publishes
    at ``prev + 1`` (create-if-absent claims the slot) and vacuum
    only drops manifests BELOW the retained floor, lowest-first, so
    the live set is suffix-shaped at every instant and the tail
    ``[pointer .. true latest]`` has no holes even mid-vacuum. The pointer advance is
    flock-serialized at publish (see ``_publish_manifest``) but a
    committer can still crash between manifest publish and pointer
    advance — the forward walk absorbs exactly that lag (O(crashed
    commits), not O(table age)). Any pointer the walk cannot verify
    (missing file, corrupt content, manifest gone — e.g. hand-rolled
    tables that never wrote one) falls back to the manifest glob."""
    root = Path(table_dir)
    p = _pointer(root)
    try:
        v = int(p.read_text().strip())
    except (OSError, ValueError):
        return _latest_version_glob(root)
    if v < 0 or not _manifest_path(root, v).exists():
        return _latest_version_glob(root)
    while _manifest_path(root, v + 1).exists():
        v += 1
    return v


def _read_manifest(table_dir: Path, version: int) -> dict:
    mp = _manifest_path(table_dir, version)
    if not mp.exists():
        raise VersionedTableError(f"no manifest for version {version}")
    return json.loads(mp.read_text())


def _checkpoint_path(table_dir: Path, version: int) -> Path:
    return table_dir / f"checkpoint-{version}.json"


def _latest_checkpoint(root: Path,
                       upto: int | None = None) -> tuple[int, dict] | None:
    """Newest committed checkpoint (version, payload) with version <=
    ``upto``, or None. One directory glob + one JSON read — this is
    what keeps txn lookups O(1) in table age."""
    versions = [int(p.stem.split("-", 1)[1])
                for p in root.glob("checkpoint-*.json")]
    if upto is not None:
        versions = [v for v in versions if v <= upto]
    for v in sorted(versions, reverse=True):
        try:
            return v, json.loads(_checkpoint_path(root, v).read_text())
        except (OSError, ValueError):
            continue  # racing vacuum/crash mid-replace: fall back
    return None


def _write_checkpoint(root: Path, version: int) -> bool:
    """Roll up the log state as of ``version`` into
    ``checkpoint-<version>.json``: the per-app txn high-water map
    ``{app: {"batch": B, "version": V}}``. Derived data, rebuilt from
    the previous checkpoint + the manifest tail (O(interval) reads,
    amortized O(1) per commit); failures are swallowed on the COMMIT
    path — a missing checkpoint only costs the reader a longer tail
    scan — but reported via the return value so vacuum (which is
    about to DELETE the manifests the rollup summarizes) can refuse
    to drop history whose txn memory was never persisted."""
    try:
        prev = _latest_checkpoint(root, version - 1)
        txn_map: dict[str, dict] = dict(prev[1].get("txn", {})) if prev \
            else {}
        start = prev[0] + 1 if prev else 0
        for i in range(start, version + 1):
            mp = _manifest_path(root, i)
            if not mp.exists():
                continue
            rec = json.loads(mp.read_text()).get("txn")
            if rec:
                cur = txn_map.get(rec["app"])
                if cur is None or rec["batch"] >= cur["batch"]:
                    txn_map[rec["app"]] = {"batch": rec["batch"],
                                           "version": i}
        # only the txn high-water map is consumed (by _txn_committed
        # and the next incremental rollup); the snapshot manifest
        # itself stays where it lives — embedding it here doubled
        # checkpoint I/O for a field nothing read (r10 review)
        payload = {"version": version, "txn": txn_map}
        fd, tmp = tempfile.mkstemp(dir=root, prefix="._checkpoint.")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(json.dumps(payload))
            # create-if-absent, NOT last-writer-wins: a committer whose
            # rollup raced a concurrent vacuum may have scanned a
            # partially deleted manifest range — but manifests only go
            # missing AFTER vacuum's own complete checkpoint at this
            # (or a later) version landed, so the first publish is
            # always the complete one and must never be clobbered
            # (r10 second review: the replace here could regress the
            # high-water map after the manifests were already gone).
            os.link(tmp, _checkpoint_path(root, version))
        except FileExistsError:
            return True  # a complete checkpoint at this version exists
        finally:
            os.unlink(tmp)  # never leak the tmp (ENOSPC path included)
        return True
    except (OSError, ValueError, VersionedTableError):
        return False


def _publish_manifest(root: Path, manifest: dict) -> None:
    """Atomically publish ``manifest-<version>.json`` iff that
    version is unclaimed — the commit point AND the optimistic-
    concurrency test (create-if-absent; losers get CommitConflict).
    ``os.link`` from a fully written tmp file guarantees readers
    never observe partial manifest content."""
    version = manifest["version"]
    # commit wall-clock (UTC): what TIMESTAMP AS OF resolves against.
    # Stamped at publish so every commit path (write/merge/compact)
    # carries it; losers re-publish with a fresh stamp.
    manifest.setdefault(
        "committed_at",
        datetime.now(timezone.utc).isoformat(timespec="microseconds"))
    fd, tmp = tempfile.mkstemp(dir=root, prefix="._manifest.")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(manifest))
        try:
            os.link(tmp, _manifest_path(root, version))
        except FileExistsError:
            raise CommitConflict(
                f"version {version} was committed concurrently")
    finally:
        os.unlink(tmp)
    if version and version % _CHECKPOINT_INTERVAL == 0:
        _write_checkpoint(root, version)
    # transactional monotonic pointer advance: check-then-replace is
    # serialized under an flock on a sidecar lock file, so two racing
    # committers can no longer regress the pointer (r13 verdict #3 —
    # readers now TRUST the pointer for O(1) latestOffset). The lock
    # is advisory and held for two tiny file ops; where the FS does
    # not honor flock the advance degrades to the old best-effort
    # race, which readers absorb anyway via latest_version's
    # verify-and-walk-forward. A committer crashing BEFORE this block
    # leaves the pointer lagging by its one commit — also absorbed by
    # the forward walk — so the pointer is never required, only fast.
    _advance_pointer(root, version)


def _advance_pointer(root: Path, version: int) -> None:
    lock = root / "._latest.lock"
    try:
        with open(lock, "a") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                p = _pointer(root)
                cur = None
                try:
                    cur = int(p.read_text().strip())
                except (OSError, ValueError):
                    cur = None
                if cur is None or cur < version:
                    fd, tmp = tempfile.mkstemp(dir=root,
                                               prefix="._latest.")
                    try:
                        with os.fdopen(fd, "w") as f:
                            f.write(str(version))
                        os.replace(tmp, p)
                    finally:
                        # a failed replace must not orphan the tmp
                        # (the swallow below would hide the leak)
                        Path(tmp).unlink(missing_ok=True)
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)
    except OSError:
        pass  # pointer is an accelerator, never a correctness gate


def _is_nan(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _stat_value_ok(v) -> bool:
    """A zone-map bound must be a JSON-faithful ORDERABLE value: int,
    float (never NaN — Spark's parquet writer emits max=NaN when a NaN
    is present, and NaN breaks both Python's fold and the pruning
    comparison, silently dropping matching rows), str, or bool."""
    return not _is_nan(v) and isinstance(v, (int, float, str, bool))


def _harvest_rows(root: Path, data_dir: str) -> int | None:
    """Exact row count of a committed dir from parquet footer
    metadata (no Spark job, no data read). None when any footer is
    unreadable — a row-count entry must be exact or absent."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return None
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows
                   for f in (root / data_dir).rglob("*.parquet"))
    except (OSError, ValueError):
        return None


def _harvest_all(root: Path, data_dir: str
                 ) -> tuple[dict[str, dict], dict[str, list]]:
    """One footer pass over a just-committed data dir -> (per-file
    zone maps, folded dir-level zone map). NO extra Spark job (the
    Delta recipe: stats ride the commit for free).

    Per file: ``{col: [min, max]}`` folded over its row groups,
    keyed by TOP-LEVEL column path only — nested leaves (``s.id``)
    are skipped, because keying by leaf NAME would collide a struct
    field with a same-named top-level column and merge (or worse,
    type-clash) their ranges. A column whose stats are missing,
    non-orderable, or NaN in ANY row group is dropped for that file
    (pruning must never be optimistic); an empty file (0 rows)
    contributes an empty map — present for coverage, prunable never.

    Dir level: the per-file maps folded with INTERSECTION semantics
    over the files that actually hold rows. Failure returns
    ``({}, {})`` — stats are an optimization, never required for
    correctness."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover — pyarrow ships with Spark
        return {}, {}
    files: dict[str, dict] = {}
    rowful: list[dict] = []
    try:
        for f in sorted((root / data_dir).rglob("*.parquet")):
            md = pq.ParquetFile(f).metadata
            cols = [(j, md.schema.column(j).path)
                    for j in range(md.num_columns)]
            cols = [(j, p) for j, p in cols if "." not in p]
            lo: dict[str, object] = {}
            hi: dict[str, object] = {}
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for j, name in cols:
                    st = row.column(j).statistics
                    if (st is None or not st.has_min_max
                            or not _stat_value_ok(st.min)
                            or not _stat_value_ok(st.max)):
                        lo[name] = hi[name] = None  # poisoned: drop
                        continue
                    if lo.get(name, st.min) is None:
                        continue
                    lo[name] = min(lo.get(name, st.min), st.min)
                    hi[name] = max(hi.get(name, st.max), st.max)
            stats = {c: [lo[c], hi[c]] for c in lo
                     if lo[c] is not None and hi[c] is not None}
            files[str(f.relative_to(root / data_dir))] = stats
            if md.num_rows > 0:
                rowful.append(stats)
    except (OSError, ValueError, TypeError):
        return {}, {}
    if not rowful:
        return files, {}
    try:
        shared = set(rowful[0])
        for s in rowful[1:]:
            shared &= set(s)
        dir_stats = {c: [min(s[c][0] for s in rowful),
                         max(s[c][1] for s in rowful)] for c in shared}
    except TypeError:
        # cross-file incomparable bounds (exotic footer): degrade to
        # stat-less, never crash a commit whose data already landed
        return files, {}
    return files, dir_stats


def _harvest_stats(root: Path, data_dir: str) -> dict[str, list]:
    """Dir-level zone map only (merge paths, where file granularity
    has no sort_by to make it pay)."""
    return _harvest_all(root, data_dir)[1]


_PART_INT = {"tinyint", "smallint", "int", "bigint"}
_PART_FLOAT = {"float", "double"}


def _harvest_partition_stats(root: Path, data_dir: str,
                             parts: list[str],
                             schema: dict) -> dict[str, list]:
    """Zone-map bounds for PARTITION columns of a hive-laid dir,
    folded from the ``k=v`` path segments (values never reach parquet
    footers, so ``_harvest_all`` cannot see them). Lets ``skip=`` /
    auto-pushdown drop a whole version dir at the MANIFEST level —
    before Spark even lists its (possibly thousands of) partition
    leaves — the per-dir analogue of Delta's partition-value stats.

    NULL leaves (``__HIVE_DEFAULT_PARTITION__``) are excluded from
    the fold, which is sound for the comparison predicates pruning
    supports: NULL satisfies none of them, so a dir whose non-null
    values prove empty holds no matching rows either. A value that
    fails to parse under the committed type poisons that column's
    stats for the dir (kept, never pruned)."""
    vals: dict[str, set] = {c: set() for c in parts}
    poisoned: set[str] = set()
    try:
        for p in (root / data_dir).rglob("*=*"):  # ONE tree walk
            if not p.is_dir():
                continue
            col, seg = p.name.split("=", 1)
            if col not in vals or col in poisoned or seg == _HIVE_NULL:
                continue
            raw = unquote(seg)
            t = (schema.get(col) or "string").split("(")[0]
            try:
                if t in _PART_INT:
                    vals[col].add(int(raw))
                elif t in _PART_FLOAT:
                    v = float(raw)
                    if _is_nan(v):
                        poisoned.add(col)
                    else:
                        vals[col].add(v)
                elif t == "boolean":
                    vals[col].add(raw == "true")
                elif t == "string":
                    vals[col].add(raw)
                else:  # date/timestamp/decimal: not stat types
                    poisoned.add(col)
            except ValueError:
                poisoned.add(col)
    except OSError:
        return {}
    return {c: [min(v), max(v)] for c, v in vals.items()
            if v and c not in poisoned}


_SKIP_OPS = {
    "=": lambda lo, hi, v: lo <= v <= hi,
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
    # IN-list: the dir may match iff ANY listed value falls inside
    # its bounds (day IN (…) on an ingest log is the bread-and-butter
    # multi-partition read)
    "in": lambda lo, hi, vs: any(lo <= v <= hi for v in vs),
}


def _dir_may_match(stats: dict | None, skip: list[tuple]) -> bool:
    """Can a dir's zone map satisfy every predicate? Missing stats or
    unknown columns keep the dir (pruning is only ever a proof of
    emptiness)."""
    if not stats:
        return True
    for col, op, val in skip:
        rng = stats.get(col)
        fn = _SKIP_OPS.get(op)
        if rng is None or fn is None:
            continue
        if _is_nan(val) or (op == "in"
                            and any(_is_nan(v) for v in val)):
            # a NaN literal never proves emptiness: Python comparisons
            # to NaN are all False while Spark orders NaN above every
            # value (and treats NaN = NaN inside IN) — pruning on it
            # would diverge from .where; the residual filter alone
            # carries the (pathological) query
            continue
        try:
            if not fn(rng[0], rng[1], val):
                return False
        except TypeError:
            continue  # incomparable literal: keep the dir
    return True


def _validate_append(prev_manifest: dict, schema: dict,
                     partition_by: list[str] | None) -> dict:
    """Additive-only evolution rule (the Delta/Iceberg default): new
    columns may appear, existing columns must keep their type — a
    silent type change would corrupt merged reads. Returns the merged
    schema. The partition layout must also stay consistent across
    composed versions (a mixed layout would silently break pruning)."""
    prev_parts = prev_manifest.get("partition_by") or []
    if (partition_by or []) != prev_parts:
        raise VersionedTableError(
            f"partition layout mismatch on append: "
            f"{partition_by} vs {prev_parts}")
    prev_schema = prev_manifest.get("schema", {})
    # compare through the canonical type spellings (defense in depth:
    # manifests written by evolve_schema normalize aliases, but an
    # externally-supplied schema dict may still say 'long'/'integer')
    def _canon(t: str) -> str:
        return _TYPE_ALIASES.get(t, t)
    clashes = {c: (prev_schema[c], t) for c, t in schema.items()
               if c in prev_schema and _canon(prev_schema[c]) != _canon(t)}
    if clashes:
        raise VersionedTableError(
            f"incompatible column types on append: {clashes}")
    # existing columns keep the manifest's spelling AND the table's
    # established column ORDER (the manifest schema drives reader
    # alignment and SELECT * order — an append's projection order
    # must never reorder it; review r13); new columns land
    # canonicalized (the stored schema never carries an alias)
    return {**prev_schema,
            **{c: _canon(t) for c, t in schema.items()
               if c not in prev_schema}}


def _txn_committed(root: Path, upto: int | None,
                   txn: tuple[str, int]) -> int | None:
    """Version whose manifest already records this (app, batch)
    transaction, or None. Reads the newest checkpoint's per-app txn
    high-water plus only the manifest TAIL after it (newest-to-oldest,
    early exit) — O(checkpoint interval) tiny-JSON reads per commit
    regardless of table age, the Delta log checkpoint recipe. Without
    a checkpoint (young table) it scans all manifests, newest first.

    When the exact pair's manifest predates the checkpoint, the scan
    from checkpoint down to 0 resolves it; if vacuum dropped those
    manifests but the checkpoint's high-water for the app covers the
    batch (``batch <= high-water``), the txn is reported committed at
    the high-water's version — Delta's txnVersion contract, which
    assumes per-app batch ids are monotone (true for the streaming
    foreachBatch sink this exists for)."""
    app, batch = txn
    if upto is None:
        return None
    ckpt = _latest_checkpoint(root, upto)
    floor = ckpt[0] + 1 if ckpt else 0
    for i in range(upto, floor - 1, -1):
        mp = _manifest_path(root, i)
        if not mp.exists():
            continue
        rec = json.loads(mp.read_text()).get("txn")
        if rec and rec.get("app") == app and rec.get("batch") == batch:
            return i
    if ckpt is None:
        return None
    hw = ckpt[1].get("txn", {}).get(app)
    if hw is None or batch > hw["batch"]:
        return None
    if batch == hw["batch"]:
        return hw["version"]
    # older-than-high-water replay (rare): exact version needs the
    # pre-checkpoint scan the fast path normally skips
    gap = False
    for i in range(ckpt[0], -1, -1):
        mp = _manifest_path(root, i)
        if not mp.exists():
            gap = True  # vacuum dropped history below the checkpoint
            continue
        rec = json.loads(mp.read_text()).get("txn")
        if rec and rec.get("app") == app and rec.get("batch") == batch:
            return i
    # the vacuumed-history fallback applies ONLY when manifests are
    # actually missing: with the full log intact, a sub-high-water
    # batch that no manifest records was genuinely never committed
    # (a batch-id skip/reset), and swallowing it as a duplicate would
    # silently drop its data (r10 review)
    return hw["version"] if gap else None


_ZORDER_NUMERIC = {"tinyint", "smallint", "int", "bigint",
                   "float", "double"}


def _apply_clustering(df: DataFrame, sort_by: list[str],
                      sort_files: int | None,
                      cluster: str) -> tuple[DataFrame, str]:
    """Physical clustering for a sorted commit; returns the clustered
    frame and the RESOLVED mode (``auto`` picks z-order for >=2
    all-numeric columns, else the pre-r11 lexicographic layout — only
    an EXPLICIT ``zorder`` raises on non-numeric columns).

    ``range``: range-partition + lexicographic in-file sort —
    per-file zone maps are DISJOINT slices of the leading column (a
    point read touches one file) but carry no locality for trailing
    columns. ``zorder``: bucketize each dimension to 8 bits against
    its observed [min, max] (one tiny extra aggregate, broadcast into
    the write) and Morton-interleave (``operators/layout.py``) — every
    listed column gets NARROW per-file ranges, so a two-column range
    predicate prunes files on either/both columns instead of only the
    leading one. Pure JVM expressions; the curve key is dropped
    before writing.

    The default file count is pinned to the session's
    shuffle-partition setting EXPLICITLY: an argless
    repartitionByRange participates in AQE partition coalescing,
    which on an AQE-on session (cluster masters) folds a small sorted
    commit into one file — silently discarding the disjoint per-file
    zone maps the caller asked for (found by the r11 cluster-mode
    suite run). An explicit count bypasses AQE and keeps the
    documented contract on every master."""
    if sort_files is None:
        try:
            sort_files = int(df.sparkSession.conf.get(
                "spark.sql.shuffle.partitions"))
        except (ValueError, TypeError):  # exotic conf ("auto"):
            sort_files = None            # let the engine decide
    dtypes = dict(df.dtypes)
    bad = [c for c in sort_by
           if dtypes.get(c, "").split("(")[0] not in _ZORDER_NUMERIC]
    mode = cluster
    if cluster == "auto":
        mode = "zorder" if len(sort_by) > 1 and not bad else "range"
    if mode == "range":
        cols = [F.col(c) for c in sort_by]
        df = (df.repartitionByRange(sort_files, *cols) if sort_files
              else df.repartitionByRange(*cols))
        return df.sortWithinPartitions(*sort_by), mode
    if bad:
        raise VersionedTableError(
            f"z-order clustering needs numeric sort_by columns, got "
            f"{bad}; pass cluster='range' for lexicographic layout")
    from ..operators.layout import bucketize_minmax, interleave_many
    aggs = []
    for i, c in enumerate(sort_by):
        aggs += [F.min(c).alias(f"__mn{i}"), F.max(c).alias(f"__mx{i}")]
    helpers = [f"__{p}{i}" for i in range(len(sort_by))
               for p in ("mn", "mx")]
    dims = [bucketize_minmax(F.col(c), F.col(f"__mn{i}"),
                             F.col(f"__mx{i}"))
            for i, c in enumerate(sort_by)]
    df = (df.join(F.broadcast(df.agg(*aggs)))
          .withColumn("__zkey", interleave_many(dims))
          .drop(*helpers))
    df = (df.repartitionByRange(sort_files, F.col("__zkey"))
          if sort_files else df.repartitionByRange(F.col("__zkey")))
    return df.sortWithinPartitions("__zkey").drop("__zkey"), mode


def write_version(df: DataFrame, table_dir: str | Path,
                  mode: str = "append",
                  partition_by: list[str] | None = None,
                  txn: tuple[str, int] | None = None,
                  expected_latest: int | None = None,
                  sort_by: list[str] | None = None,
                  sort_files: int | None = None,
                  cluster: str = "auto") -> int:
    """Commit ``df`` as the table's next version; returns it.

    ``append`` composes the new data dir with the previous version's
    list; ``overwrite`` replaces the list. The data is written ONCE
    to a uniquely named directory; the commit point is the atomic
    manifest publish. On a concurrent-commit collision the loser
    retries the PUBLISH only (recomposing an append against the new
    latest — appends commute; overwrite is last-writer-wins), never
    rewriting the data.

    ``partition_by`` lays each version dir out hive-partitioned
    (``col=value/`` subdirs), so reads with a filter on those columns
    prune whole directories — the mechanism that keeps a 100 TB
    versioned table scannable. The layout is recorded in the manifest
    and must stay consistent across appends.

    ``txn=(app_id, batch_id)`` makes the commit IDEMPOTENT per
    transaction id (Delta's txnAppId/txnVersion recipe): if any
    committed manifest already records the pair, the write is a
    no-op returning that existing version — the contract a streaming
    foreachBatch sink needs, since restart replays deliver the last
    batch at-least-once. The check re-runs inside the CAS retry loop,
    so even a racing duplicate commit of the same txn serializes to
    exactly one data-bearing version.

    ``expected_latest`` pins the commit to prev == that version: a
    commit interleaving after the caller's snapshot read raises
    CommitConflict instead of being retried (the caller's ``df`` was
    DERIVED from that snapshot, so a blind retry would drop the
    interleaved rows — the read-compute-overwrite shape compact()
    uses; plain overwrite callers replacing the table with external
    data keep last-writer-wins).

    ``sort_by`` clusters the written files on the given columns
    (range-partition + in-file sort) so their zone maps carry
    DISJOINT ranges, and records per-FILE stats in the manifest:
    ``read_version(skip=...)`` then prunes at file granularity — a
    point/range read of a sorted commit touches one file, not the
    dir. ``sort_files`` controls the sorted file count (default: the
    session's shuffle-partition setting — size it like any output
    file count; compact() repairs a spray but drops the clustering).
    Unpartitioned tables only (hive layouts already cluster by the
    partition columns).

    ``cluster`` picks the multi-column layout: ``"auto"`` (default)
    is lexicographic range clustering for one sort column and Morton
    z-order interleaving for two or more (numeric columns only —
    Delta/Iceberg OPTIMIZE ZORDER); ``"range"`` forces lexicographic,
    ``"zorder"`` forces the curve. Under lexicographic sort a range
    predicate on a TRAILING column reads every file; z-order gives
    every listed dimension narrow per-file zone maps — see
    ``_apply_clustering``.
    """
    if mode not in ("append", "overwrite"):
        raise VersionedTableError(f"unsupported mode: {mode}")
    if sort_by and partition_by:
        raise VersionedTableError(
            "sort_by applies to unpartitioned tables (hive layouts "
            "already cluster by the partition columns)")
    if sort_files is not None and (not sort_by or sort_files < 1):
        raise VersionedTableError(
            "sort_files requires sort_by and a positive file count")
    if cluster not in ("auto", "range", "zorder"):
        raise VersionedTableError(f"unknown cluster mode: {cluster!r}")
    if cluster == "zorder" and (not sort_by or len(sort_by) < 2):
        raise VersionedTableError(
            "cluster='zorder' needs at least two sort_by columns")
    root = Path(table_dir)
    root.mkdir(parents=True, exist_ok=True)
    token = uuid4().hex[:8]
    prev = latest_version(root)
    if expected_latest is not None and prev != expected_latest:
        raise CommitConflict(
            f"expected latest {expected_latest}, found {prev}")
    if txn is not None:
        done = _txn_committed(root, prev, txn)
        if done is not None:
            return done
    version = 0 if prev is None else prev + 1
    own_schema = dict(df.dtypes)
    if mode == "append" and prev is not None:
        # validate BEFORE paying the data write: a layout/type
        # mismatch must not cost a full dataset write that then gets
        # orphaned (the retry loop re-validates against whatever the
        # new latest is, with cleanup)
        _validate_append(_read_manifest(root, prev), dict(own_schema),
                         partition_by)
    data_dir = f"data-{version}-{token}"
    cluster_mode = None
    if sort_by:
        df, cluster_mode = _apply_clustering(df, sort_by, sort_files,
                                             cluster)
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(root / data_dir))
    own_file_stats, own_stats = _harvest_all(root, data_dir)
    if not sort_by:
        own_file_stats = {}  # file granularity pays only when sorted
    if partition_by:
        # partition values live in path segments, not footers: fold
        # them into the dir zone map so skip/auto-pushdown can drop
        # whole version dirs before listing their partition leaves
        own_stats = {**own_stats, **_harvest_partition_stats(
            root, data_dir, partition_by, own_schema)}
    own_rows = _harvest_rows(root, data_dir)
    return _publish_data_dir(root, data_dir, token, version, prev,
                             mode, own_schema, own_stats,
                             own_file_stats, own_rows, partition_by,
                             txn, expected_latest, sort_by,
                             cluster_mode)


def commit_staged_files(table_dir: str | Path,
                        staged_names: list[str], schema: dict,
                        txn: tuple[str, int] | None = None) -> int:
    """Commit parquet files already staged under
    ``<table_dir>/_stage`` as the table's next APPEND version — the
    driver half of the streaming SINK format
    (``streaming/stream_source.py``): executors write their
    partitions' files with pyarrow, and this composes/publishes the
    manifest through the identical CAS/txn protocol as
    ``write_version`` (``_publish_data_dir``), Spark-free. An empty
    batch (no staged files) commits nothing and returns the current
    latest (idempotent under replay by construction). ``txn`` makes
    the commit exactly-once per (app, batch): a replayed or racing
    duplicate unlinks its stage and returns the recorded version."""
    root = Path(table_dir)
    root.mkdir(parents=True, exist_ok=True)
    stage = root / "_stage"
    paths = [stage / n for n in staged_names]
    prev = latest_version(root)
    if not paths:
        return prev if prev is not None else -1
    if txn is not None:
        done = _txn_committed(root, prev, txn)
        if done is not None:
            for p in paths:
                p.unlink(missing_ok=True)
            return done
    own_schema = dict(schema)
    if prev is not None:
        try:
            _validate_append(_read_manifest(root, prev), own_schema,
                             None)
        except VersionedTableError:
            for p in paths:
                p.unlink(missing_ok=True)
            raise
    version = 0 if prev is None else prev + 1
    token = uuid4().hex[:8]
    data_dir = f"data-{version}-{token}"
    (root / data_dir).mkdir()
    for i, p in enumerate(paths):
        os.replace(p, root / data_dir / f"part-{i:05d}.parquet")
    own_file_stats, own_stats = _harvest_all(root, data_dir)
    own_rows = _harvest_rows(root, data_dir)
    return _publish_data_dir(root, data_dir, token, version, prev,
                             "append", own_schema, own_stats,
                             {},  # unsorted files: no file stats
                             own_rows, None, txn, None, None, None)


def _publish_data_dir(root: Path, data_dir: str, token: str,
                      version: int, prev: int | None, mode: str,
                      own_schema: dict, own_stats: dict,
                      own_file_stats: dict, own_rows: int | None,
                      partition_by: list[str] | None,
                      txn: tuple[str, int] | None,
                      expected_latest: int | None,
                      sort_by: list[str] | None,
                      cluster_mode: str | None) -> int:
    """Compose-and-publish half of a data commit (extracted verbatim
    from ``write_version`` r12 so the streaming SINK format can
    commit worker-staged files through the identical CAS/txn/carry
    protocol): given an already-written ``data_dir`` and its
    harvested stats, compose the next manifest against the current
    latest and publish with conflict retries. On a CAS loss the
    still-unpublished dir is renamed to the bumped version (readers
    only ever follow manifest entries)."""
    for _ in range(_MAX_COMMIT_RETRIES):
        dirs, schema = [data_dir], dict(own_schema)
        dir_schemas = {data_dir: own_schema}
        dir_stats = {data_dir: own_stats} if own_stats else {}
        file_stats = {data_dir: own_file_stats} if own_file_stats else {}
        dir_rows = {data_dir: own_rows} if own_rows is not None else {}
        delete_vectors = None
        carried_sort = carried_cluster = None
        dir_partition_map = None
        carried_renames = None
        if mode == "append" and prev is not None:
            prev_manifest = _read_manifest(root, prev)
            carried_renames = prev_manifest.get("dir_renames")
            carried_sort = prev_manifest.get("sort_by")
            carried_cluster = prev_manifest.get("cluster")
            dir_partition_map = prev_manifest.get("dir_partition_by")
            try:
                schema = _validate_append(prev_manifest, schema,
                                          partition_by)
            except VersionedTableError:
                # a post-conflict re-validation failed against the
                # NEW latest: don't leave the written data as orphan
                shutil.rmtree(root / data_dir, ignore_errors=True)
                raise
            dirs = prev_manifest["data_dirs"] + dirs
            dir_schemas = {**prev_manifest.get("dir_schemas", {}),
                           data_dir: own_schema}
            dir_stats = {**prev_manifest.get("dir_stats", {}),
                         **dir_stats}
            file_stats = {**prev_manifest.get("file_stats", {}),
                          **file_stats}
            dir_rows = {**prev_manifest.get("dir_rows", {}),
                        **dir_rows}
            # carry live deletion vectors: appending at the END keeps
            # every vector's after_index prefix valid, and the new
            # rows land after every merge point, so they are never
            # masked (a re-inserted key survives)
            delete_vectors = prev_manifest.get("delete_vectors")
        if version != int(data_dir.split("-")[1]):
            # keep the dir name honest after a version bump (cosmetic:
            # readers only ever follow manifest entries)
            new_name = f"data-{version}-{token}"
            os.rename(root / data_dir, root / new_name)
            dir_schemas[new_name] = dir_schemas.pop(data_dir)
            if data_dir in dir_stats:
                dir_stats[new_name] = dir_stats.pop(data_dir)
            if data_dir in file_stats:
                file_stats[new_name] = file_stats.pop(data_dir)
            if data_dir in dir_rows:
                dir_rows[new_name] = dir_rows.pop(data_dir)
            data_dir = new_name
            dirs[-1] = new_name
        manifest = {"version": version, "mode": mode, "data_dirs": dirs,
                    "schema": schema, "partition_by": partition_by or [],
                    # per-dir file schemas: lets the reader collapse
                    # same-schema unpartitioned dirs into ONE
                    # multi-path scan (a 60-append table is otherwise
                    # a 60-branch union costing seconds of analysis)
                    "dir_schemas": {d: dir_schemas[d] for d in dirs
                                    if d in dir_schemas}}
        # clustering intent: recorded when this commit sorts, carried
        # forward on append (the table stays "meant to be clustered
        # on X" even though one appended tail dir isn't — file_stats
        # presence marks which dirs actually are); an unsorted
        # overwrite clears it (new layout)
        if sort_by:
            manifest["sort_by"] = list(sort_by)
            manifest["cluster"] = cluster_mode
        elif carried_sort:
            manifest["sort_by"] = carried_sort
            if carried_cluster:
                manifest["cluster"] = carried_cluster
        if dir_partition_map is not None:
            # evolved table: per-dir layout map rides every append,
            # with the new dir recorded under the CURRENT spec
            evolved = dict(dir_partition_map)
            if partition_by:
                evolved[data_dir] = list(partition_by)
            manifest["dir_partition_by"] = evolved
        if carried_renames:
            # schema-evolved table: physical->logical rename maps ride
            # every append (the new dir writes logical names directly
            # and needs no entry)
            manifest["dir_renames"] = {
                d: carried_renames[d] for d in dirs
                if d in carried_renames}
        if dir_stats:
            # zone maps: per-dir column [min,max] from the parquet
            # footers — read_version(skip=...) drops dirs these prove
            # empty for a predicate, before any Spark plan is built
            manifest["dir_stats"] = {d: dir_stats[d] for d in dirs
                                     if d in dir_stats}
        if file_stats:
            # file-granular zone maps for sort_by commits: disjoint
            # per-file ranges -> skip selects individual files
            manifest["file_stats"] = {d: file_stats[d] for d in dirs
                                      if d in file_stats}
        if dir_rows:
            # exact per-dir row counts from footers: table_rows()
            # answers COUNT(*) from metadata, and the MoR masked-
            # ratio auto-compaction policy reads its denominator here
            manifest["dir_rows"] = {d: dir_rows[d] for d in dirs
                                    if d in dir_rows}
        if delete_vectors:
            manifest["delete_vectors"] = delete_vectors
        if txn is not None:
            manifest["txn"] = {"app": txn[0], "batch": txn[1]}
        try:
            _publish_manifest(root, manifest)
            return version
        except CommitConflict:
            prev = latest_version(root)
            if txn is not None:
                done = _txn_committed(root, prev, txn)
                if done is not None:
                    # a racing replay of the SAME txn won: drop our
                    # duplicate data dir (unreferenced) and succeed
                    shutil.rmtree(root / data_dir, ignore_errors=True)
                    return done
            if expected_latest is not None:
                # the caller's df was derived from expected_latest's
                # snapshot; a blind republish would drop the
                # interleaved commit — surface the conflict instead
                shutil.rmtree(root / data_dir, ignore_errors=True)
                raise
            version = 0 if prev is None else prev + 1
    raise VersionedTableError(
        f"commit contention: gave up after {_MAX_COMMIT_RETRIES} retries")




def _partition_segments(entry: str) -> list[tuple[str, str | None]]:
    """``k=v`` path segments of a manifest entry (a carried-forward
    partition leaf like ``data-3-ab12cd34/region=EU``), decoded the
    way Spark's hive layout encodes them."""
    segs = []
    for seg in Path(entry).parts[1:]:
        if "=" not in seg:
            continue
        k, raw = seg.split("=", 1)
        segs.append((k, None if raw == _HIVE_NULL else unquote(raw)))
    return segs


def _read_dirs(spark: SparkSession, root: Path, dirs: list[str],
               manifest: dict,
               paths_override: dict[str, list[str]] | None = None
               ) -> DataFrame:
    """Union the given manifest entries into one frame.

    One read PER dir, unioned by name: (a) additive evolution —
    later dirs may carry columns earlier ones lack, and a single
    multi-path read takes the first file's schema and silently
    DROPS them (mergeSchema only merges within one discovery);
    (b) hive-partitioned version dirs confuse multi-path partition
    discovery (CONFLICTING_DIRECTORY_STRUCTURES). Filters still
    push into every branch, so partition pruning is unaffected.
    Carried-forward partition-leaf entries (from partition-scoped
    merges) re-add their partition columns as typed literals — a
    filter on them constant-folds per branch, which IS the pruning.

    Partition evolution (``evolve_partitioning``): a manifest
    carrying ``dir_partition_by`` records each dir's OWN layout;
    the branch reads below then span layout generations — hive
    discovery prunes each old dir on its own keys, new dirs read
    under the current spec, and the union merges by name (a column
    a generation no longer partitions by simply arrives as data, or
    as NULL where it never existed — Iceberg's spec-per-manifest
    contract).

    Schema evolution (``evolve_schema``): each branch applies its
    dir's physical->logical renames (``dir_renames``), casts any
    column whose physical type differs from the manifest schema
    (type widening — old int segments read as long), and after the
    union every manifest column no dir carries yet (added by
    ``add_columns``) is null-filled at its declared type — the
    Delta/Iceberg read contract, resolved per segment with zero data
    rewrites.
    """
    schema = manifest.get("schema", {})
    frames = []
    parts = manifest.get("partition_by") or []
    dir_parts = manifest.get("dir_partition_by")
    dir_renames = manifest.get("dir_renames") or {}

    def parts_of(d: str) -> list[str]:
        if dir_parts is not None:
            return dir_parts.get(d) or []
        return parts
    dir_schemas = manifest.get("dir_schemas") or {}

    def paths(d: str) -> list[str]:
        override = (paths_override or {}).get(d)
        return ([str(root / p) for p in override] if override
                else [str(root / d)])

    def align(df: DataFrame, d: str) -> DataFrame:
        # physical -> logical renames, then widen-casts to the
        # manifest schema (also pins hive-inferred partition dtypes)
        for phys, logical in (dir_renames.get(d) or {}).items():
            if phys in df.columns:
                df = df.withColumnRenamed(phys, logical)
        dtypes = dict(df.dtypes)
        for col, want in schema.items():
            if col in dtypes and dtypes[col] != want:
                df = df.withColumn(col, F.col(col).cast(want))
        return df

    if (not parts and not any(parts_of(d) for d in dirs)
            and all(d in dir_schemas for d in dirs)):
        # Fast path (the streaming-append shape): dirs with IDENTICAL
        # file schemas collapse into ONE multi-path relation — one
        # file index, one scan, O(1) plan nodes instead of an
        # N-branch union whose analysis cost grows with the append
        # count (measured: 60 appends = 4.8 s plan build + 3.1 s
        # count as a union; 0.1 s as grouped scans). Schema-evolution
        # boundaries (including differing rename maps) start a new
        # group; groups still union by name.
        groups: dict[tuple, list[str]] = {}
        for d in dirs:
            fp = (tuple(sorted(dir_schemas[d].items())),
                  tuple(sorted((dir_renames.get(d) or {}).items())))
            groups.setdefault(fp, []).append(d)
        frames = [align(read_parquet(
                      spark, [p for d in g for p in paths(d)],
                      _ddl(dir_schemas[g[0]])), g[0])
                  for g in groups.values()]
    else:
        for d in dirs:
            df = read_parquet(spark, paths(d),
                              _ddl(dir_schemas.get(d) or {}))
            for col, val in _partition_segments(d):
                df = df.withColumn(
                    col, F.lit(val).cast(schema.get(col, "string")))
            frames.append(align(df, d))
    out = frames[0]
    for p in frames[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    for col, want in schema.items():
        if col not in out.columns:  # evolve_schema(add_columns=...)
            out = out.withColumn(col, F.lit(None).cast(want))
    return out


def _ddl(schema: dict[str, str]) -> str:
    """A manifest schema (column -> ``dtypes`` spelling) as DDL."""
    return ", ".join(f"`{c}` {t}" for c, t in schema.items())


def _empty_frame(spark: SparkSession, manifest: dict) -> DataFrame:
    return spark.createDataFrame(
        [], _ddl(manifest.get("schema", {})) or "__empty__ int")


try:  # subclass hook needs the classic (py4j) DataFrame
    from pyspark.sql.classic.dataframe import DataFrame as _BaseFrame
except ImportError:  # pragma: no cover — older layout
    _BaseFrame = DataFrame

_SKIP_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}
_SKIP_EXPR_OPS = {"EqualTo": "=", "LessThan": "<",
                  "LessThanOrEqual": "<=", "GreaterThan": ">",
                  "GreaterThanOrEqual": ">="}
# zone-map bounds are only ever int/float/str/bool (_stat_value_ok),
# so only literals of these types can prove a dir empty
_SKIP_LITERAL_TYPES = {"integer", "long", "short", "byte", "double",
                       "float", "string", "boolean"}


def _skip_literal(e):
    """Resolved Catalyst ``Literal`` (possibly under value-preserving
    numeric/string ``Cast``s the analyzer inserted) -> the Python value
    the ``skip=`` API takes, or None when the shape/type can never
    match a zone-map bound."""
    while e.getClass().getSimpleName() == "Cast":
        if e.dataType().typeName() not in _SKIP_LITERAL_TYPES:
            return None  # e.g. string->timestamp: not stats-comparable
        e = e.child()
    if e.getClass().getSimpleName() != "Literal":
        return None
    t = e.dataType().typeName()
    if t not in _SKIP_LITERAL_TYPES:
        return None
    v = e.value()
    if v is None:
        return None
    if t == "string":
        return v.toString()  # UTF8String -> str
    if t == "boolean":
        return bool(v)
    if t in ("double", "float"):
        return float(v)
    return int(v)


_INT_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _unwrap_attr(e):
    """AttributeReference possibly under EXACT-widening casts the
    analyzer inserted (integer-family upcasts, float->double), or
    None. Lossy widenings (long->float/double can round) and
    narrowings are unsafe to see through — a predicate on the cast
    value is then not a predicate on the stored bounds."""
    while e.getClass().getSimpleName() == "Cast":
        child = e.child()
        try:
            t = e.dataType().typeName()
            ct = child.dataType().typeName()
        except Exception:
            return None
        int_widen = (t in _INT_RANK and ct in _INT_RANK
                     and _INT_RANK[t] >= _INT_RANK[ct])
        if not (int_widen or (ct == "float" and t == "double")):
            return None
        e = child
    return e if e.getClass().getSimpleName() == "AttributeReference" \
        else None


def _extract_skip_preds(filtered: DataFrame) -> list[tuple]:
    """Walk the analyzed plan's top Filter condition and collect the
    conjunctive ``col op literal`` predicates ``_dir_may_match`` can
    prune on. Anything else — OR branches, casts/expressions on the
    column side, multi-column terms — contributes nothing; the caller
    always re-applies the FULL condition as a row filter, so
    extraction is a pure optimization and never changes results."""
    try:
        plan = filtered._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "Filter":
            return []
        return _skip_preds_from_condition(plan.condition())
    except Exception:  # py4j surface drift: never break a filter
        return []


def _skip_preds_from_condition(condition) -> list[tuple]:
    """Conjunctive ``(col, op, literal)`` skip predicates from a
    catalyst boolean expression (works on analyzed AND optimized plan
    conditions — both carry AttributeReferences). Shared by
    ``_AutoSkipFrame`` and the gateway's SQL-surface pruning
    (``gateway.time_travel``)."""
    out: list[tuple] = []
    try:
        stack = [condition]
        while stack:
            e = stack.pop()
            name = e.getClass().getSimpleName()
            if name == "And":
                stack += [e.left(), e.right()]
                continue
            if name == "In":  # col IN (literal, ...)
                attr = _unwrap_attr(e.value())
                if attr is None:
                    continue
                lst = e.list()
                vals = [_skip_literal(lst.apply(i))
                        for i in range(lst.size())]
                if vals and all(v is not None for v in vals):
                    out.append((str(attr.name()), "in", tuple(vals)))
                continue
            op = _SKIP_EXPR_OPS.get(name)
            if op is None:
                continue
            left, right = e.left(), e.right()
            lattr, rattr = _unwrap_attr(left), _unwrap_attr(right)
            if lattr is not None:
                val = _skip_literal(right)
                if val is not None:
                    out.append((str(lattr.name()), op, val))
            elif rattr is not None:
                val = _skip_literal(left)
                if val is not None:
                    out.append((str(rattr.name()), _SKIP_FLIP[op], val))
    except Exception:  # py4j surface drift: never break a filter
        return []
    return out


def _skip_for_dir(manifest: dict, d: str,
                  skip: list[tuple] | None) -> list[tuple]:
    """Translate a (logical-name) skip list to dir ``d``'s PHYSICAL
    column names. Footer stats are keyed by physical names; after an
    ``evolve_schema`` rename, a logical predicate must prune against
    the physical column it actually maps to — and never against an
    unrelated physical column that merely shares the name (an earlier
    rename may have freed it). Preds on columns with no physical
    counterpart in this dir are dropped (the dir is simply kept for
    them — skipping is only ever a proof of emptiness)."""
    ren = (manifest.get("dir_renames") or {}).get(d)
    if not ren:
        return skip or []
    phys_cols = ((manifest.get("dir_schemas") or {}).get(d) or {}).keys()
    if phys_cols:
        inv = {ren.get(p, p): p for p in phys_cols}
    else:  # no per-dir schema recorded: invert the map itself and
        # refuse physical names the map renamed away
        inv = {v: k for k, v in ren.items()}
    out = []
    for (c, op, v) in (skip or []):
        p = inv.get(c)
        if p is None and not phys_cols and c not in ren:
            p = c  # identity outside the rename map
        if p is not None:
            out.append((p, op, v))
    return out


def _prospective_selection(manifest: dict, skip: list[tuple]):
    """Cheap (pure-manifest, no disk IO) fingerprint of what a skip
    list would keep: the surviving dir tuple plus the file-level
    prunes the recorded stats would allow. Used to decide whether a
    new ``.where`` actually changes the physical selection — if not,
    the auto-pushdown frame skips the re-plan entirely, so
    non-pruning filters (the common case) cost nothing over a plain
    ``DataFrame.filter``. Slightly optimistic about file pruning
    (the real read re-checks stats coverage against the dir's actual
    files), which can only cause a harmless extra re-plan."""
    dirs = manifest["data_dirs"]
    stats = manifest.get("dir_stats") or {}
    fstats = manifest.get("file_stats") or {}
    kept = tuple(
        d for d in dirs
        if not skip or _dir_may_match(stats.get(d),
                                      _skip_for_dir(manifest, d, skip)))
    pruned_files = tuple(sorted(
        (d, f) for d in kept for f, st in (fstats.get(d) or {}).items()
        if skip and not _dir_may_match(st,
                                       _skip_for_dir(manifest, d, skip))))
    return kept, pruned_files


def _attr_simple_name(node) -> str | None:
    """Simple (single-part, unqualified) name of an UnresolvedAttribute
    ColumnNode, else None. Qualified refs (``t.a``) bail — within a
    single-table frame they name another lineage."""
    try:
        if node.getClass().getSimpleName() != "UnresolvedAttribute":
            return None
        parts = node.nameParts()
        if parts.size() != 1:
            return None
        return str(parts.apply(0))
    except Exception:
        return None


def _col_source(c) -> tuple[str | None, str | None]:
    """(output_name, source_attr_name) for a select/withColumn/drop
    argument. ``source_attr_name`` is None when the expression is
    computed (anything but a direct, possibly-aliased, attribute
    reference) — such an output can never drive zone-map pruning.
    ``output_name`` is None when it cannot be determined statically
    (callers treat that output as untracked, which is safe: auto-named
    computed columns get parenthesised names that cannot collide with
    identifier keys). Spark 4 ColumnNode API (``Column.node``)."""
    if isinstance(c, str):
        return c, c
    try:
        node = c._jc.node()
        cls = node.getClass().getSimpleName()
        if cls == "Alias":
            names = node.name()
            out = str(names.apply(0)) if names.size() == 1 else None
            return out, _attr_simple_name(node.child())
        if cls == "UnresolvedAttribute":
            n = _attr_simple_name(node)
            return n, n
        return None, None
    except Exception:
        return None, None


_SE_IDENT = r"[A-Za-z_][A-Za-z_0-9]*"
_SE_BARE_RE = re.compile(rf"^\s*({_SE_IDENT})\s*$")
_SE_ALIAS_RE = re.compile(rf"^\s*({_SE_IDENT})\s+as\s+({_SE_IDENT})\s*$",
                          re.IGNORECASE)


def _selectexpr_source(expr_str: str) -> tuple[str | None, str | None]:
    """(output_name, source_name) for a ``selectExpr`` string when it
    is a bare identifier or ``ident AS alias``; (None, None) for
    anything computed."""
    m = _SE_BARE_RE.match(expr_str)
    if m:
        return m.group(1), m.group(1)
    m = _SE_ALIAS_RE.match(expr_str)
    if m:
        return m.group(2), m.group(1)
    return None, None


class _AutoSkipFrame(_BaseFrame):
    """What ``read_version`` returns: a plain DataFrame except that
    ``.where``/``.filter`` re-derives the manifest-level skip list
    from the predicate and re-plans the read over the pruned dir/file
    set — zone-map skipping fires for normal query code, not just
    callers that hand-pass ``skip=``. Pruning only ever drops
    dirs/files whose committed footer stats PROVE them empty under
    the extracted conjuncts, and the full original condition is
    re-applied as a row filter, so semantics are exactly
    ``DataFrame.filter``.

    Pruning survives projection chaining (r11 verdict item 2):
    ``select`` / ``selectExpr`` / ``withColumn`` / ``withColumnRenamed``
    / ``drop`` return auto-skip frames carrying (a) the replay list of
    operations applied so far and (b) a column map from current output
    names to STORED column names, maintained only through direct
    (possibly aliased/renamed) attribute references — a computed or
    shadowed output is dropped from the map, so a later filter on it
    can never prune against the wrong stored column's stats. On a
    pruning re-plan the stored table is re-read with the extended skip
    list and the full op chain is replayed on top.

    Falls back to a plain filter when the chain cannot be re-bound to
    the re-planned read (e.g. a condition references another
    DataFrame's resolved attributes); every such fallback increments
    the ``versioned_pushdown_fallback`` counter so the test suite can
    pin fallback count == 0 over the supported surface."""

    def __new__(cls, *args, **kwargs):
        # the abstract pyspark DataFrame overrides __new__ to dispatch
        # classic vs connect from (jdf, session) args; bypass it — the
        # class is already the classic subclass
        return object.__new__(cls)

    def __init__(self, df: DataFrame, reread, skip: list[tuple],
                 ops: list, manifest: dict | None = None,
                 colmap: dict[str, str] | None = None):
        super().__init__(df._jdf, df.sparkSession)
        self._vt_reread = reread
        self._vt_skip = list(skip)
        self._vt_ops = list(ops)
        self._vt_manifest = manifest
        if colmap is None:
            colmap = {c.lower(): c for c in df.columns}
        self._vt_colmap = dict(colmap)

    # -- lineage-preserving projections ---------------------------------
    def _vt_child(self, plain: DataFrame, colmap: dict[str, str],
                  replay) -> "DataFrame":
        try:
            return _AutoSkipFrame(plain, self._vt_reread, self._vt_skip,
                                  self._vt_ops + [replay],
                                  self._vt_manifest, colmap)
        except Exception:  # pragma: no cover — defensive
            return plain

    def select(self, *cols):
        plain = super().select(*cols)
        out_names: list[str] = []
        newmap: dict[str, str] = {}
        for c in cols:
            if isinstance(c, str) and c == "*":
                out_names.extend(self._vt_colmap.keys())
                for k, v in self._vt_colmap.items():
                    newmap.setdefault(k, v)
                continue
            out, src = _col_source(c)
            if out is None:
                continue
            out_names.append(out.lower())
            stored = self._vt_colmap.get(src.lower()) if src else None
            if stored is not None:
                newmap[out.lower()] = stored
        # duplicate output names are ambiguous to a later filter —
        # never prune through them
        from collections import Counter
        for n, k in Counter(out_names).items():
            if k > 1:
                newmap.pop(n, None)
        return self._vt_child(plain, newmap,
                              lambda df: df.select(*cols))

    def selectExpr(self, *expr):
        plain = super().selectExpr(*expr)
        out_names: list[str] = []
        newmap: dict[str, str] = {}
        for s in expr:
            out, src = _selectexpr_source(s)
            if out is None:
                continue
            out_names.append(out.lower())
            stored = self._vt_colmap.get(src.lower()) if src else None
            if stored is not None:
                newmap[out.lower()] = stored
        from collections import Counter
        for n, k in Counter(out_names).items():
            if k > 1:
                newmap.pop(n, None)
        return self._vt_child(plain, newmap,
                              lambda df: df.selectExpr(*expr))

    def withColumn(self, colName, col):
        plain = super().withColumn(colName, col)
        newmap = dict(self._vt_colmap)
        _, src = _col_source(col)
        stored = self._vt_colmap.get(src.lower()) if src else None
        if stored is not None:
            newmap[colName.lower()] = stored
        else:
            newmap.pop(colName.lower(), None)
        return self._vt_child(plain, newmap,
                              lambda df: df.withColumn(colName, col))

    def withColumnRenamed(self, existing, new):
        plain = super().withColumnRenamed(existing, new)
        newmap = dict(self._vt_colmap)
        src = newmap.pop(existing.lower(), None)
        if new.lower() in newmap:
            # rename onto an existing output name -> duplicate columns;
            # ambiguous to a later filter, drop both
            newmap.pop(new.lower(), None)
        elif src is not None:
            newmap[new.lower()] = src
        return self._vt_child(
            plain, newmap,
            lambda df: df.withColumnRenamed(existing, new))

    def drop(self, *cols):
        plain = super().drop(*cols)
        dropped = set()
        for c in cols:
            name = c if isinstance(c, str) else _col_source(c)[0]
            if name:
                dropped.add(name.lower())
        # a stale key for an undetermined drop is harmless: a later
        # filter on a missing column fails analysis in super().filter
        # before any pruning decision is taken
        newmap = {k: v for k, v in self._vt_colmap.items()
                  if k not in dropped}
        return self._vt_child(plain, newmap,
                              lambda df: df.drop(*cols))

    # -- pruning filter -------------------------------------------------
    def filter(self, condition):
        plain = super().filter(condition)
        ops = self._vt_ops + [lambda df: df.filter(condition)]
        preds = []
        for name, op, val in _extract_skip_preds(plain):
            stored = self._vt_colmap.get(name.lower())
            if stored is None:
                continue  # computed/shadowed output: never prunable
            p = (stored, op, val)
            if p not in self._vt_skip and p not in preds:
                preds.append(p)
        if preds:
            skip = self._vt_skip + preds
            # re-plan ONLY when the extended skip list changes the
            # physical selection; otherwise a chained .where costs
            # exactly a plain filter (no manifest re-read, no
            # relation rebuild — review finding on O(n^2) chains)
            m = self._vt_manifest
            if m is None or (_prospective_selection(m, skip)
                             != _prospective_selection(m, self._vt_skip)):
                try:
                    out = self._vt_reread(skip)
                    for op_fn in ops:
                        out = op_fn(out)
                    return _AutoSkipFrame(out, self._vt_reread, skip,
                                          ops, m, self._vt_colmap)
                except Exception:
                    # un-rebindable chain: keep plain path; counted so
                    # the suite can pin fallbacks == 0
                    from ..metrics import REGISTRY
                    REGISTRY.inc("versioned_pushdown_fallback")
            else:
                return _AutoSkipFrame(plain, self._vt_reread, skip,
                                      ops, m, self._vt_colmap)
        return _AutoSkipFrame(plain, self._vt_reread, self._vt_skip,
                              ops, self._vt_manifest, self._vt_colmap)

    where = filter


def read_version(spark: SparkSession, table_dir: str | Path,
                 version: int | None = None,
                 skip: list[tuple] | None = None) -> DataFrame:
    """Read the table at ``version`` (default: latest). Resolves
    latest -> immutable manifest -> immutable files, so concurrent
    commits can never tear this read.

    The returned frame AUTO-DERIVES zone-map skipping from plain
    ``.where(...)`` / ``.filter(...)`` calls: conjunctive ``col op
    literal`` predicates are extracted from the analyzed filter
    condition and the read is re-planned over the pruned dir/file set
    (the Delta/Iceberg contract — stats prune for normal query code,
    nobody hand-passes ``skip=``). The full original condition is
    always re-applied as a row filter, so results are exactly
    ``DataFrame.filter`` semantics; see ``_AutoSkipFrame``.

    Deletion vectors (merge-on-read, ``merge_version(strategy=
    "mor")``): each vector masks — by key anti-join — only the data
    dirs that come BEFORE its paired update dir in the manifest's
    ordered list, so a later append that re-inserts a masked key is
    never swallowed. Dirs between two merge points share the same
    applicable vector suffix, so the plan gains one broadcast
    anti-join per MoR merge segment, not per dir; compact() folds
    vectors away entirely.

    ``skip``: zone-map data skipping — a list of ``(col, op, value)``
    predicates (ops ``= < <= > >=``, AND semantics). Dirs whose
    committed footer stats prove they cannot match are dropped from
    the plan BEFORE Spark sees them (the Delta file-skipping recipe,
    one manifest-level decision per dir — and per FILE inside dirs
    committed with ``sort_by``, whose files carry disjoint ranges),
    and the same predicates are
    applied as a row filter so the result is exactly
    ``read_version(...).where(...)``. Dirs without stats for a
    column are always kept — skipping is only ever a proof of
    emptiness. At 100 TB this is the difference between scanning one
    hour of an append-only log and scanning its whole history when
    the query carries a range predicate on an ingest-ordered column."""
    root = Path(table_dir)
    if version is None:
        version = latest_version(root)
        if version is None:
            raise VersionedTableError(f"not a versioned table: {root}")
    manifest = _read_manifest(root, version)
    df = _read_version_at(spark, root, version, skip, manifest)

    def reread(skiplist: list[tuple]) -> DataFrame:
        return _read_version_at(spark, root, version, skiplist)

    try:
        return _AutoSkipFrame(df, reread, skip or [], [], manifest)
    except Exception:  # pragma: no cover — non-classic session
        return df


def _read_version_at(spark: SparkSession, root: Path, version: int,
                     skip: list[tuple] | None,
                     manifest: dict | None = None) -> DataFrame:
    if manifest is None:
        manifest = _read_manifest(root, version)
    dirs = manifest["data_dirs"]
    dvs = manifest.get("delete_vectors") or []
    stats = manifest.get("dir_stats") or {}
    file_stats = manifest.get("file_stats") or {}
    def skip_for(d: str) -> list[tuple]:
        return _skip_for_dir(manifest, d, skip)

    def keep(d: str) -> bool:
        return not skip or _dir_may_match(stats.get(d), skip_for(d))

    def file_select(kept_dirs: list[str]) -> dict[str, list[str]]:
        """File-granular pruning for sort_by commits: within a kept
        dir, keep only files whose zone maps may match. Applies ONLY
        when the recorded stats cover every parquet file actually in
        the dir (a file missing stats must never be dropped); a dir
        whose every file is pruned drops out entirely (handled by the
        caller seeing an empty override)."""
        if not skip:
            return {}
        out: dict[str, list[str]] = {}
        for d in kept_dirs:
            fs = file_stats.get(d)
            if not fs:
                continue
            actual = {p.name for p in (root / d).glob("*.parquet")}
            if set(fs) != actual:
                continue  # stats don't cover the dir: no file pruning
            dskip = skip_for(d)
            kept = [f"{d}/{f}" for f in sorted(fs)
                    if _dir_may_match(fs[f], dskip)]
            if len(kept) < len(fs):
                out[d] = kept
        return out

    def residual(df: DataFrame) -> DataFrame:
        for col, op, val in skip or []:
            c = F.col(col)
            if op == "in":
                cond = c.isin(*val)
            else:
                conds = {"=": c == val, "<": c < val, "<=": c <= val,
                         ">": c > val, ">=": c >= val}
                if op not in conds:
                    raise VersionedTableError(
                        f"unsupported skip op: {op!r}")
                cond = conds[op]
            df = df.where(cond)
        return df

    if not dvs:
        live = [d for d in dirs if keep(d)]
        overrides = file_select(live)
        live = [d for d in live if overrides.get(d) != []]
        if not live:
            return residual(_empty_frame(spark, manifest))
        return residual(_read_dirs(spark, root, live, manifest,
                                   paths_override=overrides))
    bounds = sorted({dv["after_index"] for dv in dvs} | {0, len(dirs)})
    segments = [(a, b) for a, b in zip(bounds[:-1], bounds[1:]) if a < b]
    frames = []
    for a, b in segments:
        seg_dirs = [d for d in dirs[a:b] if keep(d)]
        seg_overrides = file_select(seg_dirs)
        seg_dirs = [d for d in seg_dirs if seg_overrides.get(d) != []]
        if not seg_dirs:
            continue
        seg = _read_dirs(spark, root, seg_dirs, manifest,
                         paths_override=seg_overrides)
        applicable = [dv for dv in dvs if dv["after_index"] >= b]
        by_key: dict[str, list[dict]] = {}
        for dv in applicable:
            by_key.setdefault(dv["key"], []).append(dv)
        for key_col, group in by_key.items():
            if key_col not in seg.columns:
                # a MoR merge keyed on a column this segment's dirs
                # never carried (additive evolution): none of these
                # rows can hold a masked key, and the anti-join would
                # fail to resolve — semantically and mechanically the
                # mask does not apply (r10 second review). Dirs that
                # have the column with NULLs are handled by the join
                # itself (NULL never matches a tombstone key).
                continue
            key_type = manifest.get("schema", {}).get(key_col)
            tomb = read_parquet(
                spark, [str(root / dv["dir"]) for dv in group],
                key_type and f"`{key_col}` {key_type}")
            # tombstones are one merge batch's distinct keys — small
            # next to the table; broadcast keeps the masked scan
            # shuffle-free (the same reason Delta broadcasts DVs)
            seg = seg.join(F.broadcast(tomb), key_col, "left_anti")
        frames.append(seg)
    if not frames:
        return residual(_empty_frame(spark, manifest))
    out = frames[0]
    for p in frames[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return residual(out)


def table_rows(table_dir: str | Path,
               version: int | None = None) -> int | None:
    """COUNT(*) answered from manifest metadata alone — zero data
    read, zero Spark job (per-dir footer row counts recorded at
    commit). Returns None when the metadata cannot answer EXACTLY:
    outstanding deletion vectors (a tombstone masks 0..n rows — only
    a scan can say), or a dir without a recorded count (e.g. carried
    partition leaves, whose prior top-dir counts no longer key them).
    At 100 TB this is the difference between a metadata lookup and a
    full-table count for the most common dashboard query there is."""
    root = Path(table_dir)
    if version is None:
        version = latest_version(root)
        if version is None:
            raise VersionedTableError(f"not a versioned table: {root}")
    m = _read_manifest(root, version)
    if m.get("delete_vectors"):
        return None
    rows = m.get("dir_rows") or {}
    dirs = m["data_dirs"]
    if any(d not in rows for d in dirs):
        return None
    return sum(rows[d] for d in dirs)


def history(table_dir: str | Path) -> list[dict]:
    """All committed manifests, oldest first (the audit log)."""
    root = Path(table_dir)
    out = []
    v = latest_version(root)
    for i in range((v + 1) if v is not None else 0):
        if _manifest_path(root, i).exists():
            out.append(_read_manifest(root, i))
    return out


def compact(spark: SparkSession, table_dir: str | Path,
            target_files: int = 8, retries: int = 0,
            sort_by: list[str] | None = None,
            cluster: str = "auto") -> int:
    """Small-file repair: rewrite the live file set as ONE overwrite
    version with ``target_files`` parquet files. After many appends a
    table is a spray of small files (each append = its own dir); at
    100 TB that means open/seek overhead dominating scans. Readers on
    old versions are unaffected (their manifests still reference the
    old dirs until vacuum).

    ``sort_by`` re-clusters the rewrite (OPTIMIZE-with-ZORDER's
    single-key shape): the compacted files carry disjoint ranges and
    per-file zone maps, so the MoR operating recipe — upsert tail +
    periodic compact — keeps file-granular skipping instead of losing
    the clustering at every repair. Unpartitioned tables only, like
    write_version(sort_by=...).

    Concurrency: the rewrite is pinned to the snapshot it read
    (``expected_latest``) — a commit interleaving mid-compaction
    raises CommitConflict rather than being silently dropped by the
    overwrite's last-writer-wins retry (the same read-compute-publish
    contract as merge). ``retries > 0`` re-runs the compaction
    against the new latest."""
    last: CommitConflict | None = None
    for _ in range(retries + 1):
        v = latest_version(table_dir)
        if v is None:
            raise VersionedTableError(
                f"not a versioned table: {table_dir}")
        parts = (_read_manifest(Path(table_dir), v).get("partition_by")
                 or [])
        df = read_version(spark, table_dir, version=v)
        if not sort_by:
            df = df.repartition(target_files)
        try:
            return write_version(
                df, table_dir, mode="overwrite",
                partition_by=parts or None, expected_latest=v,
                sort_by=sort_by,
                sort_files=target_files if sort_by else None,
                cluster=cluster)
        except CommitConflict as exc:
            last = exc
    raise last


def evolve_partitioning(table_dir: str | Path,
                        partition_by: list[str] | None) -> int:
    """Iceberg-style partition-spec evolution: change the layout for
    FUTURE commits without rewriting a byte of data. Publishes a
    METADATA-ONLY commit (mode ``evolve-partitions``, same data dirs,
    schema, stats and deletion vectors as the previous version) that
    sets the table's ``partition_by`` going forward and records every
    existing dir's OWN layout in ``dir_partition_by`` — readers span
    layout generations branch-by-branch (``_read_dirs``): each old
    dir still hive-prunes on its old keys, new dirs prune on the new
    spec, and a column one generation partitioned by arrives from
    other generations as plain data (or NULL where it never existed).

    Contracts on an evolved (mixed-layout) table:
    - appends/overwrites/MoR merges work normally under the CURRENT
      spec (the map rides every commit);
    - a partitioned CoW merge falls back to a full rewrite under the
      current spec (see ``_merge_once``), which — like ``compact()``
      and any overwrite — HEALS the table to a uniform layout and
      drops the map;
    - sort_by clustering intent is dropped when evolving TO a
      partitioned spec (sort_by is unpartitioned-only).

    At 100 TB this is the difference between re-ingesting a year of
    history because the ingest-date grain changed and a one-manifest
    commit (the Iceberg partition-evolution pitch; Delta requires a
    full rewrite here)."""
    root = Path(table_dir)
    new_parts = list(partition_by or [])
    for _ in range(_MAX_COMMIT_RETRIES):
        prev = latest_version(root)
        if prev is None:
            raise VersionedTableError(f"not a versioned table: {root}")
        m = _read_manifest(root, prev)
        cur = m.get("partition_by") or []
        if new_parts == cur:
            return prev  # spec unchanged: no-op
        dmap = m.get("dir_partition_by")
        if dmap is None:
            dmap = ({d: cur for d in m["data_dirs"]} if cur else {})
        out = {k: v for k, v in m.items()
               if k not in ("txn", "committed_at")}
        out["version"] = prev + 1
        out["mode"] = "evolve-partitions"
        out["partition_by"] = new_parts
        if dmap:
            out["dir_partition_by"] = dmap
        else:
            out.pop("dir_partition_by", None)
        if new_parts:
            out.pop("sort_by", None)
            out.pop("cluster", None)
        try:
            _publish_manifest(root, out)
            return out["version"]
        except CommitConflict:
            continue  # re-derive against the new latest
    raise VersionedTableError(
        f"commit contention: gave up after {_MAX_COMMIT_RETRIES} retries")


# widening lattice: tinyint < smallint < int < bigint; float <
# double. Lossy paths (bigint->double can round) and narrowings are
# rejected — the same whitelist _unwrap_attr trusts when seeing
# through analyzer casts, so zone-map pruning stays sound on widened
# columns. Manifest schemas store df.dtypes simpleString spellings
# (tinyint/smallint/int/bigint — review r12); user-facing aliases
# normalize to them.
_INT_WIDEN_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_TYPE_ALIASES = {"byte": "tinyint", "short": "smallint",
                 "integer": "int", "long": "bigint"}


def _widen_ok(cur: str, new: str) -> bool:
    cur = _TYPE_ALIASES.get(cur, cur)
    new = _TYPE_ALIASES.get(new, new)
    if cur in _INT_WIDEN_RANK and new in _INT_WIDEN_RANK:
        return _INT_WIDEN_RANK[new] > _INT_WIDEN_RANK[cur]
    return (cur, new) == ("float", "double")


def evolve_schema(table_dir: str | Path,
                  add_columns: dict[str, str] | None = None,
                  widen: dict[str, str] | None = None,
                  rename: dict[str, str] | None = None) -> int:
    """Delta/Iceberg-style schema evolution without rewriting a byte
    of data: publishes a METADATA-ONLY commit (mode
    ``evolve-schema``, same data dirs, stats and deletion vectors as
    the previous version) that updates the table's logical schema
    going forward. Returns the new version.

    - ``add_columns={name: spark_type}``: new nullable columns.
      Readers null-fill them at the declared type for every existing
      segment; subsequent appends may (but need not) supply them.
    - ``widen={name: wider_type}``: type widening along the lossless
      lattice byte<short<int<long, float<double. Old segments keep
      their narrow physical type and are CAST per branch on read;
      new appends must use the widened type (``_validate_append``
      checks against the LATEST schema).
    - ``rename={old: new}``: logical rename. Physical files are
      untouched; the manifest records each existing dir's
      physical->logical map (``dir_renames``, the Iceberg
      column-mapping idea) and readers apply it per branch. Zone-map
      skipping translates predicates back to each dir's physical
      name — a stale physical name can never prune the wrong column.
      ``partition_by`` / ``sort_by`` references follow the rename.

    Time travel returns the AS-OF schema: old manifests keep their
    own ``schema``/``dir_renames``, so ``read_version(version=k)``
    reads exactly what version k declared. ``compact()`` and CoW
    merges write through the logical schema, healing renames and
    widenings to physical form.

    Contracts: renames and widenings require no live deletion
    vectors (``compact()`` first — the vectors' key frames were
    written under the old physical schema); renaming onto an
    existing name, widening a missing column, or a lossy/narrowing
    path is rejected."""
    add_columns = dict(add_columns or {})
    widen = dict(widen or {})
    rename = dict(rename or {})
    if not (add_columns or widen or rename):
        raise VersionedTableError("evolve_schema: nothing to do")
    root = Path(table_dir)
    for _ in range(_MAX_COMMIT_RETRIES):
        prev = latest_version(root)
        if prev is None:
            raise VersionedTableError(f"not a versioned table: {root}")
        m = _read_manifest(root, prev)
        schema = dict(m.get("schema") or {})
        if (widen or rename) and m.get("delete_vectors"):
            raise VersionedTableError(
                "evolve_schema: widen/rename require no live deletion "
                "vectors — run compact() first")
        for c, t in add_columns.items():
            if c in schema:
                raise VersionedTableError(
                    f"add_columns: column exists: {c!r}")
            # normalize user-facing aliases to df.dtypes' canonical
            # spelling, like widen below — add_columns={'x': 'long'}
            # must not make a later bigint append look like a type
            # change (ADVICE r12)
            schema[c] = _TYPE_ALIASES.get(t, t)
        for c, t in widen.items():
            if c not in schema:
                raise VersionedTableError(
                    f"widen: no such column: {c!r}")
            if not _widen_ok(schema[c], t):
                raise VersionedTableError(
                    f"widen: {schema[c]} -> {t} is not a lossless "
                    f"widening for {c!r}")
            schema[c] = _TYPE_ALIASES.get(t, t)
        parts = list(m.get("partition_by") or [])
        sort_by = list(m.get("sort_by") or [])
        dir_renames = {d: dict(r) for d, r in
                       (m.get("dir_renames") or {}).items()}
        for old, new in rename.items():
            if old not in schema:
                raise VersionedTableError(
                    f"rename: no such column: {old!r}")
            if new in schema or new in add_columns:
                raise VersionedTableError(
                    f"rename: target exists: {new!r}")
            schema = {(new if c == old else c): t
                      for c, t in schema.items()}
            parts = [new if c == old else c for c in parts]
            sort_by = [new if c == old else c for c in sort_by]
            dir_schemas = m.get("dir_schemas") or {}
            for d in m["data_dirs"]:
                phys_cols = (dir_schemas.get(d) or {}).keys()
                cur = dir_renames.setdefault(d, {})
                # the physical column whose CURRENT logical name is
                # `old` (injective: rename targets must be fresh)
                if phys_cols:
                    hit = [p for p in phys_cols
                           if cur.get(p, p) == old]
                else:  # no per-dir schema recorded: invert the map,
                    # identity for names it never renamed away
                    hit = [p for p, n in cur.items() if n == old] \
                        or ([old] if old not in cur else [])
                for p in hit:
                    cur[p] = new
        out = {k: v for k, v in m.items()
               if k not in ("txn", "committed_at")}
        out["version"] = prev + 1
        out["mode"] = "evolve-schema"
        out["schema"] = schema
        out["partition_by"] = parts
        if sort_by:
            out["sort_by"] = sort_by
        dir_renames = {d: r for d, r in dir_renames.items() if r}
        if dir_renames:
            out["dir_renames"] = dir_renames
        else:
            out.pop("dir_renames", None)
        try:
            _publish_manifest(root, out)
            return out["version"]
        except CommitConflict:
            continue  # re-derive against the new latest
    raise VersionedTableError(
        f"commit contention: gave up after {_MAX_COMMIT_RETRIES} retries")


def _partition_leaves(root: Path, entry: str, parts: list[str]):
    """Enumerate the hive partition leaf dirs under a manifest entry
    as ``(relative_path, (stringified values...))``. An entry that is
    already a (partial) leaf contributes its own path segments."""
    pre = _partition_segments(entry)
    level = len(pre)

    def walk(p: Path, vals: list, lvl: int):
        if lvl == len(parts):
            yield str(p.relative_to(root)), tuple(vals)
            return
        for child in sorted(p.glob(f"{parts[lvl]}=*")):
            if child.is_dir():
                raw = child.name.split("=", 1)[1]
                v = None if raw == _HIVE_NULL else unquote(raw)
                yield from walk(child, vals + [v], lvl + 1)

    yield from walk(root / entry, [v for _, v in pre], level)


def _merge_once(spark: SparkSession, root: Path,
                updates: DataFrame, key: str) -> int:
    v = latest_version(root)
    if v is None:
        raise VersionedTableError(f"not a versioned table: {root}")
    manifest = _read_manifest(root, v)
    parts = manifest.get("partition_by") or []
    current = read_version(spark, root, version=v)
    # keys is consumed by TWO subtrees (touched-partition semi join /
    # survivor anti join) — share it. `current` deliberately is NOT
    # materialized: its consumers read DIFFERENT pruned projections
    # (key+partition columns for the touched set; full rows of only
    # the touched partitions for survivors), and caching the full
    # scan would defeat both column and partition pruning.
    keys = materialize_auto(updates.select(key).distinct())
    if keys.isEmpty():
        # empty upsert batch (routine in CDC): a no-op returning the
        # current version. Publishing would be worse than useless on
        # the partitioned path — partitionBy of a 0-row frame writes
        # a dir with no parquet files, and a manifest referencing it
        # poisons every subsequent read (UNABLE_TO_INFER_SCHEMA).
        return v
    token = uuid4().hex[:8]
    version = v + 1
    data_dir = f"data-{version}-{token}"
    schema = _validate_append(manifest, dict(updates.dtypes),
                              parts or None)

    if parts and (manifest.get("delete_vectors")
                  or manifest.get("dir_partition_by")):
        # A CoW merge over live deletion vectors FOLDS them: the
        # partition-scoped carry-forward references raw partition
        # leaves, which would resurrect masked rows (and the merge
        # reorders data_dirs, breaking the vectors' positional
        # semantics) — so this one merge pays a full rewrite of the
        # masked snapshot and publishes a vector-free manifest.
        # Alternate MoR/CoW freely; only the first CoW after a MoR
        # run costs the fold. The same fallback covers a partition-
        # EVOLVED table (mixed per-dir layouts): the carry-forward
        # assumes every dir is hive-laid under the current spec, so
        # the merge rewrites once under it — healing the table to a
        # uniform layout as a side effect.
        survivors = current.join(keys, key, "left_anti")
        merged = survivors.unionByName(updates, allowMissingColumns=True)
        try:
            merged.write.mode("error").partitionBy(*parts).parquet(
                str(root / data_dir))
            m = {"version": version, "mode": "merge",
                 "data_dirs": [data_dir],
                 "schema": schema, "partition_by": parts}
            st = {**_harvest_stats(root, data_dir),
                  **_harvest_partition_stats(root, data_dir, parts,
                                             schema)}
            if st:
                m["dir_stats"] = {data_dir: st}
            n_rows = _harvest_rows(root, data_dir)
            if n_rows is not None:
                m["dir_rows"] = {data_dir: n_rows}
            _publish_manifest(root, m)
        except CommitConflict:
            shutil.rmtree(root / data_dir, ignore_errors=True)
            raise
        return version

    if not parts:
        # full copy-on-write rewrite, but with the SAME CAS contract
        # as the partitioned path: the publish pins version v+1, so a
        # commit interleaving between our snapshot read and the
        # publish raises CommitConflict instead of being silently
        # overwritten (write_version's overwrite retry is
        # last-writer-wins BY DESIGN — wrong semantics for merge)
        survivors = current.join(keys, key, "left_anti")
        merged = survivors.unionByName(updates, allowMissingColumns=True)
        try:
            merged.write.mode("error").parquet(str(root / data_dir))
            m = {"version": version, "mode": "merge",
                 "data_dirs": [data_dir],
                 "schema": schema, "partition_by": [],
                 "dir_schemas": {data_dir: schema}}
            st = _harvest_stats(root, data_dir)
            if st:
                m["dir_stats"] = {data_dir: st}
            n_rows = _harvest_rows(root, data_dir)
            if n_rows is not None:
                m["dir_rows"] = {data_dir: n_rows}
            _publish_manifest(root, m)
        except CommitConflict:
            shutil.rmtree(root / data_dir, ignore_errors=True)
            raise
        return version

    # 1. the touched partition set: partitions of current rows whose
    #    key is matched + target partitions of the update rows
    #    (stringified exactly like the hive dir names they compare to)
    part_str = [F.col(c).cast("string").alias(c) for c in parts]
    touched_rows = (current.join(keys, key, "left_semi").select(*part_str)
                    .unionByName(updates.select(*part_str))
                    .distinct().collect())
    touched = {tuple(r[c] for c in parts) for r in touched_rows}

    # 2. rewrite frame: current rows inside touched partitions, minus
    #    matched keys, plus the updates. The literal OR-of-ANDs
    #    predicate is Delta's replaceWhere shape — it partition-prunes
    #    the scan to the touched directories.
    def tuple_pred(t):
        conds = []
        for c, val in zip(parts, t):
            col = F.col(c).cast("string")
            conds.append(col.isNull() if val is None else (col == val))
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    pred = F.lit(False)
    for t in sorted(touched, key=str):
        pred = pred | tuple_pred(t)
    survivors = current.where(pred).join(keys, key, "left_anti")
    merged = survivors.unionByName(updates, allowMissingColumns=True)
    merged.write.mode("error").partitionBy(*parts).parquet(
        str(root / data_dir))

    # 3. carry forward every untouched partition leaf by reference
    carried: list[str] = []
    for entry in manifest["data_dirs"]:
        for leaf, vals in _partition_leaves(root, entry, parts):
            if vals not in touched:
                carried.append(leaf)
    try:
        m = {"version": version, "mode": "merge",
             "data_dirs": [data_dir] + carried,
             "schema": schema, "partition_by": parts}
        # stats only for the fresh rewrite dir: carried entries are
        # partition-leaf SUBPATHS whose prior top-dir stats no longer
        # key them — they stay stat-less (always kept by skip, safe)
        st = {**_harvest_stats(root, data_dir),
              **_harvest_partition_stats(root, data_dir, parts, schema)}
        if st:
            m["dir_stats"] = {data_dir: st}
        n_rows = _harvest_rows(root, data_dir)
        if n_rows is not None:
            # rewrite dir only: carried partition leaves have no
            # recorded counts, so table_rows() returns None for this
            # shape rather than a wrong number
            m["dir_rows"] = {data_dir: n_rows}
        _publish_manifest(root, m)
    except CommitConflict:
        shutil.rmtree(root / data_dir, ignore_errors=True)
        raise
    return version


def _merge_mor(spark: SparkSession, root: Path,
               updates: DataFrame, key: str,
               txn: tuple[str, int] | None = None) -> int:
    """Merge-on-read upsert: write ONLY the update rows plus a
    key-tombstone sidecar (``delete-<v>-<token>``); nothing of the
    existing table is read, copied, or rewritten. The published
    deletion vector masks same-key rows of every EARLIER data dir at
    read time (positional ``after_index`` semantics —
    ``read_version``); merge cost is O(update bytes), the 100 TB
    point of deletion vectors.

    Concurrency: unlike the CoW merge, this commit is computed from
    NOTHING but the update batch — the mask is defined relative to
    whatever precedes it — so a CAS loss recomposes against the new
    latest and retries exactly like an append (upsert semantics stay
    last-committer-wins per key; an interleaved append of a masked
    key that serializes BEFORE this merge is correctly masked, one
    that serializes after correctly survives). It can never raise
    ``CommitConflict``.

    ``txn=(app, batch)`` gives the merge the same idempotence
    contract as ``write_version`` (manifest txn record; a replayed
    batch is a version-level no-op) — the contract a streaming CDC
    foreachBatch upsert sink needs. Note a replayed MoR merge is
    value-idempotent even WITHOUT txn (the replay's vector masks the
    original's rows, same keys win), but txn avoids the version/file
    bloat and keeps history honest."""
    prev = latest_version(root)
    if prev is None:
        raise VersionedTableError(f"not a versioned table: {root}")
    if txn is not None:
        done = _txn_committed(root, prev, txn)
        if done is not None:
            return done
    manifest = _read_manifest(root, prev)
    parts = manifest.get("partition_by") or []
    own_schema = dict(updates.dtypes)
    _validate_append(manifest, dict(own_schema), parts or None)
    keys = materialize_auto(updates.select(key).distinct())
    if keys.isEmpty():
        return prev  # routine empty CDC batch: no-op (see _merge_once)
    token = uuid4().hex[:8]
    version = prev + 1
    data_dir = f"data-{version}-{token}"
    del_dir = f"delete-{version}-{token}"
    writer = updates.write.mode("error")
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(str(root / data_dir))
    keys.write.mode("error").parquet(str(root / del_dir))

    for _ in range(_MAX_COMMIT_RETRIES):
        prev_manifest = _read_manifest(root, prev)
        try:
            schema = _validate_append(prev_manifest, dict(own_schema),
                                      parts or None)
        except VersionedTableError:
            # post-conflict re-validation failed against the new
            # latest (e.g. an overwrite changed the layout): the
            # written files must not linger as orphans
            shutil.rmtree(root / data_dir, ignore_errors=True)
            shutil.rmtree(root / del_dir, ignore_errors=True)
            raise
        dirs = prev_manifest["data_dirs"] + [data_dir]
        dvs = list(prev_manifest.get("delete_vectors") or [])
        dv = {"dir": del_dir, "key": key,
              "after_index": len(prev_manifest["data_dirs"])}
        dv_rows = _harvest_rows(root, del_dir)
        if dv_rows is not None:
            dv["rows"] = dv_rows  # masked-ratio policy numerator
        dvs.append(dv)
        dir_schemas = {**prev_manifest.get("dir_schemas", {}),
                       data_dir: own_schema}
        dir_stats = dict(prev_manifest.get("dir_stats") or {})
        st = _harvest_stats(root, data_dir)
        if parts:
            st = {**st, **_harvest_partition_stats(root, data_dir,
                                                   parts, own_schema)}
        if st:
            dir_stats[data_dir] = st
        dir_rows = dict(prev_manifest.get("dir_rows") or {})
        n_rows = _harvest_rows(root, data_dir)
        if n_rows is not None:
            dir_rows[data_dir] = n_rows
        # file_stats carry forward too: the prior dirs' files are
        # untouched by a MoR merge, so their sorted-commit coverage
        # stays valid (dropping it would permanently disable
        # file-granular pruning after the first MoR merge)
        file_stats = dict(prev_manifest.get("file_stats") or {})
        out = {"version": version, "mode": "merge-mor",
               "data_dirs": dirs, "schema": schema,
               "partition_by": parts,
               "dir_schemas": {d: dir_schemas[d] for d in dirs
                               if d in dir_schemas},
               "delete_vectors": dvs}
        if prev_manifest.get("sort_by"):
            # clustering intent survives MoR merges (auto-compaction
            # uses it to re-cluster instead of losing file skipping)
            out["sort_by"] = prev_manifest["sort_by"]
            if prev_manifest.get("cluster"):
                out["cluster"] = prev_manifest["cluster"]
        if prev_manifest.get("dir_partition_by") is not None:
            evolved = dict(prev_manifest["dir_partition_by"])
            if parts:
                evolved[data_dir] = list(parts)
            out["dir_partition_by"] = evolved
        if prev_manifest.get("dir_renames"):
            # renamed-table MoR merge: prior dirs keep their
            # physical->logical maps; the new update dir writes
            # logical names directly
            out["dir_renames"] = {
                d: prev_manifest["dir_renames"][d] for d in dirs
                if d in prev_manifest["dir_renames"]}
        if dir_stats:
            out["dir_stats"] = {d: dir_stats[d] for d in dirs
                                if d in dir_stats}
        if file_stats:
            out["file_stats"] = {d: file_stats[d] for d in dirs
                                 if d in file_stats}
        if dir_rows:
            out["dir_rows"] = {d: dir_rows[d] for d in dirs
                               if d in dir_rows}
        if txn is not None:
            out["txn"] = {"app": txn[0], "batch": txn[1]}
        try:
            _publish_manifest(root, out)
            return version
        except CommitConflict:
            prev = latest_version(root)
            if txn is not None:
                done = _txn_committed(root, prev, txn)
                if done is not None:
                    # a racing replay of the SAME txn won: drop our
                    # duplicate files (unreferenced) and succeed
                    shutil.rmtree(root / data_dir, ignore_errors=True)
                    shutil.rmtree(root / del_dir, ignore_errors=True)
                    return done
            version = prev + 1
            # keep dir names honest after the version bump (same as
            # write_version's rename; readers only ever follow
            # manifest entries, and the dirs are unpublished + young,
            # so neither readers nor vacuum can observe the rename)
            new_data = f"data-{version}-{token}"
            new_del = f"delete-{version}-{token}"
            os.rename(root / data_dir, root / new_data)
            os.rename(root / del_dir, root / new_del)
            data_dir, del_dir = new_data, new_del
    raise VersionedTableError(
        f"commit contention: gave up after {_MAX_COMMIT_RETRIES} retries")


def _maybe_auto_compact(spark: SparkSession, root: Path,
                        version: int, threshold: int | None,
                        masked_ratio: float | None = None) -> None:
    """MoR auto-compaction policy: after a MoR merge commits, fold the
    stacked deletion vectors back into plain files once their count
    reaches ``threshold``. Each stacked vector adds one broadcast
    anti-join to every masked scan (~0.17 s/scan each at sf0.1 —
    BASELINE.md dv_probe), so unbounded CDC stacking degrades readers
    linearly with merge count; this turns the operational recipe
    (upsert tail + periodic ``compact``) into engine behavior. The
    compaction re-clusters on the table's recorded ``sort_by`` intent
    so file-granular skipping survives the repair. Maintenance must
    never fail the already-committed merge: a compaction lost to an
    interleaved commit is skipped — the next merge past the threshold
    re-evaluates. Emits ``versioned_auto_compact_total`` /
    ``..._conflict_total`` counters."""
    from ..metrics import REGISTRY
    if version != latest_version(root):
        return  # replayed-txn no-op or already-raced commit: the
        # next merge past the threshold re-evaluates
    manifest = _read_manifest(root, version)
    dvs = manifest.get("delete_vectors") or []
    fire = threshold is not None and len(dvs) >= threshold
    if not fire and masked_ratio is not None:
        # masked-row ratio: tombstone rows over recorded table rows
        # (an upper bound on the masked fraction — a tombstone key
        # masks at most its matching rows). Both sides come from
        # footer metadata recorded at commit; absent counts never
        # fire the policy.
        masked = sum(dv.get("rows") or 0 for dv in dvs)
        total = manifest.get("dir_rows") or {}
        known = [total[d] for d in manifest["data_dirs"]
                 if d in total]
        denom = sum(known) if len(known) == len(
            manifest["data_dirs"]) else 0
        fire = denom > 0 and masked / denom >= masked_ratio
    if not fire:
        return
    try:
        compact(spark, root, sort_by=manifest.get("sort_by"),
                cluster=manifest.get("cluster") or "auto")
        REGISTRY.inc("versioned_auto_compact_total")
    except CommitConflict:
        REGISTRY.inc("versioned_auto_compact_conflict_total")


def merge_version(spark: SparkSession, table_dir: str | Path,
                  updates: DataFrame, key: str,
                  retries: int = 0, strategy: str = "cow",
                  txn: tuple[str, int] | None = None,
                  auto_compact_vectors: int | None = 10,
                  auto_compact_masked_ratio: float | None = None
                  ) -> int:
    """Upsert commit: rows in ``updates`` replace same-``key`` rows of
    the latest version, new keys insert (copy-on-write MERGE, the
    Delta paper's default — the honest cost of upserts without
    deletion vectors).

    Partition-scoped when the table is hive-partitioned: only the
    partitions that hold matched keys or receive update rows are
    rewritten into the new data dir; every untouched partition's
    directory is carried forward BY REFERENCE in the new manifest
    (its parquet files are not read, copied, or rewritten), so at
    100 TB a merge touching one day of a date-partitioned table costs
    one day's rewrite, not the table. Unpartitioned tables take a
    full copy-on-write rewrite version.

    Concurrency: the rewrite is computed against the snapshot read at
    entry and the publish pins the next version number, so a commit
    landing in between raises ``CommitConflict`` on BOTH paths — a
    merge can never silently drop an interleaved commit.
    ``retries > 0`` resolves conflicts the sound way Delta does by
    default: RE-RUN the whole merge against the new latest (the
    stale rewrite's data dir is removed; recomputation, not replay),
    up to ``retries`` times before surfacing the conflict.

    ``strategy="mor"`` (merge-on-read, the deletion-vector option):
    writes only the update rows plus a key-tombstone sidecar and
    publishes a deletion vector instead of rewriting anything —
    merge cost O(update bytes) vs CoW's O(touched-partition bytes),
    read cost one broadcast anti-join per MoR merge until compact()
    folds the vectors back into plain files. Choose MoR for
    frequent small upserts into huge partitions (CDC tails), CoW for
    read-hot tables where scan-time masking is unwelcome; the first
    CoW merge (or compact) after a MoR run folds its vectors. MoR
    conflicts self-recompose like appends, so ``retries`` is not
    consulted; ``txn=(app, batch)`` (MoR only) makes the merge
    idempotent per transaction id — the streaming CDC upsert-sink
    contract.

    ``auto_compact_vectors`` (MoR only; default 10, None disables):
    once this merge leaves at least that many stacked deletion
    vectors, a compaction is triggered as a follow-up commit — see
    ``_maybe_auto_compact``. ``auto_compact_masked_ratio`` (None
    disables) additionally fires the policy when the tombstone-row
    sum reaches that fraction of the table's recorded row count —
    the bytes-based trigger for few-but-huge CDC batches that a
    vector COUNT threshold never sees. The returned version is
    always the MERGE's commit; the compaction, if it fires, is the
    version after it.
    """
    root = Path(table_dir)
    if strategy == "mor":
        v = _merge_mor(spark, root, updates, key, txn=txn)
        if auto_compact_vectors or auto_compact_masked_ratio:
            _maybe_auto_compact(spark, root, v, auto_compact_vectors,
                                auto_compact_masked_ratio)
        return v
    if strategy != "cow":
        raise VersionedTableError(f"unknown merge strategy: {strategy!r}")
    if txn is not None:
        raise VersionedTableError(
            "txn idempotence is supported on strategy='mor' only (a "
            "CoW merge rewrite is snapshot-derived; replay it via "
            "retries against the new latest instead)")
    last: CommitConflict | None = None
    for _ in range(retries + 1):
        try:
            return _merge_once(spark, root, updates, key)
        except CommitConflict as exc:
            last = exc
    raise last


def vacuum(table_dir: str | Path, keep_last: int = 1,
           min_age_s: float = 3600.0) -> list[str]:
    """Delete data dirs referenced by NO retained manifest (the last
    ``keep_last`` versions are retained, older manifests are dropped
    too). Returns the deleted dir names. Time travel reaches only
    retained versions afterwards — same contract as Delta VACUUM.

    ``min_age_s`` is the retention guard for IN-FLIGHT writers: a
    concurrent committer writes its data dir BEFORE publishing the
    manifest, so an unreferenced-but-fresh dir may be a commit in
    progress, not garbage — deleting it would let the commit publish
    a manifest pointing at a missing directory. Only dirs whose
    mtime is older than ``min_age_s`` are removed (Delta's retention
    window, defaulted to one hour here vs Delta's seven days);
    pass 0 only when no writer can be active.

    A live manifest entry may be a partition SUBPATH of a data dir
    (carried forward by a partition-scoped merge): the top-level dir
    is then kept whole — conservative (superseded sibling partitions
    linger as referenced-dir garbage until the dir rotates out
    entirely), never destructive.

    Dropping old manifests drops their per-pair ``txn`` idempotence
    records, so vacuum first rolls a fresh checkpoint at the snapshot
    latest: the checkpoint's per-app HIGH-WATER batch map keeps
    streaming replays of any already-committed batch deduplicated
    past vacuum (Delta's txnAppId retention recipe); only the exact
    version a sub-high-water batch committed at degrades to the
    high-water version.

    Concurrency: manifests are deleted only when STRICTLY OLDER than
    the retained window's floor — a version published by a concurrent
    committer after ``keep_versions`` was snapshotted is necessarily
    newer than the snapshot latest, so it can never be unlinked (the
    ``min_age_s`` guard protects its data dirs the same way).
    """
    import time as _time

    root = Path(table_dir)
    v = latest_version(root)
    if v is None:
        return []
    # preserve txn idempotence memory before manifests drop. If the
    # checkpoint cannot be persisted (ENOSPC, a corrupt manifest in
    # the rollup range), deleting the manifests would erase the only
    # copy of the per-app txn records and a streaming replay would
    # double-commit — so manifests are retained (data-dir collection
    # below still proceeds; it depends only on live references).
    ckpt_ok = _write_checkpoint(root, v)
    all_versions = [i for i in range(v + 1)
                    if _manifest_path(root, i).exists()]
    keep_versions = all_versions[-keep_last:]
    live: set[str] = set()
    # a failed checkpoint retains ALL manifests (txn memory lives only
    # there) — their data dirs must then stay live too, or retained
    # manifests would dangle
    for i in (keep_versions if ckpt_ok else all_versions):
        try:
            m = _read_manifest(root, i)
        except (VersionedTableError, ValueError):
            if i in keep_versions:
                raise  # a RETAINED version must be readable to vacuum
            continue  # corrupt old manifest: nothing to pin
        live.update(m["data_dirs"])
        live.update(dv["dir"] for dv in m.get("delete_vectors") or [])
    live_tops = {Path(e).parts[0] for e in live}
    now = _time.time()
    deleted = []
    for d in sorted([*root.glob("data-*"), *root.glob("delete-*")]):
        if d.name not in live_tops \
                and now - d.stat().st_mtime >= min_age_s:
            shutil.rmtree(d)
            deleted.append(d.name)
    floor = keep_versions[0]
    if ckpt_ok:
        # ASCENDING numeric order (review r14): latest_version's O(1)
        # pointer path walks forward over a contiguous tail, so the
        # live manifest set must stay suffix-shaped AT EVERY INSTANT
        # of this loop. Deleting lowest-first guarantees it — a
        # lagging-but-verified pointer can never walk into a fresh
        # hole and report a stale sub-floor version as latest (glob
        # readdir order would delete e.g. manifest-10 before
        # manifest-9 and open exactly that window).
        for mp in sorted((p for p in root.glob("manifest-*.json")
                          if int(p.stem.split("-", 1)[1]) < floor),
                         key=lambda p: int(p.stem.split("-", 1)[1])):
            mp.unlink()
    # checkpoints are derived data: keep only the newest one at or
    # below the snapshot latest (it carries the merged txn high-water
    # map forward); never touch concurrently published newer ones
    ckpts = sorted(int(p.stem.split("-", 1)[1])
                   for p in root.glob("checkpoint-*.json") if
                   int(p.stem.split("-", 1)[1]) <= v)
    for c in ckpts[:-1]:
        _checkpoint_path(root, c).unlink(missing_ok=True)
    return deleted


def diff_versions(spark: SparkSession, table_dir: str | Path,
                  key: str, v_from: int, v_to: int | None = None,
                  compare_cols: list[str] | None = None,
                  include_values: bool = False) -> DataFrame:
    """Row-level change feed between two committed versions — the
    audit/debug primitive table formats expose as ``table_changes``:
    (key, change_type in insert|delete|update) computed from the two
    immutable snapshots. Because every version is time-travelable,
    the diff needs no change log: it is a full outer join of the two
    reads on ``key``.

    ``compare_cols`` limits the update comparison (default: every
    shared non-key column). ``include_values=True`` additionally
    emits ``old_<c>`` / ``new_<c>`` for every compared column —
    Delta's Change Data Feed shape, which is exactly what downstream
    incremental view maintenance needs (refresh an aggregate with
    +new −old deltas instead of rescanning the table). Scale: one
    key-partitioned exchange per side; both scans are column-pruned
    to key + compared columns, and with a hive-partitioned layout a
    partition-scoped merge's untouched partitions join equal and
    drop out of the update set.
    """
    old = read_version(spark, table_dir, version=v_from)
    new = read_version(spark, table_dir, version=v_to)
    shared = [c for c in old.columns
              if c in set(new.columns) and c != key]
    cols = compare_cols if compare_cols is not None else shared
    # explicit presence markers: a row whose compared columns are all
    # NULL still EXISTS (piggybacking presence on value-nullability
    # would misclassify it)
    o = old.select(key, F.lit(1).alias("__o_present"),
                   *[F.col(c).alias(f"__o_{c}") for c in cols])
    n = new.select(key, F.lit(1).alias("__n_present"),
                   *[F.col(c).alias(f"__n_{c}") for c in cols])
    j = o.join(n, key, "full_outer")
    in_old = F.col("__o_present").isNotNull()
    in_new = F.col("__n_present").isNotNull()
    changed = F.lit(False)
    if cols:
        changed = ~sum((F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
                        .cast("int") for c in cols), F.lit(0)).eqNullSafe(
            F.lit(len(cols)))
    ct = (F.when(in_old & ~in_new, F.lit("delete"))
          .when(in_new & ~in_old, F.lit("insert"))
          .when(changed, F.lit("update")))
    out_cols = [F.col(key), ct.alias("change_type")]
    if include_values:
        for c in cols:
            out_cols.append(F.when(in_old, F.col(f"__o_{c}"))
                            .alias(f"old_{c}"))
            out_cols.append(F.when(in_new, F.col(f"__n_{c}"))
                            .alias(f"new_{c}"))
    return (j.select(*out_cols)
            .where(F.col("change_type").isNotNull()))
