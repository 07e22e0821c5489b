"""The parquet warehouse the benchmark runs against: the project's sf0.1
test data, regenerated.

The sf0.1 test warehouse (TPC-H-style star schema plus ``events``,
``documents`` and ``embeddings``) was generated with numpy's
``default_rng(42)``. ``build_tables`` replays the same draws in the same
order, so the tables ``EXACT`` names come out equal, value for value, to
the sf0.1 files; ``ensure_warehouse`` checks each against the content
digest measured on those files (``SF01_DIGESTS``) and refuses a
warehouse that differs. Two tables are reproduced in part:

- ``documents``: ``doc_id``, ``source`` and the 4,750 original texts
  are sf0.1's. Which 250 documents are near-duplicates (a copy of
  another document with `` dup`` appended), their sources and ``lang``
  could not be recovered from the files, so they are drawn here with
  sf0.1's shares (5 % duplicates; ``en`` 40 %, four others 15 % each).
- ``embeddings``: unit-length Gaussian vectors with uniform labels
  0-9, as in sf0.1; the draws themselves differ.

README.md lists the measured comparison. The warehouse is the
benchmark's *database* and is the same for every workload seed; the
seed-dependent part of a run is the operation stream (``workloads.py``).

Generated once per checkout into ``<work root>/warehouse-v<VERSION>``;
later runs reuse it. Generation writes into a temporary sibling
directory and renames it into place, so an interrupted build never
leaves a half-written warehouse behind.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generator changes: a checkout then regenerates.
VERSION = 2
WAREHOUSE_SEED = 42

ORDERS = 150_000
CUSTOMERS = 15_000
LINEITEMS = 600_000
SUPPLIERS = 1_000
PARTS = 20_000
EVENTS = 100_000
EVENT_USERS = 1_500
DOCUMENTS = 5_000
NEAR_DUPLICATES = 250
EMBEDDINGS = 2_000
EMBEDDING_DIM = 64

# value lists in sf0.1's draw order (index i is the value drawn as i)
SEGMENTS = ("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
ADJECTIVES = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
NOUNS = ("anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring")
PART_TYPES = ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURN_FLAGS = ("R", "A", "N")
LINE_STATUSES = ("O", "F")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
WORDS = ("the a spark query table join group filter window data order "
         "customer part line fast slow big small hash sort merge scan agg "
         "stream batch vector key value row column").split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
LANGS = ("en", "de", "fr", "es", "zh")
LANG_SHARES = (0.4, 0.15, 0.15, 0.15, 0.15)

_US_PER_DAY = 86_400 * 1_000_000
_DAY_1995 = 9131               # 1995-01-01 as days since the epoch
_D2024 = 19723 * _US_PER_DAY   # 2024-01-01 as microseconds since the epoch

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
EXACT = ("region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events")

# table_digest() of each sf0.1 file, measured on the test data
SF01_DIGESTS = {
    "region":
        "17cba6ca5ff8506902e075a467da32d520958e97bdb990cdc0dd19be8d4b1674",
    "nation":
        "d98ab4d3d5eea69935ce0ef85ac8bfaa33fefd4ada8bf36e49106562917ac290",
    "customer":
        "441ac1abb2c7ae9f65f42252ef7ab4fc88cf2c00d97ec657c4db44f277dc3c4f",
    "supplier":
        "44d139dc2900b0e57764156d222ed67a305e3a673088f44c521334b77b130a1b",
    "part":
        "e164a3281aa7dd9089bcb8367342a7986a5b37b51955241317fd27b7fe2c1bad",
    "orders":
        "d6aa701c67d9e408d6b6840df02474a23c5aec4191d20b6c3d22b6adf02d58ce",
    "lineitem":
        "4973953c1cdf18e1df1c4cf233250e03e1f00c5ecfcd5efae0745e9241468488",
    "events":
        "eb9ce63d66f527b7598edfa20a5921e141f15edbf86dc25c58cd8daac3b21866",
}


def _days(days: np.ndarray) -> pa.Array:
    return pa.array(((_DAY_1995 + days) * _US_PER_DAY).astype("int64"),
                    type=pa.timestamp("us"))


def _pick(options: tuple[str, ...], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[idx])


def _money(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Every warehouse table as an Arrow table (pure function of rng).

    The draws run in sf0.1's order: changing their order or number
    changes every table after the change."""
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = CUSTOMERS
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n))})
    n = SUPPLIERS
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n))})
    n = PARTS
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype="int64")),
        "p_name": pa.array([f"{ADJECTIVES[a]} {NOUNS[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, n)),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(
            900.0 + (np.arange(n) % 1000) * 0.1, 2))})
    n = ORDERS
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, n)),
        "o_orderstatus": _pick(STATUSES, rng.integers(0, 3, n)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _days(rng.integers(0, 2405, n)),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n))})
    n = LINEITEMS
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ORDERS, n)),
        "l_partkey": pa.array(rng.integers(0, PARTS, n)),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(_money(rng, 0.0, 0.1, n)),
        "l_tax": pa.array(_money(rng, 0.0, 0.08, n)),
        "l_returnflag": _pick(RETURN_FLAGS, rng.integers(0, 3, n)),
        "l_linestatus": _pick(LINE_STATUSES, rng.integers(0, 2, n)),
        "l_shipdate": _days(rng.integers(1, 2500, n))})
    n = EVENTS
    # seconds into January 2024, to nanoseconds, truncated to micros
    secs = np.sort(rng.uniform(0, 30 * 86_400, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(_D2024 + (secs * 1e9).astype("int64") // 1000,
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n)),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n)])})
    texts = []
    for _ in range(DOCUMENTS):
        words = rng.integers(0, len(WORDS), int(rng.integers(10, 100)))
        texts.append(" ".join(WORDS[w] for w in words))
    # from here on the draws are this generator's own (module docstring)
    lang = rng.choice(len(LANGS), DOCUMENTS, p=LANG_SHARES)
    dup_at = rng.choice(DOCUMENTS, NEAR_DUPLICATES, replace=False)
    for i, j in zip(dup_at, rng.integers(0, DOCUMENTS, NEAR_DUPLICATES)):
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(LANGS, lang),
        "source": pa.array([f"src{i % 20}" for i in range(DOCUMENTS)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    vecs = rng.normal(0.0, 1.0, (EMBEDDINGS, EMBEDDING_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS, dtype="int64")),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDINGS), pa.int32())})
    return t


def table_digest(table: pa.Table) -> str:
    """SHA-256 of a table's column names, types and values (independent
    of the parquet encoding and of schema metadata)."""
    h = hashlib.sha256()
    for name, col in zip(table.column_names, table.columns):
        h.update(f"{name}:{col.type}\n".encode())
        col = col.combine_chunks()
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
        if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
            h.update(col.to_numpy().tobytes())
        else:
            h.update(repr(col.to_pylist()).encode())
    return h.hexdigest()


def ensure_warehouse(work_root: Path) -> Path:
    """Return the warehouse directory, generating it on first use."""
    target = work_root / f"warehouse-v{VERSION}"
    if (target / "_COMPLETE").exists():
        return target
    tables = build_tables(np.random.default_rng(WAREHOUSE_SEED))
    for name in EXACT:
        if table_digest(tables[name]) != SF01_DIGESTS[name]:
            raise RuntimeError(f"generated {name} differs from sf0.1")
    tmp = work_root / f".warehouse-v{VERSION}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in tables.items():
        # one row group per file, like the test warehouse
        pq.write_table(table, tmp / f"{name}.parquet",
                       row_group_size=len(table) + 1)
    (tmp / "_COMPLETE").write_text("ok\n")
    shutil.rmtree(target, ignore_errors=True)
    os.rename(tmp, target)
    return target
