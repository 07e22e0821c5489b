"""Seeded operation streams for the two workloads.

``copilot_service`` interleaves three streams: chat requests
(``chat_ops``), the versioned-table CDC loop (``cdc_ops``) and its
data-quality request (``dq_op``). ``analytics_pack`` is one stream of
registry entries (``analytics_ops``).

Everything here is a pure function of the seed (and, for the CDC loop,
of the base rows read from the warehouse): the same seed always yields
the same operations, and the program under test only ever sees the
generated inputs. No Spark import happens here.

Each stream is a list of fixed-composition *rounds*. The seed draws
literals and the order inside a round, but every round holds the same
mix of operation shapes, so runs with different seeds measure the
same amount of work of each kind and their medians are comparable.
The timed window always ends on a round boundary.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Any

from warehouse import ORDERS

WORKLOADS = ("copilot_service", "analytics_pack")

# bench.py's headline entries, and the ones the analytics pack leaves
# out, with the reason (see README.md).
HEADLINE = (
    "flagship_revenue_by_nation", "multi_join_topk",
    "cohort_retention_weekly", "tpch_q1_pricing_summary",
    "window_rank_topk_per_group", "dq_profile_events_value",
    "text_quality_score", "dedup_minhash_lsh", "dedup_embedding_lsh",
    "ann_bruteforce_topk", "sessionization_gaps",
)
EXCLUDED = {
    "dedup_embedding_lsh": (
        "not fresh: every build after the first in a process returns in "
        "~1 ms with no Spark job, and its collect runs 1 of 2 listed "
        "stages with 0 input bytes (state memoized by the first build "
        "outlives it)"),
    # the four below run fresh; they are left out only so that both
    # workloads' runs fit the benchmark's time budget (README.md).
    # sessionization_gaps is the costliest entry (2.1-3.3 s an op, ~5 s
    # cold); the other three are cheap and repeat plan shapes the kept
    # entries cover (joins + aggregation, a broadcast scan)
    "sessionization_gaps": "time budget",
    "cohort_retention_weekly": "time budget",
    "dq_profile_events_value": "time budget",
    "ann_bruteforce_topk": "time budget",
}
ANALYTICS = tuple(n for n in HEADLINE if n not in EXCLUDED)


@dataclass
class Op:
    """One client request. ``kind`` selects the handler; ``args`` are
    its inputs; ``expect`` is what the correctness check needs."""
    kind: str
    args: dict[str, Any] = field(default_factory=dict)
    expect: dict[str, Any] = field(default_factory=dict)

    def shape(self) -> str:
        """Operation shape for the warm-in (kind plus the sub-shape)."""
        return f"{self.kind}:{self.args.get('shape', '')}"


def fence(sql: str) -> str:
    """``sql`` as the fenced markdown block a model would answer with."""
    return f"```sql\n{sql}\n```"


# -- chat requests (copilot_service) ----------------------------------------

# one round: 10 requests. 1 unsafe statement and 1 agent question that
# refines once (10 % each); the 8 safe questions are two of each query
# shape, and 2-3 of them repeat an earlier question verbatim (~1 in 4).
CHAT_ROUND = ("lookup", "lookup", "groupby", "groupby", "join", "join",
              "topk", "topk", "unsafe", "agent")
CHAT_REPEATS = (2, 3)

UNSAFE = (
    "DROP TABLE orders",
    "DELETE FROM orders WHERE o_orderkey = {k}",
    "INSERT INTO orders SELECT * FROM orders WHERE o_orderkey = {k}",
    "UPDATE orders SET o_totalprice = 0 WHERE o_orderkey = {k}",
    "SELECT * FROM orders; DELETE FROM orders WHERE o_orderkey = {k}",
    "SELECT o_orderkey FROM orders /* {k} */ WHERE o_orderkey = {k}",
    "CREATE TABLE stolen AS SELECT * FROM customer",
    "ALTER TABLE orders RENAME TO orders_old",
)


def _lookup_sql(k: int) -> str:
    return ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "o_orderpriority FROM orders WHERE o_orderkey = "
            f"{k}")


def _chat_sql(shape: str, rng: random.Random) -> str:
    if shape == "lookup":
        return _lookup_sql(rng.randrange(ORDERS))
    if shape == "groupby":
        y, m = rng.randrange(1995, 2001), rng.randrange(1, 13)
        y2, m2 = (y + 1, m) if rng.random() < 0.5 else (y, m)
        y2, m2 = (y2, m2 + 6) if m2 <= 6 else (y2 + 1, m2 - 6)
        return ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "round(sum(l_quantity), 2) AS qty, "
                "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
                "FROM lineitem "
                f"WHERE l_shipdate >= DATE '{y}-{m:02d}-01' "
                f"AND l_shipdate < DATE '{y2}-{m2:02d}-01' "
                "GROUP BY l_returnflag, l_linestatus "
                "ORDER BY l_returnflag, l_linestatus")
    if shape == "join":
        y, q = rng.randrange(1995, 2001), rng.randrange(4)
        lo, hi = f"{y}-{3 * q + 1:02d}-01", (
            f"{y}-{3 * q + 4:02d}-01" if q < 3 else f"{y + 1}-01-01")
        return ("SELECT n_name, count(*) AS orders, "
                "round(sum(o_totalprice), 2) AS revenue "
                "FROM orders JOIN customer ON o_custkey = c_custkey "
                "JOIN nation ON c_nationkey = n_nationkey "
                f"WHERE o_orderdate >= DATE '{lo}' "
                f"AND o_orderdate < DATE '{hi}' "
                f"AND c_mktsegment = '{rng.choice(('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'))}' "
                "GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 5")
    if shape == "topk":
        d = rng.randrange(1, 24)
        et = rng.choice(("view", "click", "purchase", "signup", "error"))
        return ("SELECT user_id, count(*) AS n, round(sum(value), 2) AS total "
                f"FROM events WHERE event_type = '{et}' "
                f"AND ts >= TIMESTAMP '2024-01-{d:02d} 00:00:00' "
                f"AND ts < TIMESTAMP '2024-01-{d + 7:02d} 00:00:00' "
                "GROUP BY user_id ORDER BY n DESC, total DESC, user_id "
                "LIMIT 10")
    raise ValueError(shape)


def chat_ops(seed: int, rounds: int, tag: str = "q") -> list[list[Op]]:
    """``rounds`` rounds of copilot requests (see ``CHAT_ROUND``)."""
    rng = random.Random(f"copilot_chat:{tag}:{seed}")
    ops: list[Op] = []
    asked: dict[str, list[Op]] = {}
    for r in range(rounds):
        shapes = list(CHAT_ROUND)
        rng.shuffle(shapes)
        safe_slots = [i for i, s in enumerate(shapes)
                      if s not in ("unsafe", "agent")]
        n_rep = CHAT_REPEATS[r % len(CHAT_REPEATS)]
        repeat_slots = set(rng.sample(safe_slots, n_rep)) if r else set()
        for i, shape in enumerate(shapes):
            uid = f"{tag}{len(ops)}"
            if i in repeat_slots and asked.get(shape):
                prev = rng.choice(asked[shape])
                ops.append(Op("chat", dict(prev.args, repeat=True),
                              dict(prev.expect)))
                continue
            if shape == "unsafe":
                sql = rng.choice(UNSAFE).format(k=rng.randrange(ORDERS))
                ops.append(Op("chat", {"shape": shape,
                                       "question": f"{uid}: remove data",
                                       "sql": sql},
                              {"rejected": True}))
            elif shape == "agent":
                k = rng.randrange(ORDERS)
                # the first draft asks for a key that does not exist, so
                # the result is empty and the agent refines once
                ops.append(Op("agent", {
                    "shape": shape,
                    "question": f"{uid}: details of order {k}",
                    "sql": _lookup_sql(-1 - k),
                    "refined_sql": _lookup_sql(k)},
                    {"sql": _lookup_sql(k), "refines": 1}))
            else:
                sql = _chat_sql(shape, rng)
                op = Op("chat", {"shape": shape,
                                 "question": f"{uid}: {shape} report",
                                 "sql": sql}, {"sql": sql})
                asked.setdefault(shape, []).append(op)
                ops.append(op)
    n = len(CHAT_ROUND)
    return [ops[i:i + n] for i in range(0, len(ops), n)]


# -- data-quality requests (copilot_service) -------------------------------

DQ_COLUMNS = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
              "o_orderdate", "o_orderpriority")
DQ_LIMITS = (5_000, 6_000)
_NUMERIC = {"o_orderkey", "o_custkey", "o_totalprice"}
_TIME = {"o_orderdate"}


def _dq_rule(rng: random.Random, col: str) -> dict[str, Any]:
    kinds = ["not_null", "unique"]
    if col in _NUMERIC:
        kinds += ["range", "anomaly_zscore"]
    if col in _TIME:
        kinds += ["freshness"]
    kind = rng.choice(kinds)
    rule: dict[str, Any] = {"type": kind, "column": col}
    if kind == "range":
        rule.update(min=0.0, max=float(rng.choice((1e3, 1e5, 1e7))))
    elif kind == "anomaly_zscore":
        rule.update(sigma=rng.choice((2.0, 3.0, 4.0)))
    elif kind == "freshness":
        rule.update(max_age_hours=float(rng.choice((24, 24 * 365))))
    return rule


def dq_op(rng: random.Random, table: str, lo_key: int, hi_key: int) -> Op:
    """A 3-5 rule check of ``table`` (it profiles the sample too) over a
    seeded key filter and sample limit."""
    chosen = rng.sample(DQ_COLUMNS, rng.randint(3, 5))
    return Op("dq_check", {
        "shape": "dq", "table": table,
        "where": f"o_orderkey >= {rng.randrange(lo_key, hi_key)}",
        "limit": rng.randrange(DQ_LIMITS[0], DQ_LIMITS[1] + 1),
        "rules": [_dq_rule(rng, c) for c in chosen]})


def analytics_ops(seed: int, rounds: int, tag: str = "") -> list[list[Op]]:
    """Rounds of batch work: every included headline entry once per
    round, in a seeded order."""
    rng = random.Random(f"analytics_pack:{tag}:{seed}")
    out: list[list[Op]] = []
    for _ in range(rounds):
        names = list(ANALYTICS)
        rng.shuffle(names)
        out.append([Op("query", {"shape": n, "name": n}) for n in names])
    return out


# -- versioned-table CDC loop (copilot_service) ----------------------------

CDC_TABLE = "orders_cdc"
CDC_BASE_ROWS = 20_000
CDC_KEY = "o_orderkey"
# auto-compaction after this many stacked deletion vectors (the
# merge_version default is 10; README.md says why 2)
CDC_COMPACT_EVERY = 2
# upsert batch sizes, alternating from the first write on: the warm-in
# write is the small one, and the timed window (writes 2 and 3) holds
# one of each whatever the seed
CDC_BATCH_SIZES = (100, 5000)
CDC_UPDATE_SHARE = (0.5, 0.9)
CDC_READS = ("latest", "latest", "asof")
_STATUSES = ("O", "P", "F")


def cdc_base_start(seed: int) -> int:
    """First order key of the seeded base slice of ``orders``."""
    return random.Random(f"versioned_cdc:base:{seed}").randrange(
        0, ORDERS - CDC_BASE_ROWS)


@dataclass
class CdcState:
    """Last-write-wins replay of the table: key -> [(write, row), ...]
    in write order (write 0 is the base version)."""
    history: dict[int, list[tuple[int, tuple]]]

    def row(self, key: int, write: int | None = None) -> tuple | None:
        """The live row of ``key`` after ``write`` (None: latest)."""
        found = None
        for w, r in self.history.get(key, ()):
            if write is not None and w > write:
                break
            found = r
        return found


def cdc_ops(seed: int, base: dict[int, tuple], writes: int,
            columns: tuple[str, ...]) -> tuple[list[list[Op]], CdcState]:
    """``writes`` rounds of one merge-on-read upsert followed by three
    gateway reads; once per compaction cycle (rounds 1, 1 + cycle, ...)
    the same data-quality request on ``orders``, the source table,
    follows. ``base`` maps key ->
    row (values in ``columns`` order) for the seeded base slice.
    Returns the rounds and the replayed table state they imply."""
    rng = random.Random(f"versioned_cdc:{seed}")
    state = CdcState({k: [(0, r)] for k, r in base.items()})
    ki, pi, si = (columns.index(CDC_KEY), columns.index("o_totalprice"),
                  columns.index("o_orderstatus"))
    base_lo, base_hi = min(base), max(base) + 1
    next_key = 10 * ORDERS + rng.randrange(1000)
    # one data-quality request, repeated verbatim once per cycle, so
    # each timed response has an untimed twin from the warm-in round
    dq = dq_op(rng, "orders", 0, ORDERS // 2)
    rounds: list[list[Op]] = []
    for w in range(1, writes + 1):
        n = CDC_BATCH_SIZES[(w - 1) % len(CDC_BATCH_SIZES)]
        n_upd = int(n * rng.uniform(*CDC_UPDATE_SHARE))
        keys = sorted(state.history)
        batch: list[tuple] = []
        for k in rng.sample(keys, min(n_upd, len(keys))):
            row = list(state.row(k))
            row[pi] = round(rng.uniform(1000.0, 500000.0), 2)
            row[si] = rng.choice(_STATUSES)
            batch.append(tuple(row))
        template = state.row(keys[0])
        for _ in range(n - len(batch)):
            row = list(template)
            row[ki] = next_key
            next_key += 1
            row[pi] = round(rng.uniform(1000.0, 500000.0), 2)
            row[si] = rng.choice(_STATUSES)
            batch.append(tuple(row))
        for row in batch:
            state.history.setdefault(row[ki], []).append((w, row))
        ops = [Op("cdc_write", {"shape": "write", "write": w,
                                "rows": batch})]
        reads = list(CDC_READS)
        rng.shuffle(reads)
        for kind in reads:
            lo = rng.randrange(base_lo, base_hi)
            hi = lo + rng.randrange(200, 2000)
            at = w if kind == "latest" else rng.randrange(0, w)
            match = [r for r in (state.row(k, at) for k in range(lo, hi))
                     if r is not None]
            ops.append(Op("cdc_read", {
                "shape": kind, "write": w, "lo": lo, "hi": hi,
                "at_write": None if kind == "latest" else at},
                {"n": len(match),
                 "total": round(sum(r[pi] for r in match), 2)}))
        if w % CDC_COMPACT_EVERY == 1:
            ops.append(dq)
        rounds.append(ops)
    return rounds, state
