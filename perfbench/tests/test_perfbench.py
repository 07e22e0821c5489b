"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
sys.path.insert(0, str(BENCH))

import eventlog  # noqa: E402
import warehouse  # noqa: E402
import workloads as wl  # noqa: E402
import worker  # noqa: E402
from spans import Tracer  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "o_orderdate", "o_orderpriority")


def _base(n: int = 3000, start: int = 500) -> dict[int, tuple]:
    return {k: (k, k % 97, "O", 1000.0 + k, None, "1-URGENT")
            for k in range(start, start + n)}


def _as_data(rounds):
    return [[(op.kind, op.args, op.expect) for op in r] for r in rounds]


# -- seeds -------------------------------------------------------------------

@pytest.mark.parametrize("make", [
    lambda seed: wl.chat_ops(seed, 4),
    lambda seed: wl.analytics_ops(seed, 3),
    lambda seed: wl.cdc_ops(seed, _base(), 6, COLUMNS)[0],
])
def test_same_seed_same_operations(make):
    assert _as_data(make(7)) == _as_data(make(7))
    assert _as_data(make(7)) != _as_data(make(8))


def test_chat_rounds_keep_their_mix():
    for ops in wl.chat_ops(3, 6):
        shapes = sorted(op.args["shape"] for op in ops)
        assert shapes == sorted(wl.CHAT_ROUND)
    repeats = [op for r in wl.chat_ops(3, 6) for op in r
               if op.args.get("repeat")]
    assert 2 * 5 <= len(repeats) <= 3 * 5  # none in the first round


def test_cdc_replay_is_last_write_wins():
    rounds, state = wl.cdc_ops(11, _base(), 4, COLUMNS)
    for w, ops in enumerate(rounds, start=1):
        write = ops[0]
        assert write.kind == "cdc_write"
        for row in write.args["rows"]:
            assert state.row(row[0], w) == row
    key = rounds[0][0].args["rows"][0][0]
    assert state.row(key, 0) in (None, _base().get(key))
    # the window's two writes (2 and 3) hold one batch size of each
    assert {len(rounds[1][0].args["rows"]), len(rounds[2][0].args["rows"])} \
        == set(wl.CDC_BATCH_SIZES)
    # one data-quality request per compaction cycle, the same each time
    dq = [op for r in rounds for op in r if op.kind.startswith("dq_")]
    assert len(dq) == 4 // wl.CDC_COMPACT_EVERY
    assert all(op is dq[0] for op in dq)


# -- declared metrics --------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_follows_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert [w["name"] for w in SPEC["workloads"]] == list(wl.WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_every_printed_metric_is_declared_with_its_unit():
    declared_e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert worker.E2E_UNITS == declared_e2e
    assert worker.LAYER_UNITS == declared_layer

    recs = _fake_records(3)
    assert set(worker.e2e_metrics(recs, 1.0, 2.0)) == set(declared_e2e)
    tracer = _traced(recs)
    log = eventlog.EventLog(cores=4)
    got = set(worker.layer_metrics(tracer, recs, log, 4))
    # filled in by the CDC workload and by the run (mem.*)
    rest = worker.CDC_ONLY | {"mem.peak_rss_mb"}
    assert got | rest == set(declared_layer)
    assert not got & rest


# -- spans -------------------------------------------------------------------

def _fake_records(n: int) -> list[worker.Record]:
    now = time.time()
    return [worker.Record(wl.Op("chat", {"shape": "x"}), now + i,
                          now + i + 0.5) for i in range(n)]


def _traced(records) -> Tracer:
    tracer = Tracer()

    def leaf():
        time.sleep(0.001)

    def mid():
        time.sleep(0.001)
        wrapped_leaf()
        wrapped_leaf()

    def boom():
        raise ValueError("rejected")

    wrapped_leaf = tracer.wrap(leaf, "gateway.analyze")
    wrapped_mid = tracer.wrap(mid, lambda parent: f"{parent}.mid")
    wrapped_boom = tracer.wrap(boom, "gateway.validate")
    for i, _ in enumerate(records):
        with tracer.op(i):
            wrapped_mid()
            with pytest.raises(ValueError):
                wrapped_boom()
    return tracer


def test_span_self_times_are_positive_and_sum_to_the_op_wall():
    tracer = _traced(_fake_records(4))
    selfs, walls = tracer.self_times(), tracer.op_walls()
    assert set(selfs) == set(walls) == {0, 1, 2, 3}
    for op, parts in selfs.items():
        assert all(v >= 0 for v in parts.values())
        assert abs(sum(parts.values()) - walls[op]) < 1e-9
        assert set(parts) == {"op", "op.mid", "gateway.analyze",
                              "gateway.validate"}
        assert parts["gateway.analyze"] >= 0.002
    assert tracer.counts[(0, "gateway.validate.raised")] == 1


def test_async_functions_are_wrapped_as_coroutines():
    import asyncio
    tracer = Tracer()

    async def gen():
        await asyncio.sleep(0.001)
        return "sql"

    wrapped = tracer.wrap(gen, "chain.generate")
    with tracer.op(0):
        assert asyncio.run(wrapped()) == "sql"
    assert tracer.self_times()[0]["chain.generate"] >= 0.001


# -- event log -----------------------------------------------------------------

def _write_log(path: Path) -> None:
    def task(stage, run_ms, in_b=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": run_ms * 10**6,
                                 "JVM GC Time": 1,
                                 "Input Metrics": {"Bytes Read": in_b}}}
    events = [
        {"Event": "SparkListenerExecutorAdded",
         "Executor Info": {"Total Cores": 4}},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        task(0, 30, 500),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        task(1, 20),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
        # job 1 reuses stage 1's shuffle output and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 2000, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        task(2, 10),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2050},
    ]
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")


def test_event_log_attribution(tmp_path):
    _write_log(tmp_path / "app-1")
    log = eventlog.read_event_log(tmp_path)
    assert log.cores == 4
    both = eventlog.attribute(log, 900, 2100)
    assert (both.jobs, both.stages, both.stages_skipped) == (2, 3, 0)
    assert both.input_bytes == 500 and both.tasks == 3
    assert abs(both.job_s - 0.15) < 1e-9
    # the second job alone: the reused stage ran outside the window
    second = eventlog.attribute(log, 1900, 2100)
    assert (second.jobs, second.stages, second.stages_skipped) == (1, 2, 1)
    assert second.input_bytes == 0


# -- warehouse ---------------------------------------------------------------

def test_generated_tables_equal_the_sf01_test_data():
    tables = warehouse.build_tables(
        np.random.default_rng(warehouse.WAREHOUSE_SEED))
    assert set(tables) == set(warehouse.TABLES)
    for name in warehouse.EXACT:
        assert (warehouse.table_digest(tables[name])
                == warehouse.SF01_DIGESTS[name]), name
    docs = tables["documents"].to_pydict()
    assert sum(t.endswith(" dup") for t in docs["text"]) == 250
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
