"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload copilot_service --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root. The launcher

- builds the benchmark's parquet warehouse on first use (``warehouse.py``;
  kept under ``.bench_build/perfbench/``);
- pins the environment: ``SPARK_GRAFT_CPUS`` to the CPUs this process
  may use, and every directory Spark or the package writes to (Spark
  local dirs, Java and Python temp, warehouse dir, control root,
  versioned data root, event log) into a per-run directory under
  ``.bench_build/perfbench/``, removed afterwards;
- starts ``worker.py`` as a fresh process in its own session, waits for
  it, then kills and reaps anything left in that session;
- prints the worker's result as the last line of standard output.

With ``--trace 0`` the result holds the end-to-end metrics, with
``--trace 1`` the per-layer metrics (see ``BENCHMARK.json``). The exit
code is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "data_platform_copilot_spark"
WORKER_TIMEOUT_S = 170.0

sys.path.insert(0, str(HERE))
from warehouse import ensure_warehouse  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def spark_conf(run_dir: Path, events: Path) -> list[str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
        "spark.local.dir": str(run_dir / "spark-local"),
        # one option only: the launcher splits these args on spaces
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        # one log file (Spark 4 rolls the log into a directory by default)
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": events.as_uri(),
    }
    args: list[str] = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    return args


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def stop_session(proc: subprocess.Popen, timeout_s: float = 20.0) -> None:
    """Kill whatever is left in the worker's session and wait for it:
    the worker itself, then anything its exit orphaned."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package not found at {PACKAGE}; run from the "
              "repository root of a full checkout", file=sys.stderr)
        return 2

    work_root = ROOT / ".bench_build" / "perfbench"
    work_root.mkdir(parents=True, exist_ok=True)
    warehouse = ensure_warehouse(work_root)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=work_root))
    try:
        return launch(args, warehouse, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def launch(args, warehouse: Path, run_dir: Path) -> int:
    events = run_dir / "events"
    for sub in ("events", "spark-local", "tmp", "control",
                "versioned"):
        (run_dir / sub).mkdir()
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_GRAFT_CONTROL_ROOT": str(run_dir / "control"),
        "SPARK_GRAFT_VERSIONED_ROOT": str(run_dir / "versioned"),
        "TMPDIR": str(run_dir / "tmp"),
        "TZ": "UTC",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), str(HERE)] + ([env["PYTHONPATH"]]
                                      if env.get("PYTHONPATH") else [])),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            spark_conf(run_dir, events) + ["pyspark-shell"]),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PERFBENCH_T0": repr(time.time()),
    })
    env.pop("SPARK_GRAFT_MASTER", None)
    out = run_dir / "result.json"
    cmd = [sys.executable, str(HERE / "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--warehouse", str(warehouse), "--events", str(events),
           "--out", str(out)]
    # the worker's output (Spark logging included) goes to stderr:
    # standard output carries only the result line
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                            stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    stopped: list[int] = []

    def stop(signum, _frame):
        # a launcher told to stop takes its worker session down with it;
        # the wait below then returns and the run ends without a result
        stopped.append(signum)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S:.0f} s",
              file=sys.stderr)
    stop_session(proc)
    if stopped:
        return 128 + stopped[0]
    if code != 0 or not out.is_file():
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    result = json.loads(out.read_text())
    details = result.pop("details", {})
    print(json.dumps(details), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
