"""Full-registry warm timing sweep — the straggler finder.

Times EVERY registry entry (min-of-2 collect() runs, each built
fresh from the parquet files — the r10 bench-sink methodology, see
bench.py) at the
given sf dir and prints slowest-first. This is the pass that caught
the single-row-group scan tax the K-probes can't see (the probe
dataset unions pre-spread copies, so single-partition scans look
parallel there): six entries were 2-8 s when they should be
0.3-1.4 s. Run it after any batch of new entries; anything over
~1.5 s warm at sf0.1 deserves a plan audit (BASELINE.md "straggler
sweep" section documents the fixes and the one negative result).

Usage: python tools/straggler_sweep.py [sf_dir] [top_n]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from data_platform_copilot_spark.queries import QUERIES  # noqa: E402
from data_platform_copilot_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else len(QUERIES)
    spark = get_spark("straggler_sweep")
    times: dict[str, object] = {}
    for name, fn in QUERIES.items():
        try:
            samples = []
            for _ in range(2):
                t0 = time.time()
                fn(spark, sf_dir).collect()
                samples.append(time.time() - t0)
            times[name] = round(min(samples), 3)
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            times[name] = f"ERR {type(ex).__name__}"
    ranked = sorted(
        times.items(),
        key=lambda kv: -(kv[1] if isinstance(kv[1], float) else 99.0))
    for name, t in ranked[:top_n]:
        print(f"{name:45s} {t}")
    floats = [v for v in times.values() if isinstance(v, float)]
    errs = sum(1 for v in times.values() if not isinstance(v, float))
    print(f"\n{len(floats)} timed, {errs} errors, "
          f"total {sum(floats):.1f}s, "
          f">1.5s: {sum(1 for v in floats if v > 1.5)}")


if __name__ == "__main__":
    main()
