"""Isolated per-query timing: noop-sink, best-of-N, warm session.

Usage: python tools/time_queries.py <sf_dir> <query> [query ...]
Env: TQ_RUNS (default 3).

Each query runs once untimed before its TQ_RUNS timed runs, so its first
timed run does not carry the query's own compile and first-stage cost.

Uses bench.py's session shape (``local[cpus]``, ``cpus`` shuffle
partitions), warm-up and noop sink for quick A/B of one operator without
the full battery.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import _materialize, bench_session, warm_session


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    runs = int(os.environ.get("TQ_RUNS", "3"))
    spark, _ = bench_session("pfrs-timequeries")
    qs = entrymod.queries()
    warm_session(spark, sf_dir)
    for name in names:
        fn = qs[name]
        _materialize(fn(spark, sf_dir))  # untimed warm run
        walls = []
        for _ in range(runs):
            t0 = time.perf_counter()
            _materialize(fn(spark, sf_dir))
            walls.append(round(time.perf_counter() - t0, 3))
        try:
            load = round(os.getloadavg()[0], 1)
        except OSError:
            load = None
        print(f"RESULT {name}: best={min(walls)} runs={walls} load={load}",
              flush=True)


if __name__ == "__main__":
    main()
