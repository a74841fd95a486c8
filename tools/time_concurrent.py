"""Instrumented replica of bench.py's concurrent suite: per-query
start/end offsets under one-thread-per-core FAIR submission, sorted by
finish. Session shape and warm-up are bench.py's.

Usage: python tools/time_concurrent.py <sf_dir>
Env: TC_ROUNDS (default 2) — suite repetitions (round 0 warms).
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
import bench
from bench import _materialize, bench_session, warm_session


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark, cpus = bench_session("pfrs-timeconcurrent")
    qs = entrymod.queries()
    warm_session(spark, sf_dir)

    def min_job_ms() -> float:
        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            spark.range(1).count()
            walls.append((time.perf_counter() - t0) * 1000)
        return round(sorted(walls)[2], 1)

    def jvm_stats() -> str:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        gct = gcc = 0
        it = mf.getGarbageCollectorMXBeans().iterator()
        while it.hasNext():
            b = it.next()
            gct += b.getCollectionTime()
            gcc += b.getCollectionCount()
        heap = mf.getMemoryMXBean().getHeapMemoryUsage()
        import subprocess as sp

        out = sp.run(["ps", "-eo", "cmd"], capture_output=True,
                     text=True).stdout
        pool = sum(1 for ln in out.splitlines() if "pyspark.daemon" in ln)
        return (f"gc_time={gct / 1000:.1f}s gc_count={gcc} "
                f"heap={heap.getUsed() / 1e9:.1f}/"
                f"{heap.getMax() / 1e9:.1f}GB pydaemons={pool} "
                f"min_job_ms={min_job_ms()}")

    headline = list(bench.HEADLINE)
    if os.environ.get("TC_BATTERY", "0") == "1":
        # replicate the bench's battery (sequential best-of-2, no
        # oracles) so the concurrent round sees the same session state;
        # TC_BATTERY_ONLY=a,b,c restricts the battery subset (bisection)
        only = os.environ.get("TC_BATTERY_ONLY")
        batt = only.split(",") if only else headline
        print(f"PRE  battery: {jvm_stats()}", flush=True)
        t0 = time.perf_counter()
        for name in batt:
            for _ in range(2):
                _materialize(qs[name](spark, sf_dir))
        print(
            f"BATTERY done in {time.perf_counter() - t0:.1f}s", flush=True
        )
    if os.environ.get("TC_GC", "0") == "1":
        # force driver GC so the ContextCleaner drains its backlog NOW,
        # not during the timed concurrent round
        for _ in range(2):
            spark.sparkContext._jvm.System.gc()
            time.sleep(10)
        print("GC+drain done", flush=True)
    rounds = int(os.environ.get("TC_ROUNDS", "2"))
    for r in range(rounds):
        print(f"PRE  round {r}: {jvm_stats()}", flush=True)
        t0 = time.perf_counter()
        spans = {}

        def run(name: str) -> None:
            s = time.perf_counter() - t0
            _materialize(qs[name](spark, sf_dir))
            e = time.perf_counter() - t0
            spans[name] = (s, e)

        with ThreadPoolExecutor(max_workers=cpus) as pool:
            list(pool.map(run, headline))
        wall = time.perf_counter() - t0
        print(f"ROUND {r} wall={wall:.2f}s", flush=True)
        print(f"POST round {r}: {jvm_stats()}", flush=True)
        if os.environ.get("TC_REST", "0") == "1":
          try:  # best-effort: session default is spark.ui.enabled=false
            import json as _json
            import urllib.request as _rq

            base = spark.sparkContext.uiWebUrl
            if not base:
                raise RuntimeError("spark UI disabled (spark.ui.enabled)")
            apps = _json.load(
                _rq.urlopen(f"{base}/api/v1/applications"))
            aid = apps[0]["id"]
            stages = _json.load(_rq.urlopen(
                f"{base}/api/v1/applications/{aid}/stages"
                f"?status=complete"))
            import datetime as _dt

            def _ts(s_):
                return _dt.datetime.strptime(
                    s_[:19], "%Y-%m-%dT%H:%M:%S").timestamp()

            t_wall0 = time.time() - wall
            run_ms = cpu_ms = deser_ms = gc_ms = ser_ms = 0
            fetch_ms = 0
            ntask = nstage = 0
            dur_ms = 0
            for st in stages:
                sub = st.get("firstTaskLaunchedTime") or st.get(
                    "submissionTime")
                if not sub or _ts(sub) < t_wall0 - 1:
                    continue
                nstage += 1
                ntask += st["numCompleteTasks"]
                run_ms += st["executorRunTime"]
                cpu_ms += st["executorCpuTime"] / 1e6
                deser_ms += st["executorDeserializeTime"]
                gc_ms += st["jvmGcTime"]
                ser_ms += st["resultSerializationTime"]
                fetch_ms += st.get("shuffleFetchWaitTime", 0)
                comp = st.get("completionTime")
                if comp:
                    dur_ms += (_ts(comp) - _ts(sub)) * 1000
            print(
                f"REST round {r}: stages={nstage} tasks={ntask} "
                f"stage_span={dur_ms / 1000:.1f}s "
                f"run={run_ms / 1000:.1f}s cpu={cpu_ms / 1000:.1f}s "
                f"deser={deser_ms / 1000:.1f}s gc={gc_ms / 1000:.1f}s "
                f"ser={ser_ms / 1000:.1f}s fetch={fetch_ms / 1000:.1f}s "
                f"wall*cpus={wall * cpus:.0f}s",
                flush=True,
            )
          except Exception as exc:  # noqa: BLE001 — diagnostic only
            print(f"REST round {r}: unavailable ({exc})", flush=True)
        for name, (s, e) in sorted(spans.items(), key=lambda kv: kv[1][1]):
            print(f"  {name:28s} start={s:7.2f} end={e:7.2f} "
                  f"dur={e - s:7.2f}", flush=True)


if __name__ == "__main__":
    main()
