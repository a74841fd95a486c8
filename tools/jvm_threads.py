"""CPU of the Spark driver JVM per thread family, read from /proc only.

Usage: python tools/jvm_threads.py <sf_dir> <query> [query ...]  (env JT_REPS, default 5)

After one untimed operation (bench.py's session, warm-up and noop sink),
samples ``/proc/<jvm>/task/*/stat`` every 5 ms around JT_REPS operations,
each running every named catalog query once, and prints per operation the
CPU seconds of each thread-name family (digits folded) and the threads
started. Threads that start and exit between two samples are missed: the
JVM's CPU that no sampled thread accounts for is printed as "(unsampled)".
"""

from __future__ import annotations

import os
import re
import sys
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(path: str):
    """(command name, utime + stime seconds) of a /proc stat file."""
    try:
        with open(path, "rb") as f:
            stat = f.read()
    except OSError:
        return None
    comm = stat[stat.index(b"(") + 1 : stat.rindex(b")")].decode(errors="replace")
    fields = stat[stat.rindex(b")") + 2 :].split()
    return comm, (int(fields[11]) + int(fields[12])) / _CLK_TCK


def _threads(pid: int) -> dict:
    stats = {int(t): _stat(f"/proc/{pid}/task/{t}/stat") for t in os.listdir(f"/proc/{pid}/task")}
    return {t: s for t, s in stats.items() if s is not None}


def sample(fn, pid: int, interval_s: float = 0.005):
    """Run ``fn()`` while polling the threads of process ``pid``; return
    ``(fn's result, {family: [cpu_s, threads started]})``."""
    before, proc0 = _threads(pid), _stat(f"/proc/{pid}/stat")[1]
    seen, stop = dict(before), threading.Event()

    def poll():
        while not stop.wait(interval_s):
            seen.update(_threads(pid))

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        result = fn()
    finally:
        stop.set()
        poller.join()
    seen.update(_threads(pid))
    families: dict = {}
    for tid, (name, cpu) in seen.items():
        row = families.setdefault(re.sub(r"\d+", "#", name), [0.0, 0])
        row[0] += cpu - before.get(tid, (name, 0.0))[1]
        row[1] += tid not in before
    total = _stat(f"/proc/{pid}/stat")[1] - proc0
    families["(unsampled)"] = [total - sum(r[0] for r in families.values()), 0]
    return result, families


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from bench import _materialize, bench_session, warm_session

    sf_dir, names = sys.argv[1], sys.argv[2:]
    reps = int(os.environ.get("JT_REPS", "5"))
    spark, _ = bench_session("pfrs-jvmthreads")
    qs = entrymod.queries()
    warm_session(spark, sf_dir)

    def op():
        for name in names:
            _materialize(qs[name](spark, sf_dir))

    op()  # untimed: registration, first plans, worker spawn
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    _, families = sample(lambda: [op() for _ in range(reps)], pid)
    print(f"JVM CPU per operation over {reps} operations of {' + '.join(names)}")
    print(f"{'total':<24}{sum(r[0] for r in families.values()) / reps:8.3f} s")
    for fam, (cpu, started) in sorted(families.items(), key=lambda kv: -kv[1][0]):
        if cpu >= 0.005 * reps or started:
            print(f"{fam:<24}{cpu / reps:8.3f} s  {started / reps:6.1f} started")


if __name__ == "__main__":
    main()
