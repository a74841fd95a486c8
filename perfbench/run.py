"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_netcdf4 --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all

Run from the repository root. One process drives a closed loop with one
client: it starts a local Spark session (``local[nproc]``, a 1 GB driver
heap), writes the workload's seeded inputs, runs one untimed warm
operation, checks its output, runs one more untimed operation, then runs
operations back to back for ``--seconds`` seconds. ``--trace 1`` runs the
separate traced form instead: job-labelled spans, Spark's event log, the per-stage breakdown,
kernel probes and, for ``rechunk_zarr``, the 1/2/nproc-core battery.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the full result
with its environment record is written under ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "pangeo_forge_recipes_spark")
DRIVER_MEM = "1g"
MIN_OPS = 1
TRACE_PAIRS = 2
SCALE_OPS = 1

END_TO_END = {
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
# Printed and stored with every timed run, but not end-to-end metrics of
# BENCHMARK.json: on a shared VM an operation's wall follows the share of
# CPU time the hypervisor steals (operator_mix walls nearly double at 20 %
# stolen), so their spread across runs exceeds any usable bound.
WALLS = {
    "op_s.p50": "s",
    "mb_per_s": "MB/s",
}
SPARK_FIELDS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "to_python_mb", "from_python_mb", "shuffle_write_mb",
)
CPU_ROLES = ("driver", "jvm", "python_workers")
KERNELS = (
    "split_mb_s", "frame_mb_s", "unframe_mb_s", "combine_mb_s",
    "zarr_put_mb_s", "zarr_get_mb_s", "zarr_put_zstd_mb_s", "zarr_get_zstd_mb_s",
    "hdf5_read_mb_s", "hdf5_schema_per_s", "hdf5_scan_per_s", "schema_union_per_s",
    "slab_read_mb_s", "png_decode_mb_s", "phash_per_s",
)


def _unit(name: str) -> str:
    if name.endswith("_mb_s"):
        return "MB/s"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


PER_LAYER = {
    **{n: _unit(n) for n in ("session.start_s", "session.first_op_s", "trace.overhead_frac")},
    **{f"spark.{f}": _unit(f) for f in SPARK_FIELDS},
    "spark.outside_jobs_s": "s",
    **{f"cpu.{r}_s": "s" for r in CPU_ROLES},
    **{f"kernel.{k}": _unit(k) for k in KERNELS},
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _configure_env(work: str, cpus: int) -> None:
    """Everything the session and its workers inherit: the package on the
    workers' path, the session size, and scratch space inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # a JVM that dies writes its crash report into the run's scratch space,
    # not into the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:ErrorFile={os.path.join(tmp, 'hs_err_pid%p.log')}"
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)


def _session(master: str, extra: dict):
    from pangeo_forge_recipes_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "warehouse"),
    }
    conf.update(extra)
    spark = get_spark(master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for every
    process this one started to end."""
    from procstat import tree_pids

    if spark is not None:
        spark.stop()
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        rest = [p for p in tree_pids() if p != os.getpid()]
        if not rest:
            return
        if time.time() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: int, work: str, cpus: int):
        from tracing import Tracer
        from workloads import WORKLOADS

        self.wl = WORKLOADS[workload](seed, os.path.join(work, "data"))
        self.seed, self.seconds = seed, seconds
        self.work, self.cpus = work, cpus
        self.plain = Tracer(None)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.report: dict = {}

    def _attempt(self, fn):
        """One operation: (wall, result), or (None, None) if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:  # an operation that raises is a failed sample
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            _log(f"operation failed:\n{self.errors[-1]}")
            return None, None
        return time.perf_counter() - t0, result

    def _setup(self, extra_conf: dict) -> dict:
        t0 = time.perf_counter()
        self.spark = _session(f"local[{self.cpus}]", extra_conf)
        start_s = time.perf_counter() - t0
        self.wl.setup(self.spark)
        first_wall, first = self._attempt(lambda: self.wl.first_op(self.spark, self.plain))
        setup_s = time.perf_counter() - t0
        if first is not None:
            problems = self.wl.check(self.spark, first)
            self.wl.discard(first)
            if problems:
                self.failed += 1
                self.errors += problems
                _log("output check failed: " + "; ".join(problems))
        return {"start_s": start_s, "first_op_s": first_wall, "setup_s": setup_s}

    def _settle(self) -> None:
        """More untimed operations (``settle_ops`` of the workload): the JVM
        keeps compiling hot paths past the first one, and the first timed
        operations otherwise read 10-40 % slow."""
        for _ in range(self.wl.settle_ops):
            _, result = self._attempt(lambda: self.wl.op(self.spark, self.plain, 0))
            if result is not None:
                self.wl.discard(result)

    # -- timed run ----------------------------------------------------------

    def timed(self) -> dict:
        from procstat import TreeSampler, tree_cpu_s

        setup = self._setup({})
        self._settle()
        sampler = TreeSampler()
        walls, cpus = [], []
        sampler.start()
        t_end = time.perf_counter() + self.seconds
        i = 1
        while time.perf_counter() < t_end or i <= MIN_OPS:
            cpu0 = tree_cpu_s()
            wall, result = self._attempt(lambda: self.wl.op(self.spark, self.plain, i))
            if result is not None:
                walls.append(wall)
                cpus.append(tree_cpu_s() - cpu0)
                self.wl.discard(result)
            i += 1
        sampler.stop()
        p50 = _median(walls)
        metrics = {
            "op_s.p50": (p50, len(walls)),
            "mb_per_s": (self.wl.input_mb / p50, len(walls)),
            "cpu_s_per_op": (_median(cpus), len(cpus)),
            "peak_rss_mb": (sampler.peak_rss_mb, 1),
            "setup_s": (setup["setup_s"], 1),
        }
        self.report.update(op_walls_s=walls, op_cpu_s=cpus, setup=setup, host_cpu_during_ops=sampler.host)
        return metrics

    # -- traced run ---------------------------------------------------------

    def traced(self) -> dict:
        from eventlog import FIELDS, read_events, sum_totals, totals_by_label
        from kernels import run_probes
        from procstat import cpu_by_role
        from tracing import Tracer

        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        setup = self._setup({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        self._settle()
        tracer = Tracer(self.spark)
        plain_walls, traced_walls, traced_ops, traced_cpu = [], [], [], []
        i = 1
        for k in range(TRACE_PAIRS):
            # alternate which of the pair runs first
            for traced in ((True, False) if k % 2 == 0 else (False, True)):
                if traced:
                    tracer.tag = f"t{k}"
                    tracer.install()
                    start = len(tracer.spans)
                    cpu0 = cpu_by_role()
                    wall, result = self._attempt(
                        lambda: tracer.span("op", self.wl.op, self.spark, tracer, i))
                    cpu1 = cpu_by_role()
                    tracer.uninstall()
                    if result is not None:
                        traced_walls.append(wall)
                        traced_ops.append((f"t{k}/", wall, tracer.spans[start:]))
                        traced_cpu.append({r: cpu1[r] - cpu0[r] for r in CPU_ROLES})
                else:
                    wall, result = self._attempt(lambda: self.wl.op(self.spark, self.plain, i))
                    if result is not None:
                        plain_walls.append(wall)
                if result is not None:
                    self.wl.discard(result)
                i += 1
        tracer.install()
        breakdown = self.wl.breakdown(self.spark, tracer)
        tracer.uninstall()
        kernels = run_probes(self.seed, os.path.join(self.work, "kernels"), tracer.span)
        # stopping the context completes the event log; the JVM stays up
        # for the scaling battery's sessions
        self.spark.stop()

        totals = totals_by_label(read_events(log_dir))
        per_op = [(sum_totals(totals, tag), wall) for tag, wall, _ in traced_ops]
        spark_layer = {
            f: _median([t[f] for t, _ in per_op]) for f in FIELDS
        }
        spark_layer["outside_jobs_s"] = _median([w - t["job_wall_s"] for t, w in per_op])
        self._stage_tables(breakdown, totals, traced_ops)

        metrics = {
            "session.start_s": (setup["start_s"], 1),
            "session.first_op_s": (setup["first_op_s"], 1),
            "trace.overhead_frac": (_median(traced_walls) / _median(plain_walls) - 1, len(traced_walls)),
            **{f"spark.{f}": (spark_layer[f], len(per_op)) for f in SPARK_FIELDS},
            "spark.outside_jobs_s": (spark_layer["outside_jobs_s"], len(per_op)),
            **{f"cpu.{r}_s": (_median([c[r] for c in traced_cpu]), len(traced_cpu)) for r in CPU_ROLES},
            **{k: (v, 1) for k, v in kernels.items()},
        }
        self.report.update(
            setup=setup, plain_walls_s=plain_walls, traced_walls_s=traced_walls,
            spark_totals_per_traced_op=[t for t, _ in per_op], breakdown=breakdown,
            spans=[s.__dict__ for _, _, spans in traced_ops for s in spans],
            span_self_s=tracer.self_times(),
        )
        if self.wl.name == "rechunk_zarr":
            self.report["scaling"] = self._scaling()
        return metrics

    def _stage_tables(self, breakdown: dict, totals: dict, traced_ops) -> None:
        """Attach Spark event-log totals to each breakdown stage (self =
        prefix minus the prefix it extends) and per-query rows."""
        from eventlog import FIELDS, sum_totals

        for table in breakdown.values():
            if "prefix_wall_s" not in table:
                continue
            prefix = {s: sum_totals(totals, f"bd/{s}") for s in table["prefix_wall_s"]}
            table["spark_self"] = {
                s: {
                    f: t[f] - (prefix[table["prefix_of"][s]][f] if s in table["prefix_of"] else 0.0)
                    for f in FIELDS
                }
                for s, t in prefix.items()
            }
        rows = {}
        for tag, _, spans in traced_ops:
            for s in spans:
                if s.name.startswith(("op.", "scan.")):
                    t = sum_totals(totals, f"{tag}{s.name}")
                    rows.setdefault(s.name, []).append({"wall_s": s.end - s.start, **t})
        if rows:
            breakdown["queries"] = {
                q: {k: _median([r[k] for r in rs]) for k in rs[0]} for q, rs in rows.items()
            }

    def _scaling(self) -> dict:
        """rechunk_zarr at local[1], local[2] and local[nproc]: median
        operation wall per core count, and the speedups over one core."""
        walls = {}
        for n in sorted({1, 2, self.cpus}):
            self.spark = _session(f"local[{n}]", {})
            self.wl.discard(self.wl.op(self.spark, self.plain, 0))
            ws = []
            for i in range(SCALE_OPS):
                wall, result = self._attempt(lambda: self.wl.op(self.spark, self.plain, i + 1))
                if result is not None:
                    ws.append(wall)
                    self.wl.discard(result)
            walls[n] = _median(ws)
            self.spark.stop()
        return {
            "op_s_by_cores": walls,
            "speedup_2c": walls[1] / walls[2],
            f"speedup_{self.cpus}c": walls[1] / walls[self.cpus],
            "base": "median op wall at local[1]",
        }


def _print_table(workload: str, metrics: dict) -> None:
    units = {**END_TO_END, **WALLS, **PER_LAYER}
    print(f"{workload}:")
    for name, (value, n) in metrics.items():
        print(f"  {name:28s} {value:14.6g} {units[name]:6s} n={n}")


def run_one(args) -> int:
    from layers import entry_for
    from procstat import environment

    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(work, cpus)
    run = None
    try:
        run = Run(args.workload, args.seed, args.seconds, work, cpus)
        metrics = run.traced() if args.trace else run.timed()
        env = environment(ROOT, work, cpus, DRIVER_MEM)
    finally:
        _stop_session(run.spark if run is not None else None)
        shutil.rmtree(work, ignore_errors=True)

    units = {**END_TO_END, **WALLS, **PER_LAYER}
    listed = PER_LAYER if args.trace else END_TO_END
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k][0], "unit": units[k]} for k in listed},
    }
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "environment": env,
            "failed_frac": run.failed / run.attempted, "errors": run.errors,
            **({"should_move": {k: entry_for(k) for k in metrics}} if args.trace else {}),
            "metrics": {k: {"value": v, "unit": units[k], "samples": n}
                        for k, (v, n) in metrics.items()},
            **run.report,
        }, f, indent=1, default=str)
    print(json.dumps({"environment": env}))
    _print_table(args.workload, metrics)
    print(f"  {'failed_frac':28s} {run.failed / run.attempted:14.6g} {'ratio':6s} n={run.attempted}")
    print(f"  report: {os.path.relpath(path, ROOT)}")
    print(json.dumps(out), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload in its own process, one after the other."""
    from workloads import WORKLOADS

    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            _log(f"{name} exited with {proc.returncode}")
            return proc.returncode or 1
        res = json.loads(lines[-1])
        summary["correct"] &= res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        summary["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(summary), flush=True)
    return 0


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS  # noqa: F401  (fails fast without numpy)

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PACKAGE):
        _log(f"the package is not in {ROOT}: run from a checkout of the repository")
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
