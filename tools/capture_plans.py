"""Capture ``explain("formatted")`` for declared queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt (suffix from $PLAN_SUFFIX,
default "before"). Queries whose callables execute eagerly (pipeline
round-trips) still produce the plan of the RETURNED DataFrame; the
fixture synthesis they run on the way is not part of the captured plan.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import bench_session


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    only = set(sys.argv[2:])
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    spark, _ = bench_session("pfrs-capture-plans")
    qs = entrymod.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # capture the failure instead of dying
            text = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
        n_ex = text.count("Exchange")
        n_py = sum(text.count(s) for s in
                   ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "FlatMapGroupsInPandas"))
        print(f"{name}: exchanges={n_ex} python_nodes={n_py}", flush=True)


if __name__ == "__main__":
    main()
