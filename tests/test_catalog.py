"""The query catalog's contract, checked without a Spark session:
``queries()`` and ``oracle_sql()`` are the same graded names in the
recorded order, every pair the bench times or the parity test checks
outside that window is an ungraded entry of ``_catalog()``, and the
catalog's scratch directories go away when the process exits."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import __spark_entry__ as entrymod
import bench

from . import test_shared_sql_parity as parity

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_and_oracles_are_the_graded_names_in_order():
    with open(os.path.join(ROOT, "CORRECTNESS_r13.json")) as f:
        recorded = list(json.load(f))
    assert len(recorded) == 50
    assert list(entrymod.queries()) == list(entrymod.oracle_sql()) == recorded


def test_bench_and_parity_pairs_are_ungraded_catalog_entries():
    ungraded = set(entrymod._catalog()) - set(entrymod.GRADED)
    assert set(bench.EXTRA_MATCHED) <= ungraded
    assert set(bench.SPARK_ONLY) <= ungraded
    assert set(parity.UNGRADED) == ungraded


def test_scratch_is_removed_at_exit():
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import os, __spark_entry__ as e; "
            "p = e._scratch('pfrs_t_'); print(p, os.path.isdir(p))",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    path, existed = out.stdout.split()
    assert os.path.basename(path).startswith("pfrs_t_") and existed == "True"
    assert not os.path.exists(path)
