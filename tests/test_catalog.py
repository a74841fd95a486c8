"""The query catalog's contract: ``queries()`` and ``oracle_sql()`` are
the same graded names in the recorded order, every pair the bench times or
the parity test checks outside that window is an ungraded entry of
``_catalog()``, and the catalog's scratch directories go away when the
process exits (all checked without a Spark session). Table registration is
memoized per session and directory: a repeated query pays only its own
job, and a changed file, a new session or ``_unregister`` registers anew."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest

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


SF_SMALL = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
QUERY = "quality_classifier_score"


@pytest.fixture
def corpus(spark, tmp_path):
    """A perfbench-style corpus: ``documents`` and ``embeddings`` only, no
    TPC-H tables. Whatever the tests register is dropped afterwards."""
    for t in ("documents", "embeddings"):
        shutil.copyfile(
            os.path.join(SF_SMALL, f"{t}.parquet"), tmp_path / f"{t}.parquet"
        )
    yield str(tmp_path)
    entrymod._unregister(spark)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _jobs(spark, fn) -> int:
    """How many Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_query_runs_only_its_own_job(spark, corpus):
    q = entrymod.queries()[QUERY]
    _noop(q(spark, corpus))
    cached = list(entrymod._CACHED[id(spark)])
    assert len(cached) == 2  # documents and embeddings
    assert _jobs(spark, lambda: _noop(q(spark, corpus))) == 1
    now = entrymod._CACHED[id(spark)]
    assert len(now) == 2 and all(x is y for x, y in zip(now, cached))


def test_rewritten_table_file_registers_again(spark, corpus):
    q = entrymod.queries()[QUERY]
    assert q(spark, corpus).count() == 500
    path = os.path.join(corpus, "documents.parquet")
    pq.write_table(pq.read_table(path).slice(0, 120), path)
    assert q(spark, corpus).count() == 120


def test_unregister_or_new_session_registers_again(spark, corpus):
    q = entrymod.queries()[QUERY]
    q(spark, corpus)
    first = list(entrymod._CACHED[id(spark)])
    entrymod._unregister(spark)
    q(spark, corpus)
    again = entrymod._CACHED[id(spark)]
    assert not any(x is y for x in first for y in again)

    other = spark.newSession()
    try:
        # a stale entry under the new session's id, as after id() reuse:
        # the tableExists probe must still miss
        entrymod._REGISTERED[id(other)] = entrymod._REGISTERED[id(spark)]
        assert q(other, corpus).count() == 500
        assert other.catalog.tableExists("documents")
        assert len(entrymod._CACHED[id(other)]) == 2
    finally:
        entrymod._unregister(other)


def test_concurrent_first_calls_register_once(spark, corpus, monkeypatch):
    misses = []
    unregister = entrymod._unregister

    def counting(session):
        misses.append(id(session))
        unregister(session)

    monkeypatch.setattr(entrymod, "_unregister", counting)
    q = entrymod.queries()[QUERY]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(4) as pool:
            futures = [pool.submit(q, spark, corpus) for _ in range(4)]
            frames = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert len(frames) == 4
    assert misses == [id(spark)]
    assert len(entrymod._CACHED[id(spark)]) == 2
