"""Every ungraded pair of the catalog (``__spark_entry__._catalog()``
entries outside ``GRADED``) runs on BOTH engines, Spark and DuckDB, over
the same parquet inputs and must give the driver-style order-insensitive
value-hash match, so the pairs outside the driver's 50-query window
cannot rot.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"

UNGRADED = [n for n in entrymod._catalog() if n not in entrymod.GRADED]


def _summary(pdf: pd.DataFrame):
    """Driver-style frame summary: sorted columns, normalized cells,
    order-insensitive row hash."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def cell(v):
        if isinstance(v, float):
            return f"{v:.10g}"
        return str(v)

    rows = sorted("|".join(cell(v) for v in r) for r in pdf.itertuples(index=False))
    return (
        len(pdf),
        list(pdf.columns),
        hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16],
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in entrymod.TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


@pytest.mark.parametrize("name", UNGRADED)
def test_rotated_out_sql_still_matches(spark, duck, name):
    query, oracle = entrymod._catalog()[name]
    got = _summary(query(spark, SF_DIR).toPandas())
    want = _summary(duck.execute(oracle).df())
    assert got == want, f"{name}: spark {got} != duckdb {want}"
    assert got[0] > 0, f"{name}: no rows"


def test_round9_rotation_slots_dual_engine(spark):
    """The four r9 rotation slots (phash_near_dup,
    quality_classifier_score, stratified_sample,
    streaming_hamming_dedup) pinned at sf0.001 against their DuckDB
    oracles — the same compare the driver's gate runs at sf0.01.

    Uses the SHARED entrymod instance, never a second importlib copy:
    a separate module copy carries its own _REGISTERED cache, so its
    sf0.001 re-registration silently clobbered the session's views
    under the first copy's nose and the NEXT entrymod._register call
    skipped the re-register — a later sf0.01 test then read sf0.001
    data (r12 review-session finding, surfaced by the perplexity warm
    test)."""
    import duckdb

    entry = entrymod
    sf = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    for name in (
        "phash_near_dup",
        "quality_classifier_score",
        "stratified_sample",
        "streaming_hamming_dedup",
    ):
        got = sorted(map(tuple, entry.queries()[name](spark, sf).collect()))
        want = sorted(map(tuple, con.execute(entry.oracle_sql()[name]).fetchall()))
        assert got == want and got, name
