"""Driver-side frames (``session.local_df``): typed Arrow tables that plan
as a JVM ``LocalTableScan``, the small-pattern manifest built on them,
and the ``spark.range`` manifest branch returning the same rows."""

from __future__ import annotations

import pytest

from pangeo_forge_recipes_spark import pattern_from_file_sequence
from pangeo_forge_recipes_spark import transforms as T
from pangeo_forge_recipes_spark.session import local_df

from .local_frames import assert_local_scan, executed_plan


@pytest.fixture()
def pattern():
    return pattern_from_file_sequence(
        [f"/data/f{i:02d}.npz" for i in range(9)], "time", file_type="npz"
    )


def _manifest_rows(df):
    return [(r["index"], r["url"]) for r in df.collect()]


def test_manifest_is_local_scan_in_pattern_order(spark, pattern):
    df = T.manifest_df(spark, pattern)
    assert_local_scan(df)
    assert _manifest_rows(df) == [(i.to_json(), u) for i, u in pattern.items()]
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_distributed_manifest_returns_same_rows(spark, pattern, monkeypatch):
    monkeypatch.setattr(T, "_DRIVER_MANIFEST_MAX", 1)
    df = T.manifest_df(spark, pattern)
    assert "Range" in executed_plan(df)
    assert _manifest_rows(df) == [(i.to_json(), u) for i, u in pattern.items()]


def test_local_df_types_nulls_and_empty(spark):
    rows = [(1, "a", [1, 2], None), (2, None, [], 0.5)]
    schema = "k long, s string, xs array<int>, f double"
    df = local_df(spark, rows, schema)
    assert_local_scan(df)
    assert df.schema.simpleString() == "struct<k:bigint,s:string,xs:array<int>,f:double>"
    assert [tuple(r) for r in df.collect()] == rows

    empty = local_df(spark, [], schema)
    assert_local_scan(empty)
    assert empty.schema == df.schema and empty.collect() == []


@pytest.mark.parametrize(
    "rows", [[(1, "a"), (2,)], [(1,)], [("not a number", "a")]], ids=["ragged", "narrow", "type"]
)
def test_local_df_rejects_rows_that_do_not_fit(spark, rows):
    with pytest.raises(ValueError):
        local_df(spark, rows, "k long, s string")


def test_verify_zarr_of_empty_store_is_local_scan(spark, tmp_path):
    from pangeo_forge_recipes_spark.dsio import verify_zarr
    from pangeo_forge_recipes_spark.zarrio import create_group

    path = str(tmp_path / "empty.zarr")
    create_group(path)
    report = verify_zarr(spark, path)
    assert_local_scan(report)
    assert report.collect() == []
