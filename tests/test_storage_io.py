"""Tests for the engine's own Zarr v3 implementation, the npz container,
the dataset⇄store bridge, and kerchunk-style references."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from pangeo_forge_recipes_spark.aggregation import dataset_to_schema
from pangeo_forge_recipes_spark.dsio import (
    consolidate_dimension_coordinates,
    npz_schema,
    open_zarr_group,
    read_npz,
    schema_to_zarr,
    store_dataset_fragment,
    write_npz,
    zarr_group_schema,
)
from pangeo_forge_recipes_spark.kerchunkio import (
    ReferenceStore,
    combine_references,
    open_reference_dataset,
    read_reference_parquet,
    scan_npz,
    scan_zarr,
    write_reference_json,
    write_reference_parquet,
)
from pangeo_forge_recipes_spark.ndset import assert_equal
from pangeo_forge_recipes_spark.types import (
    CombineOp,
    Dimension,
    Index,
    IndexedPosition,
    Position,
)
from pangeo_forge_recipes_spark.zarrio import (
    consolidate_metadata,
    create_group,
    open_group,
)

from .data_generation import make_ds


# ---------------------------------------------------------------- zarrio


def test_zarr_array_rw(tmp_path):
    g = create_group(str(tmp_path / "s.zarr"))
    a = g.create_array("x", shape=[10, 6], chunks=[4, 6], dtype="float64", fill_value=np.nan)
    data = np.arange(60, dtype="f8").reshape(10, 6)
    a[(slice(0, 10), slice(0, 6))] = data
    g2 = open_group(str(tmp_path / "s.zarr"))
    np.testing.assert_array_equal(g2["x"].read(), data)
    # partial region read
    np.testing.assert_array_equal(g2["x"][(slice(3, 7), slice(2, 4))], data[3:7, 2:4])
    # unwritten chunks read as fill
    b = g.create_array("y", shape=[5], chunks=[2], dtype="int64", fill_value=7)
    np.testing.assert_array_equal(b.read(), np.full(5, 7))


def test_zarr_misaligned_rmw(tmp_path):
    g = create_group(str(tmp_path / "s.zarr"))
    a = g.create_array("x", shape=[10], chunks=[4], dtype="int32")
    a[(slice(0, 10),)] = np.zeros(10, "i4")
    a[(slice(3, 6),)] = np.array([1, 2, 3], "i4")
    np.testing.assert_array_equal(a.read(), [0, 0, 0, 1, 2, 3, 0, 0, 0, 0])


def test_zarr_gzip_and_consolidate(tmp_path):
    path = str(tmp_path / "s.zarr")
    g = create_group(path, attrs={"title": "t"})
    a = g.create_array("x", shape=[8], chunks=[4], dtype="float32", compressor="gzip")
    a[(slice(0, 8),)] = np.arange(8, dtype="f4")
    np.testing.assert_array_equal(open_group(path)["x"].read(), np.arange(8, dtype="f4"))
    consolidate_metadata(path)
    meta = json.loads(open(os.path.join(path, "zarr.json")).read())
    assert "x" in meta["consolidated_metadata"]["metadata"]


# ---------------------------------------------------------------- npz


@pytest.mark.parametrize("non_dim_coords", [False, True])
def test_npz_roundtrip(tmp_path, non_dim_coords):
    ds = make_ds(nt=5, non_dim_coords=non_dim_coords)
    p = str(tmp_path / "d.npz")
    write_npz(p, ds)
    rt = read_npz(p)
    assert_equal(rt, ds)
    schema = npz_schema(p)
    assert schema["dims"] == ds.sizes
    assert schema["coords"]["time"]["dtype"] == "datetime64[ns]"
    if non_dim_coords:
        assert "baz" in schema["coords"]


# ---------------------------------------------------------------- dsio


def test_schema_to_zarr_and_fragment_writes(tmp_path):
    ds = make_ds(nt=10, non_dim_coords=True)
    path = str(tmp_path / "t.zarr")
    schema = dataset_to_schema(ds)
    schema_to_zarr(schema, path, target_chunks={"time": 2})
    tdim = Dimension("time", CombineOp.CONCAT)
    # write every chunk as a fragment
    for i in range(5):
        sub = ds.isel(time=slice(2 * i, 2 * i + 2))
        idx = Index({tdim: IndexedPosition(2 * i, dimsize=10)})
        store_dataset_fragment((idx, sub), path)
    rt = open_zarr_group(path)
    assert_equal(rt, ds)
    # metadata-only schema reader agrees
    s2 = zarr_group_schema(path)
    assert s2["dims"] == ds.sizes
    assert s2["coords"]["time"]["dtype"] == "datetime64[ns]"


def test_misaligned_region_raises(tmp_path):
    ds = make_ds(nt=10)
    path = str(tmp_path / "t.zarr")
    schema_to_zarr(dataset_to_schema(ds), path, target_chunks={"time": 4})
    tdim = Dimension("time", CombineOp.CONCAT)
    sub = ds.isel(time=slice(2, 4))
    idx = Index({tdim: IndexedPosition(2, dimsize=10)})
    with pytest.raises(ValueError, match="does not align"):
        store_dataset_fragment((idx, sub), path)


def test_coordinate_ownership(tmp_path):
    """Coords written only by merge-first owners; non-concat coords only by
    the global first item (reference writers.py:57-69,110-122)."""
    ds = make_ds(nt=4, non_dim_coords=True)
    path = str(tmp_path / "t.zarr")
    schema_to_zarr(dataset_to_schema(ds), path, target_chunks={"time": 2})
    tdim = Dimension("time", CombineOp.CONCAT)
    mdim = Dimension("variable", CombineOp.MERGE)
    # second-in-merge-dim fragment: must not write coords
    sub = ds.isel(time=slice(2, 4)).drop_vars(["foo"])
    idx = Index({tdim: IndexedPosition(2, dimsize=4), mdim: Position(1)})
    store_dataset_fragment((idx, sub), path)
    g = open_group(path)
    # bar region written
    np.testing.assert_array_equal(
        g["bar"][(slice(2, 4),)], ds.data_vars["bar"].data[2:4]
    )
    # but time coord for that region untouched (still fill=0 → epoch)
    assert not any(
        k.startswith("time/c") for k in g.store.list_prefix("time/")
    )
    # first-in-merge fragment writes its concat-dim coords region only
    sub0 = ds.isel(time=slice(2, 4)).drop_vars(["bar"])
    idx0 = Index({tdim: IndexedPosition(2, dimsize=4), mdim: Position(0)})
    store_dataset_fragment((idx0, sub0), path)
    g = open_group(path)
    assert any(k.startswith("time/c") for k in g.store.list_prefix("time/"))
    # non-concat coords (lat/baz) not yet written (not first item globally)
    assert not any(k.startswith("baz/c") for k in g.store.list_prefix("baz/"))
    # global first item writes everything it owns
    subf = ds.isel(time=slice(0, 2)).drop_vars(["bar"])
    idxf = Index({tdim: IndexedPosition(0, dimsize=4), mdim: Position(0)})
    store_dataset_fragment((idxf, subf), path)
    g = open_group(path)
    assert any(k.startswith("baz/c") for k in g.store.list_prefix("baz/"))
    np.testing.assert_array_equal(g["lat"].read(), ds.coords["lat"].data)


def test_consolidate_dimension_coordinates(tmp_path):
    ds = make_ds(nt=10)
    path = str(tmp_path / "t.zarr")
    schema_to_zarr(dataset_to_schema(ds), path, target_chunks={"time": 2})
    tdim = Dimension("time", CombineOp.CONCAT)
    for i in range(5):
        sub = ds.isel(time=slice(2 * i, 2 * i + 2))
        store_dataset_fragment(
            (Index({tdim: IndexedPosition(2 * i, dimsize=10)}), sub), path
        )
    consolidate_dimension_coordinates(path)
    g = open_group(path)
    assert g["time"].chunks == (10,)  # single chunk now
    assert_equal(open_zarr_group(path), ds)


# ---------------------------------------------------------------- kerchunk


def test_scan_npz_reference_roundtrip(tmp_path):
    ds = make_ds(nt=3)
    p = str(tmp_path / "d.npz")
    write_npz(p, ds)
    refs = scan_npz(p)
    rt = open_reference_dataset(refs)
    assert_equal(rt, ds)


def test_scan_zarr_reference_roundtrip(tmp_path):
    ds = make_ds(nt=4)
    path = str(tmp_path / "t.zarr")
    schema_to_zarr(dataset_to_schema(ds), path, target_chunks={"time": 2})
    tdim = Dimension("time", CombineOp.CONCAT)
    for i in range(2):
        store_dataset_fragment(
            (Index({tdim: IndexedPosition(2 * i, dimsize=4)}), ds.isel(time=slice(2 * i, 2 * i + 2))),
            path,
        )
    refs = scan_zarr(path)
    rt = open_reference_dataset(refs)
    assert_equal(rt, ds)


def test_combine_references(tmp_path):
    ds = make_ds(nt=6)
    ref_sets = []
    for i in range(3):
        p = str(tmp_path / f"f{i}.npz")
        write_npz(p, ds.isel(time=slice(2 * i, 2 * i + 2)))
        ref_sets.append(scan_npz(p))
    combined = combine_references(ref_sets, ["time"])
    rt = open_reference_dataset(combined)
    assert_equal(rt, ds)
    # writers round-trip
    jp = write_reference_json(combined, str(tmp_path / "out" / "reference.json"))
    assert_equal(open_reference_dataset(jp), ds)
    pp = write_reference_parquet(combined, str(tmp_path / "out.parquet"))
    assert_equal(
        open_zarr_group.__wrapped__(ReferenceStore(read_reference_parquet(pp)))
        if hasattr(open_zarr_group, "__wrapped__")
        else open_reference_dataset(read_reference_parquet(pp)),
        ds,
    )


def test_combine_references_ragged_final_file(tmp_path):
    """A final file shorter than the chunk grid must still be readable —
    the ragged edge chunk's missing tail reads as fill (regression:
    _decode_chunk used to raise 'cannot reshape')."""
    ds = make_ds(nt=5)
    ref_sets = []
    for i, sl in enumerate([slice(0, 2), slice(2, 4), slice(4, 5)]):
        p = str(tmp_path / f"r{i}.npz")
        write_npz(p, ds.isel(time=sl))
        ref_sets.append(scan_npz(p))
    combined = combine_references(ref_sets, ["time"])
    rt = open_reference_dataset(combined)
    assert rt.sizes["time"] == 5
    assert_equal(rt, ds)


# ---------------------------------------------------------------------------
# zarr v3 sharding (sharding_indexed)
# ---------------------------------------------------------------------------


def test_sharded_array_roundtrip_and_layout(tmp_path):
    import glob

    import numpy as np

    from pangeo_forge_recipes_spark.zarrio import create_group, open_group

    root = str(tmp_path / "sh.zarr")
    g = create_group(root)
    arr = g.create_array(
        "x", shape=(10, 12), chunks=[2, 3], shards=[4, 6],
        dtype="float64", fill_value=float("nan"),
        dimension_names=["a", "b"], compressor="gzip",
    )
    data = np.arange(120, dtype="float64").reshape(10, 12)
    arr[:, :] = data
    # one object per 4x6 shard: ceil(10/4) x ceil(12/6) = 6, not 20 chunks
    objs = [p for p in glob.glob(root + "/x/c/**", recursive=True)
            if not p.endswith("zarr.json") and __import__("os").path.isfile(p)]
    assert len(objs) == 6
    a2 = open_group(root)["x"]
    assert a2.chunks == (4, 6)  # outer grid
    np.testing.assert_array_equal(a2.read(), data)
    np.testing.assert_array_equal(a2[3:9, 2:11], data[3:9, 2:11])
    # metadata follows the spec shape
    cfg = a2.meta["codecs"][0]
    assert cfg["name"] == "sharding_indexed"
    assert cfg["configuration"]["chunk_shape"] == [2, 3]
    assert {c["name"] for c in cfg["configuration"]["index_codecs"]} == {"bytes", "crc32c"}


def test_sharded_index_crc_detects_corruption(tmp_path):
    import glob
    import os

    import numpy as np
    import pytest as _pytest

    from pangeo_forge_recipes_spark.zarrio import create_group, open_group

    root = str(tmp_path / "shc.zarr")
    g = create_group(root)
    arr = g.create_array("x", shape=(4, 4), chunks=[2, 2], shards=[4, 4],
                         dtype="int64", fill_value=0)
    arr[:, :] = np.arange(16).reshape(4, 4)
    (obj,) = [p for p in glob.glob(root + "/x/c/**", recursive=True)
              if os.path.isfile(p)]
    raw = bytearray(open(obj, "rb").read())
    raw[-5] ^= 0xFF  # flip a bit inside the index
    open(obj, "wb").write(bytes(raw))
    with _pytest.raises(ValueError, match="crc32c"):
        open_group(root)["x"].read()


def test_sharded_fill_chunks_omitted(tmp_path):
    import numpy as np

    from pangeo_forge_recipes_spark.zarrio import create_group, open_group

    root = str(tmp_path / "shf.zarr")
    g = create_group(root)
    arr = g.create_array("x", shape=(4, 8), chunks=[2, 2], shards=[4, 8],
                         dtype="float64", fill_value=float("nan"))
    data = np.full((4, 8), np.nan)
    data[:2, :2] = 7.0  # only one inner chunk non-fill
    arr[:, :] = data
    a2 = open_group(root)["x"]
    got = a2.read()
    np.testing.assert_array_equal(got[:2, :2], 7.0)
    assert np.isnan(got[2:, :]).all()
    # the shard body holds exactly one encoded inner chunk: the object is
    # much smaller than a dense shard would be
    import glob, os
    (obj,) = [p for p in glob.glob(root + "/x/c/**", recursive=True)
              if os.path.isfile(p)]
    dense = 4 * 8 * 8
    assert os.path.getsize(obj) < dense


def test_store_to_zarr_with_shards(spark, tmp_path):
    import glob
    import os

    import numpy as np

    from pangeo_forge_recipes_spark import pattern_from_file_sequence, store_to_zarr
    from pangeo_forge_recipes_spark.dsio import write_npz
    from tests.data_generation import make_ds

    ds = make_ds(nt=12)
    paths = []
    for i in range(4):
        p = str(tmp_path / f"f{i}.npz")
        write_npz(p, ds.isel(time=slice(3 * i, 3 * i + 3)))
        paths.append(p)
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=3, file_type="npz")
    result = store_to_zarr(
        spark, pattern, str(tmp_path), "sharded.zarr",
        target_chunks={"time": 2}, target_shards={"time": 6},
    )
    from pangeo_forge_recipes_spark.ndset import assert_equal

    assert_equal(result.open(), ds, check_attrs=False)
    # data vars laid out as 2 shard objects (12/6), not 6 chunk objects
    foo_objs = [p for p in glob.glob(str(tmp_path / "sharded.zarr" / "foo" / "c" / "**"), recursive=True)
                if os.path.isfile(p)]
    assert len(foo_objs) == 2
    # misaligned shards raise up front
    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiple"):
        store_to_zarr(
            spark, pattern, str(tmp_path), "bad.zarr",
            target_chunks={"time": 4}, target_shards={"time": 6},
        )


def test_sharded_index_location_start(tmp_path):
    """Decoder handles ZEP-2 ``index_location: start`` shards (other
    writers may emit them; our writer uses ``end``)."""
    import json

    import numpy as np

    from pangeo_forge_recipes_spark.zarrio import create_group, open_group

    root = str(tmp_path / "shs.zarr")
    g = create_group(root)
    arr = g.create_array("x", shape=(4, 4), chunks=[2, 2], shards=[4, 4],
                         dtype="int64", fill_value=0)
    data = np.arange(16, dtype="int64").reshape(4, 4)
    # flip the metadata to index_location=start and re-encode through the
    # writer's start branch
    arr.meta["codecs"][0]["configuration"]["index_location"] = "start"
    arr.flush_meta()
    arr[:, :] = data
    a2 = open_group(root)["x"]
    assert a2.meta["codecs"][0]["configuration"]["index_location"] == "start"
    np.testing.assert_array_equal(a2.read(), data)


def test_verify_zarr_distributed_scrub(spark, tmp_path):
    import numpy as np

    from pangeo_forge_recipes_spark.dsio import verify_zarr
    from pangeo_forge_recipes_spark.zarrio import create_group

    root = str(tmp_path / "vz.zarr")
    g = create_group(root)
    arr = g.create_array("x", shape=(8, 6), chunks=[4, 3], dtype="float64",
                         fill_value=0.0, compressor="gzip")
    arr[:, :] = np.arange(48, dtype="float64").reshape(8, 6)
    g.create_array("empty", shape=(4,), chunks=[2], dtype="int64")  # no chunks stored
    rep = verify_zarr(spark, root).toPandas()
    x = rep[rep["array"] == "x"]
    assert len(x) == 4 and x["exists"].all() and x["ok"].all()
    assert (x["nbytes"] > 0).all()
    e = rep[rep["array"] == "empty"]
    assert len(e) == 2 and (~e["exists"]).all() and e["ok"].all()
    # corrupt one chunk -> the scrub reports exactly that object
    victim = x.iloc[0]["chunk_key"]
    import os
    p = os.path.join(root, victim)
    raw = open(p, "rb").read()
    open(p, "wb").write(raw[: len(raw) // 2])
    rep2 = verify_zarr(spark, root).toPandas()
    bad = rep2[~rep2["ok"]]
    assert len(bad) == 1 and bad.iloc[0]["chunk_key"] == victim
    assert "Error" in bad.iloc[0]["error"] or "error" in bad.iloc[0]["error"].lower()
    # cheap scrub skips decoding -> corruption not seen, existence is
    rep3 = verify_zarr(spark, root, check_values=False).toPandas()
    assert rep3["ok"].all()


def test_store_to_zarr_sharded_append(spark, tmp_path):
    import numpy as np

    from pangeo_forge_recipes_spark import pattern_from_file_sequence, store_to_zarr
    from pangeo_forge_recipes_spark.dsio import open_zarr_group, write_npz
    from pangeo_forge_recipes_spark.ndset import assert_equal
    from tests.data_generation import make_ds

    ds = make_ds(nt=12)
    paths = []
    for i in range(4):
        p = str(tmp_path / f"s{i}.npz")
        write_npz(p, ds.isel(time=slice(3 * i, 3 * i + 3)))
        paths.append(p)
    first = pattern_from_file_sequence(paths[:2], "time", nitems_per_file=3, file_type="npz")
    rest = pattern_from_file_sequence(paths[2:], "time", nitems_per_file=3, file_type="npz")
    store_to_zarr(
        spark, first, str(tmp_path), "sa.zarr",
        target_chunks={"time": 3}, target_shards={"time": 6},
        consolidate_coords=False,
    )
    store_to_zarr(
        spark, rest, str(tmp_path), "sa.zarr",
        target_chunks={"time": 3}, target_shards={"time": 6},
        append_dim="time", consolidate_coords=False,
    )
    got = open_zarr_group(str(tmp_path / "sa.zarr"))
    assert_equal(got, ds, check_attrs=False)


def test_sharded_partial_reads_touch_only_needed_bytes(tmp_path):
    """Region reads over a sharded array range-read the index plus ONLY
    the intersecting inner chunks — never the whole shard object."""
    import numpy as np

    from pangeo_forge_recipes_spark import zarrio
    from pangeo_forge_recipes_spark.zarrio import LocalStore, create_group, open_group

    root = str(tmp_path / "pr.zarr")
    g = create_group(root)
    arr = g.create_array("x", shape=(16, 16), chunks=[2, 2], shards=[16, 16],
                         dtype="float64", fill_value=0.0, compressor="gzip")
    data = np.arange(256, dtype="float64").reshape(16, 16)
    arr[:, :] = data

    calls = {"get": 0, "range": 0, "range_bytes": 0}

    class SpyStore(LocalStore):
        def get(self, key):
            if "/c" in key:
                calls["get"] += 1
            return super().get(key)

        def get_range(self, key, offset, length):
            calls["range"] += 1
            out = super().get_range(key, offset, length)
            calls["range_bytes"] += len(out)
            return out

    a = open_group(SpyStore(root))["x"]
    sub = a[3:5, 3:5]  # touches 4 of 64 inner chunks
    np.testing.assert_array_equal(sub, data[3:5, 3:5])
    assert calls["get"] == 0  # whole-object GET never issued
    # index read + 4 inner-chunk reads
    assert calls["range"] == 5
    obj_size = a.store.size(a._key((0, 0)))
    # bytes touched = index (64 entries x 16 B + crc) + 4 tiny chunks —
    # strictly less than the whole object despite the index floor
    assert calls["range_bytes"] < obj_size * 0.6
    # full-coverage reads still use the single whole-object GET
    calls.update(get=0, range=0, range_bytes=0)
    np.testing.assert_array_equal(a[:, :], data)
    assert calls["get"] == 1 and calls["range"] == 0


def test_store_summary(tmp_path):
    from pangeo_forge_recipes_spark.dsio import store_summary
    from pangeo_forge_recipes_spark.zarrio import create_group

    root = str(tmp_path / "sum.zarr")
    g = create_group(root)
    a = g.create_array("x", shape=(8, 8), chunks=[2, 2], shards=[4, 4],
                       dtype="float64", fill_value=0.0, compressor="gzip")
    a[:, :] = np.arange(64, dtype="float64").reshape(8, 8)
    b = g.create_array("y", shape=(10,), chunks=[5], dtype="int64")
    b[:] = np.arange(10)
    s = store_summary(root)
    assert s["zarr_format"] == 3
    x = s["arrays"]["x"]
    assert x["shape"] == [8, 8] and x["chunks"] == [2, 2] and x["shards"] == [4, 4]
    assert x["n_objects"] == 4  # shards, not 16 chunks
    assert x["codecs"] == ["sharding_indexed"]
    assert x["logical_bytes"] == 64 * 8 and x["stored_bytes"] > 0
    y = s["arrays"]["y"]
    assert y["n_objects"] == 2 and "shards" not in y
    assert s["n_objects"] == 6
