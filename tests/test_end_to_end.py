"""End-to-end golden round-trips on Spark — the engine analog of reference
``tests/test_end_to_end.py:36-134``: synthetic dataset → split into files →
full pipeline → Zarr → assert equal to the in-memory original."""

from __future__ import annotations

import ast
import os

import pytest

from pangeo_forge_recipes_spark import (
    ConcatDim,
    FilePattern,
    MergeDim,
    assert_equal,
    pattern_from_file_sequence,
    store_to_zarr,
    write_combined_reference,
)
from pangeo_forge_recipes_spark.kerchunkio import open_reference_dataset
from pangeo_forge_recipes_spark.dsio import open_zarr_group, write_npz

from .data_generation import make_ds, split_ds_into_files


@pytest.mark.parametrize("target_chunks", [{"time": 1}, {"time": 2}, {"time": 3}])
@pytest.mark.parametrize("items_per_file", [1, 2])
def test_roundtrip_sequential(spark, tmp_path, target_chunks, items_per_file):
    ds = make_ds(nt=10)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=items_per_file)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=items_per_file, file_type="npz"
    )
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "target"), "store.zarr",
        target_chunks=target_chunks,
    )
    assert_equal(result.open(), ds)
    assert result.schema["dims"] == {"time": 10, "lat": 18, "lon": 36}


def test_roundtrip_multivariable_merge(spark, tmp_path):
    """ConcatDim × MergeDim (reference multivariable fixtures,
    conftest.py:98-109): files split by variable AND time."""
    ds = make_ds(nt=6)
    for v in ("foo", "bar"):
        for i in range(3):
            sub = ds.isel(time=slice(2 * i, 2 * i + 2)).drop_vars(
                [dv for dv in ds.data_vars if dv != v]
            )
            write_npz(str(tmp_path / f"{v}_{i}.npz"), sub)

    pattern = FilePattern(
        lambda variable, time: str(tmp_path / f"{variable}_{time}.npz"),
        ConcatDim("time", keys=[0, 1, 2], nitems_per_file=2),
        MergeDim("variable", keys=["foo", "bar"]),
        file_type="npz",
    )
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "target"), "store.zarr",
        target_chunks={"time": 3},
    )
    assert_equal(result.open(), ds)


def test_determine_schema_merge_by_concat(spark, tmp_path, monkeypatch):
    """A 2-D MergeDim × ConcatDim schema reduce: tasks fold the inner
    (concat) level per outer index, the driver merges those partials and
    folds the outer (merge) level. It runs as exactly one job with no
    Exchange, and an empty input raises. The global schema equals a
    serial fold of the same per-level combiners; an uneven concat level
    keeps each position's length."""
    import pandas as pd

    import pangeo_forge_recipes_spark.transforms as T
    from pangeo_forge_recipes_spark import CombineOp, Dimension, Index, Position
    from pangeo_forge_recipes_spark.aggregation import (
        dataset_to_schema,
        schema_from_json,
        schema_to_json,
    )
    from pangeo_forge_recipes_spark.openers import read_schema

    ds = make_ds(nt=6)
    for v in ("foo", "bar"):
        for i in range(3):
            sub = ds.isel(time=slice(2 * i, 2 * i + 2)).drop_vars(
                [dv for dv in ds.data_vars if dv != v]
            )
            write_npz(str(tmp_path / f"{v}_{i}.npz"), sub)
    pattern = FilePattern(
        lambda variable, time: str(tmp_path / f"{variable}_{time}.npz"),
        MergeDim("variable", keys=["foo", "bar"]),
        ConcatDim("time", keys=[0, 1, 2], nitems_per_file=2),
        file_type="npz",
    )
    dims = pattern.combine_dim_keys
    schemas_df = T.read_schemas_df(T.manifest_df(spark, pattern), "npz")
    plans = []
    real_collect = type(schemas_df).collect

    def collect(df):
        rows = real_collect(df)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(type(schemas_df), "collect", collect)
    sc = spark.sparkContext
    group = "determine-schema-job-count"
    sc.setJobGroup(group, "determine_schema 2-D")
    try:
        got = T.determine_schema(schemas_df, dims)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert len(plans) == 1 and "Exchange" not in plans[0], plans
    with pytest.raises(ValueError, match="0 rows"):
        T.determine_schema(schemas_df.limit(0), dims)

    pdf = pd.DataFrame(
        [
            (i.to_json(), schema_to_json(read_schema(u, pattern.file_type)))
            for i, u in pattern.items()
        ],
        columns=["index", "schema"],
    )
    for dim in reversed(dims):
        outer = [
            Index({k: v for k, v in Index.from_json(j).items() if k != dim}).to_json()
            for j in pdf["index"]
        ]
        fn = T._combine_level_fn(dim)
        pdf = pd.concat([fn(g) for _, g in pdf.groupby(pd.Series(outer), sort=True)])
    assert len(pdf) == 1
    assert got == schema_from_json(pdf["schema"].iloc[0])
    assert got["dims"] == {"time": 6, "lat": 18, "lon": 36}
    assert got["chunks"] == {"time": {0: 2, 1: 2, 2: 2}}
    assert set(got["data_vars"]) == {"foo", "bar"}

    # uneven concat level (4/4/2 steps): the level combiner injects each
    # position's own length as its sequence chunk
    time = Dimension("time", CombineOp.CONCAT)
    uneven = pd.DataFrame(
        [
            (Index({time: Position(pos)}).to_json(), schema_to_json(dataset_to_schema(make_ds(nt=nt))))
            for pos, nt in [(0, 4), (1, 4), (2, 2)]
        ],
        columns=["index", "schema"],
    )
    out = schema_from_json(T._combine_level_fn(time)(uneven)["schema"].iloc[0])
    assert out["dims"]["time"] == 10
    assert out["chunks"]["time"] == {0: 4, 1: 4, 2: 2}


def test_roundtrip_inferred_nitems(spark, tmp_path):
    """Files of UNEVEN length with ``nitems_per_file=None``: per-file sizes
    are discovered by the schema pass and offsets come from its prefix sums
    (reference items-per-file-inferred fixtures, conftest.py:286-294)."""
    ds = make_ds(nt=10)
    bounds = [(0, 3), (3, 5), (5, 9), (9, 10)]
    paths = []
    for i, (a, b) in enumerate(bounds):
        p = str(tmp_path / f"u{i}.npz")
        write_npz(p, ds.isel(time=slice(a, b)))
        paths.append(p)
    pattern = pattern_from_file_sequence(paths, "time", file_type="npz")
    assert pattern.nitems_per_input["time"] is None
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "target"), "store.zarr",
        target_chunks={"time": 4},
    )
    assert_equal(result.open(), ds)


def test_roundtrip_two_concat_dims(spark, tmp_path):
    """Two ConcatDims (time × lat): fragments tile a 2-d grid and the
    rechunk shuffle reassembles the hypercube across both axes."""
    ds = make_ds(nt=6)
    for t in range(3):
        for la in range(2):
            sub = ds.isel(time=slice(2 * t, 2 * t + 2), lat=slice(9 * la, 9 * la + 9))
            write_npz(str(tmp_path / f"t{t}_l{la}.npz"), sub)
    pattern = FilePattern(
        lambda time, lat: str(tmp_path / f"t{time}_l{lat}.npz"),
        ConcatDim("time", keys=[0, 1, 2], nitems_per_file=2),
        ConcatDim("lat", keys=[0, 1], nitems_per_file=9),
        file_type="npz",
    )
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "target"), "store.zarr",
        target_chunks={"time": 3, "lat": 9},
    )
    assert_equal(result.open(), ds)
    assert result.schema["dims"] == {"time": 6, "lat": 18, "lon": 36}


def test_roundtrip_coordinateless_dimension(spark, tmp_path):
    """F1b: the lon DIMENSION exists but has no coordinate variable
    (reference conftest.py:285-294, regression for issue #214)."""
    ds = make_ds(nt=4).drop_vars(["lon"])
    assert "lon" not in ds.coords and ds.sizes["lon"] == 36
    paths = []
    for i in range(2):
        p = str(tmp_path / f"f{i}.npz")
        write_npz(p, ds.isel(time=slice(2 * i, 2 * i + 2)))
        paths.append(p)
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=2, file_type="npz")
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "s.zarr", target_chunks={"time": 2}
    )
    out = result.open()
    assert "lon" not in out.coords and out.sizes["lon"] == 36
    assert_equal(out, ds)


@pytest.mark.parametrize("target_chunks", [{"time": 7, "lat": 5}, {"time": 10, "lat": 3}])
def test_roundtrip_multidim_odd_chunks(spark, tmp_path, target_chunks):
    """F3 extended grid: simultaneous rechunk of time AND a non-indexed dim
    with chunk sizes that divide nothing evenly."""
    ds = make_ds(nt=10)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=2, file_type="npz")
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "s.zarr", target_chunks=target_chunks
    )
    assert_equal(result.open(), ds)


def test_rerun_is_idempotent(spark, tmp_path):
    """Task retries re-execute region writes; running the whole pipeline
    twice into the same target must produce byte-identical chunks (the
    invariant Spark task retry / re-run safety rests on; reference
    idempotence contract, storage.py:198-205, aggregation.py:269-279)."""
    import hashlib

    ds = make_ds(nt=6)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=2, file_type="npz")

    def store_digest(root):
        import os

        h = hashlib.sha256()
        for dirpath, _, files in sorted(os.walk(root)):
            for fn in sorted(files):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    h.update(fn.encode())
                    h.update(f.read())
        return h.hexdigest()

    r1 = store_to_zarr(spark, pattern, str(tmp_path / "t"), "s.zarr",
                       target_chunks={"time": 3})
    d1 = store_digest(r1.path)
    r2 = store_to_zarr(spark, pattern, str(tmp_path / "t"), "s.zarr",
                       target_chunks={"time": 3})
    assert store_digest(r2.path) == d1
    assert_equal(r2.open(), ds)


def test_aligned_chunks_skip_shuffle(spark, tmp_path):
    """When no target chunk spans a file boundary, the rechunk shuffle is
    skipped (SURVEY §4 cheap win) — including the file-subdivides case —
    and results stay identical to the shuffled path."""
    ds = make_ds(nt=8)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=4)
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=4, file_type="npz")

    # chunk == file length → each fragment is one chunk → no shuffle
    r1 = store_to_zarr(spark, pattern, str(tmp_path / "t1"), "s.zarr",
                       target_chunks={"time": 4})
    assert r1.shuffled is False
    assert_equal(r1.open(), ds)

    # chunk divides file length → file splits into whole chunks → no shuffle
    r2 = store_to_zarr(spark, pattern, str(tmp_path / "t2"), "s.zarr",
                       target_chunks={"time": 2})
    assert r2.shuffled is False
    assert_equal(r2.open(), ds)

    # chunk spans files → must shuffle
    r3 = store_to_zarr(spark, pattern, str(tmp_path / "t3"), "s.zarr",
                       target_chunks={"time": 3})
    assert r3.shuffled is True
    assert_equal(r3.open(), ds)


def test_preprocess_shapes_schema_and_store(spark, tmp_path):
    """A user preprocessor (drop/rename — reference terraclimate.py shape)
    must be reflected in the inferred schema and the store layout, because
    the reference determines schema AFTER preprocessing."""
    ds = make_ds(nt=4)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=2, file_type="npz")

    def pre(index, frag):
        return index, frag.drop_vars(["bar"]).rename({"foo": "renamed"})

    result = store_to_zarr(
        spark, pattern, str(tmp_path / "target"), "store.zarr",
        target_chunks={"time": 2}, preprocess=pre,
    )
    assert set(result.schema["data_vars"]) == {"renamed"}
    out = result.open()
    assert set(out.data_vars) == {"renamed"}
    assert_equal(
        out,
        ds.drop_vars(["bar"]).rename({"foo": "renamed"}),
    )


def test_expand_dims_preprocessor_builds_concat_dim(spark, tmp_path):
    """Sources whose files LACK the concat dimension (one step per file,
    reference hrrr_kerchunk_concat_step.py shape): the preprocessor
    expand_dims + assign_coords manufactures the dimension from the
    pattern index, and the store concatenates along it."""
    import numpy as np

    from pangeo_forge_recipes_spark.dsio import write_npz
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable, concat

    rng = np.random.RandomState(3)
    steps = []
    paths = []
    for i in range(4):
        step = NDDataset(
            {"t2m": Variable(("lat", "lon"), rng.standard_normal((5, 6)))},
            {"lat": Variable(("lat",), np.arange(5.0)),
             "lon": Variable(("lon",), np.arange(6.0))},
            {},
            {"lat": 5, "lon": 6},
        )
        steps.append(step)
        p = str(tmp_path / f"step{i}.npz")
        write_npz(p, step)
        paths.append(p)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=1, file_type="npz"
    )

    def pre(index, frag):
        d = index.find_concat_dim("time")
        pos = index[d].value
        return index, frag.expand_dims("time").assign_coords(
            time=np.array([pos], dtype="int64")
        )

    # negative axis appends (numpy semantics), labels stay aligned
    neg = steps[0].expand_dims("step", axis=-1)
    assert neg.data_vars["t2m"].dims == ("lat", "lon", "step")
    assert neg.data_vars["t2m"].data.shape == (5, 6, 1)

    result = store_to_zarr(
        spark, pattern, str(tmp_path / "target"), "store.zarr",
        target_chunks={"time": 2}, preprocess=pre,
    )
    assert result.schema["dims"]["time"] == 4
    expect = concat(
        [
            s.expand_dims("time").assign_coords(
                time=np.array([i], dtype="int64")
            )
            for i, s in enumerate(steps)
        ],
        "time",
    )
    assert_equal(result.open(), expect)


def test_coarsen_kernel_and_preprocessor(spark, tmp_path):
    """NDDataset.coarsen: block reductions match numpy, coordinates take
    block-center means, and a coarsening preprocessor flows through
    store_to_zarr's schema inference (spatial downsampling — the common
    pangeo regrid-by-block-mean recipe step)."""
    import numpy as np

    ds = make_ds(nt=4)
    nlat = ds.sizes["lat"]
    assert nlat % 3 == 0 or nlat % 2 == 0
    f = 3 if nlat % 3 == 0 else 2

    c = ds.coarsen(lat=f)
    foo, cfoo = ds.data_vars["foo"].data, c.data_vars["foo"].data
    assert cfoo.shape[1] == foo.shape[1] // f
    np.testing.assert_allclose(
        cfoo, foo.reshape(foo.shape[0], -1, f, foo.shape[2]).mean(axis=2)
    )
    np.testing.assert_allclose(
        c.coords["lat"].data,
        ds.coords["lat"].data.reshape(-1, f).mean(axis=1),
    )
    # sum/min/max reduce data but coords stay block centers
    cmax = ds.coarsen({"lat": f}, how="max")
    np.testing.assert_allclose(
        cmax.data_vars["foo"].data,
        foo.reshape(foo.shape[0], -1, f, foo.shape[2]).max(axis=2),
    )
    np.testing.assert_allclose(cmax.coords["lat"].data, c.coords["lat"].data)
    # exact-boundary + unknown-dim errors
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ds.coarsen(lat=nlat - 1)
    with _pytest.raises(KeyError):
        ds.coarsen(nope=2)

    # as a preprocessor: the inferred schema and store carry the
    # coarsened grid (schema is determined AFTER preprocessing)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )

    def pre(index, frag):
        return index, frag.coarsen(lat=f)

    result = store_to_zarr(
        spark, pattern, str(tmp_path / "target"), "store.zarr",
        target_chunks={"time": 2}, preprocess=pre,
    )
    assert result.schema["dims"]["lat"] == nlat // f
    assert_equal(result.open(), ds.coarsen(lat=f))


def test_roundtrip_non_dim_coords(spark, tmp_path):
    ds = make_ds(nt=4, non_dim_coords=True)
    paths = split_ds_into_files(ds, str(tmp_path))
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=1, file_type="npz")
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "target"), "store.zarr", target_chunks={"time": 2}
    )
    assert_equal(result.open(), ds)


def test_append(spark, tmp_path):
    """Build from pattern 1, then append pattern 2 along time (reference
    tests/test_end_to_end.py:86-134, fixture F1c)."""
    from pangeo_forge_recipes_spark.ndset import concat

    ds0 = make_ds(nt=10, start="2010-01-01")
    ds1 = make_ds(nt=10, start="2010-01-11")
    p0 = split_ds_into_files(ds0, str(tmp_path / "a"), items_per_file=2)
    p1 = split_ds_into_files(ds1, str(tmp_path / "b"), items_per_file=2)

    pat0 = pattern_from_file_sequence(p0, "time", nitems_per_file=2, file_type="npz")
    pat1 = pattern_from_file_sequence(p1, "time", nitems_per_file=2, file_type="npz")

    # consolidated dimension coordinates (single-chunk coords) are
    # incompatible with later appends — same constraint as the reference,
    # where Consolidate* are opt-in post-passes outside StoreToZarr
    store_to_zarr(
        spark, pat0, str(tmp_path / "t"), "s.zarr",
        target_chunks={"time": 2}, consolidate_coords=False,
    )
    result = store_to_zarr(
        spark, pat1, str(tmp_path / "t"), "s.zarr",
        target_chunks={"time": 2}, append_dim="time", consolidate_coords=False,
    )
    expected = concat([ds0, ds1], "time")
    assert_equal(open_zarr_group(result.path), expected, check_attrs=False)


def test_rechunk_existing_zarr_store(spark, tmp_path):
    """Open an existing store as a 1-element pattern and rechunk it
    (reference examples/feedstock/gpcp_rechunk.py:16-40)."""
    ds = make_ds(nt=10)
    paths = split_ds_into_files(ds, str(tmp_path))
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=1, file_type="npz")
    r1 = store_to_zarr(
        spark, pattern, str(tmp_path / "t1"), "s.zarr", target_chunks={"time": 1}
    )
    pat2 = pattern_from_file_sequence([r1.path], "time", file_type="zarr")
    r2 = store_to_zarr(
        spark, pat2, str(tmp_path / "t2"), "s.zarr", target_chunks={"time": 5}
    )
    assert_equal(r2.open(), ds)
    from pangeo_forge_recipes_spark.zarrio import open_group

    assert open_group(r2.path)["foo"].chunks[0] == 5


def test_prune(spark, tmp_path):
    ds = make_ds(nt=10)
    paths = split_ds_into_files(ds, str(tmp_path))
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=1, file_type="npz")
    result = store_to_zarr(
        spark, pattern.prune(2), str(tmp_path / "t"), "s.zarr", target_chunks={"time": 1}
    )
    assert_equal(result.open(), ds.isel(time=slice(0, 2)))


def test_kerchunk_pipeline(spark, tmp_path):
    ds = make_ds(nt=10)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=2, file_type="npz")
    out = write_combined_reference(
        spark, pattern, str(tmp_path / "t"), "ref", output_file_name="reference.json",
        max_refs_per_merge=2,
    )
    assert_equal(open_reference_dataset(out), ds)


def _drop_bar_and_tag(refs: dict) -> dict:
    """Per-reference preprocess: drop variable ``bar``, tag group attrs
    (the reference's ``mzz_kwargs['preprocess']`` use case)."""
    import json

    out = {k: v for k, v in refs.items() if not k.startswith("bar/")}
    group = json.loads(out["zarr.json"])
    group.setdefault("attributes", {})["preprocessed"] = "yes"
    out["zarr.json"] = json.dumps(group)
    return out


def test_kerchunk_preprocess_callback(spark, tmp_path):
    ds = make_ds(nt=6)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=2, file_type="npz")
    out = write_combined_reference(
        spark, pattern, str(tmp_path / "t"), "ref", max_refs_per_merge=2,
        preprocess=_drop_bar_and_tag,
    )
    combined = open_reference_dataset(out)
    assert "bar" not in combined.data_vars
    assert combined.attrs.get("preprocessed") == "yes"
    expected = ds.isel()
    expected.data_vars.pop("bar")
    expected.attrs["preprocessed"] = "yes"
    assert_equal(combined, expected)


def test_dynamic_chunking(spark, tmp_path):
    ds = make_ds(nt=10)
    paths = split_ds_into_files(ds, str(tmp_path))
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=1, file_type="npz")

    def chunk_fn(schema):
        return {"time": max(1, schema["dims"]["time"] // 2)}

    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "s.zarr", dynamic_chunking_fn=chunk_fn
    )
    from pangeo_forge_recipes_spark.zarrio import open_group

    assert open_group(result.path)["foo"].chunks[0] == 5
    assert_equal(result.open(), ds)


def test_pattern_from_glob_natural_order(tmp_path, spark):
    import numpy as np

    from pangeo_forge_recipes_spark import store_to_zarr
    from pangeo_forge_recipes_spark.dsio import write_npz
    from pangeo_forge_recipes_spark.ndset import assert_equal
    from pangeo_forge_recipes_spark.patterns import pattern_from_glob

    from .data_generation import make_ds

    ds = make_ds(nt=12)
    # file names whose lexicographic order differs from numeric order
    for i in range(6):
        write_npz(str(tmp_path / f"f{i * 2}.npz"), ds.isel(time=slice(2 * i, 2 * i + 2)))
    pattern = pattern_from_glob(
        str(tmp_path / "f*.npz"), "time", nitems_per_file=2, file_type="npz"
    )
    urls = [url for _, url in pattern.items()]
    assert [u.rsplit("/", 1)[-1] for u in urls] == [
        "f0.npz", "f2.npz", "f4.npz", "f6.npz", "f8.npz", "f10.npz"
    ]
    result = store_to_zarr(
        spark, pattern, str(tmp_path), "g.zarr", target_chunks={"time": 4}
    )
    assert_equal(result.open(), ds, check_attrs=False)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        pattern_from_glob(str(tmp_path / "none*.npz"), "time")


def _store_files(root) -> dict:
    """Every file under a store, as ``{relative path: bytes}``."""
    import os

    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


@pytest.mark.parametrize("target_chunks", [{"time": 3}, {"time": 4}])
def test_reference_shuffle_equals_spill_shuffle(
    spark, tmp_path, target_chunks, monkeypatch
):
    """Every rechunk mode runs the same pieces → write kernel pipeline,
    so the stores are byte-identical file for file: spill with pieces
    inline and with every piece through scratch, reference (re-reads
    sources on the write side), and the aligned no-shuffle path (files
    cut at the chunk grain). Both shuffled modes run the one rechunk
    exchange (:func:`_assert_one_rechunk_exchange`)."""
    import pangeo_forge_recipes_spark.transforms as T

    ds = make_ds(nt=10)
    paths = split_ds_into_files(ds, str(tmp_path / "src"), items_per_file=2)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    combined = _spy_rechunks(monkeypatch)
    scratch = []  # the scratch objects each spill run left for cleanup
    real_cleanup = T._cleanup_scratch
    monkeypatch.setattr(
        T, "_cleanup_scratch",
        lambda root: scratch.append(os.listdir(root) if os.path.isdir(root) else [])
        or real_cleanup(root),
    )

    def run(name, pat=pattern, mode="spill"):
        return store_to_zarr(
            spark, pat, str(tmp_path / name), "store.zarr",
            target_chunks=target_chunks, rechunk_shuffle=mode,
        )

    results = {
        "spill": run("spill"),
        "reference": run("reference", mode="reference"),
    }
    assert [name for name, _ in combined] == ["rechunk_and_store", "rechunk_refs_and_store"]
    for _, df in combined:
        _assert_one_rechunk_exchange(spark, df)
    with monkeypatch.context() as m:
        m.setattr(T, "SPILL_INLINE_BYTES", 0)
        results["spill_scratch"] = run("spill_scratch", mode="spill")
    # KB-scale frames all ride inline by default; at threshold 0 every
    # source spills to its own scratch object
    assert len(scratch) == 2 and scratch[0] == [] and len(scratch[1]) == len(paths)
    aligned_paths = split_ds_into_files(
        ds, str(tmp_path / "src_aligned"), items_per_file=target_chunks["time"]
    )
    results["aligned"] = run(
        "aligned", pat=pattern_from_file_sequence(aligned_paths, "time", file_type="npz")
    )

    assert not results["aligned"].shuffled
    assert all(r.shuffled for k, r in results.items() if k != "aligned")
    assert_equal(results["spill"].open(), ds)
    expected = _store_files(results["spill"].path)
    for name, r in results.items():
        assert _store_files(r.path) == expected, name
        assert r.n_chunks_written == results["spill"].n_chunks_written, name
        assert r.bytes_written == results["spill"].bytes_written, name


def _spy_rechunks(monkeypatch) -> list:
    """``(name, statuses DataFrame)`` of every rechunk front called from
    here on."""
    import pangeo_forge_recipes_spark.transforms as T

    combined = []
    for name in ("rechunk_and_store", "rechunk_refs_and_store"):
        real = getattr(T, name)
        monkeypatch.setattr(
            T, name,
            lambda *a, name=name, real=real, **k: combined.append((name, real(*a, **k)))
            or combined[-1][1],
        )
    return combined


def _assert_one_rechunk_exchange(spark, statuses):
    """The rechunk's plan shape: one ``Exchange`` that places each row by
    the chunk part of ``group_key`` into the explicit
    ``spark.sql.shuffle.partitions`` (a count AQE keeps), then a sort and
    one ``MapInArrow``; no range exchange and no grouped kernel."""
    plan = statuses._jdf.queryExecution().executedPlan().toString()
    nparts = spark.conf.get("spark.sql.shuffle.partitions")
    assert plan.count("Exchange") == 1, plan
    assert "Exchange shufflepartitionidpassthrough(" in plan, plan
    assert "substring_index(group_key" in plan, plan
    assert f"), {nparts}), REPARTITION_BY_NUM" in plan, plan
    assert "MapInArrow combine_write" in plan, plan
    for absent in ("rangepartitioning", "RangePartitioning", "FlatMapGroupsIn"):
        assert absent not in plan, plan


def _bake_jobs(spark, bake):
    """Run ``bake()`` under its own job group; return its job count and
    the ``SparkStageInfo`` of every stage that ran a task, in stage id
    order (AQE's later jobs list the stages they skip, which run none)."""
    import uuid

    sc = spark.sparkContext
    group = f"bake-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        bake()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
    stages = [tracker.getStageInfo(s) for s in stage_ids]
    return len(jobs), [s for s in stages if s and s.numCompletedTasks]


def _placement(statuses) -> dict:
    """Re-run a rechunk's statuses and map each target chunk, as a tuple
    of ``(dim, index)``, to the partitions its groups ran in."""
    import json

    from pyspark.sql import functions as F

    placed = {}
    for r in statuses.select("group_key", F.spark_partition_id().alias("p")).collect():
        chunk = tuple(tuple(d) for d in json.loads(r["group_key"].split("|")[0]))
        placed.setdefault(chunk, set()).add(r["p"])
    return placed


def test_rechunk_runs_one_exchange_at_session_width(spark, tmp_path, monkeypatch):
    """The rechunk exchange partitions into an explicit count, so AQE
    cannot coalesce it: a spill bake with every frame in scratch
    (KB-scale rows that are costly to combine) runs its combine-write
    stage with ``spark.sql.shuffle.partitions`` tasks (AQE coalesces a
    ``groupBy`` exchange of such rows to 1). A reference bake runs 4
    jobs — the schema partials, the split's shuffle map stage, the
    combine-write stage and the status count — and none samples range
    bounds."""
    import pangeo_forge_recipes_spark.transforms as T

    ds = make_ds(nt=40)
    paths = split_ds_into_files(ds, str(tmp_path / "src"), items_per_file=2)
    pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=2, file_type="npz")
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    combined = _spy_rechunks(monkeypatch)

    def bake(name, mode, **kwargs):
        return lambda: store_to_zarr(
            spark, pattern, str(tmp_path / name), "s.zarr",
            target_chunks={"time": 3}, rechunk_shuffle=mode, **kwargs,
        )

    with monkeypatch.context() as m:
        m.setattr(T, "SPILL_INLINE_BYTES", 0)
        _, stages = _bake_jobs(spark, bake("spill", "spill"))
    # schema partials, split, combine-write, status count
    assert [s.numTasks for s in stages][2:] == [nparts, 1], [
        (s.stageId, s.numTasks) for s in stages
    ]
    assert stages[2].numCompletedTasks == nparts
    n_jobs, _ = _bake_jobs(spark, bake("reference", "reference", consolidate_coords=False))
    assert n_jobs == 4
    for _, df in combined:
        _assert_one_rechunk_exchange(spark, df)
    # the reference run writes 14 chunks in equal contiguous runs, every
    # variable of a chunk with it (re-running its statuses rewrites the
    # same bytes: its coordinates were left unconsolidated)
    placed = _placement(combined[-1][1])
    assert sorted(placed) == [(("time", t),) for t in range(14)]
    assert all(parts == {t * nparts // 14} for ((_, t),), parts in placed.items()), placed
    for name in ("spill", "reference"):
        assert_equal(open_zarr_group(str(tmp_path / name / "s.zarr")), ds)


def test_rechunk_placement_balances_grids_and_keeps_file_runs(spark, tmp_path, monkeypatch):
    """Where each mode places its target chunks on 4 partitions. Spill
    rows carry their bytes, so spill deals the row-major chunk numbers
    out one by one: a 2x2 (lat, time) grid fills every partition once,
    and the 4 chunks an append adds to a 10-chunk store land on 4
    partitions. Reference rows re-open their sources, so reference splits
    the chunks it writes into equal contiguous runs: the 3 or 4 three-step
    chunks each 8-step file spans run in at most 2 tasks (dealt out one
    by one, they would open the file in 3 or 4),
    the 2x2 grid again fills every partition once, and the appended
    chunks, numbered from the first one written, fill all 4."""
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert nparts == 4
    combined = _spy_rechunks(monkeypatch)

    def bake(name, ds, per, target, mode, **kwargs):
        src = str(tmp_path / name / "src")
        paths = split_ds_into_files(ds, src, items_per_file=per)
        pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=per, file_type="npz")
        store_to_zarr(
            spark, pattern, str(tmp_path / name), "s.zarr", target_chunks=target,
            rechunk_shuffle=mode, consolidate_coords=False, **kwargs,
        )
        return _placement(combined[-1][1])

    ds = make_ds(nt=32)
    runs = bake("runs", ds, 8, {"time": 3}, "reference")
    assert sorted(runs) == [(("time", t),) for t in range(11)]
    assert all(parts == {t * 4 // 11} for ((_, t),), parts in runs.items()), runs
    for f in range(4):  # the 3-4 chunks a file spans run in at most 2 tasks
        spanned = range(f * 8 // 3, (f * 8 + 7) // 3 + 1)
        assert len(set().union(*(runs[(("time", t),)] for t in spanned))) <= 2, (f, runs)
    assert_equal(open_zarr_group(str(tmp_path / "runs" / "s.zarr")), ds)
    ds = make_ds(nt=10)
    for mode in ("spill", "reference"):
        grid = bake(f"grid-{mode}", ds, 2, {"time": 5, "lat": 9}, mode)
        assert len(grid) == 4 and sorted(p for ps in grid.values() for p in ps) == [0, 1, 2, 3]
        assert_equal(open_zarr_group(str(tmp_path / f"grid-{mode}" / "s.zarr")), ds)
    whole = make_ds(nt=28)
    for mode in ("spill", "reference"):
        name = f"append-{mode}"
        bake(name, whole.isel(time=slice(0, 20)), 1, {"time": 2}, mode)
        src = str(tmp_path / name / "more")
        paths = split_ds_into_files(whole.isel(time=slice(20, 28)), src, items_per_file=1)
        pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=1, file_type="npz")
        store_to_zarr(
            spark, pattern, str(tmp_path / name), "s.zarr", target_chunks={"time": 2},
            rechunk_shuffle=mode, consolidate_coords=False, append_dim="time",
        )
        added = _placement(combined[-1][1])
        assert sorted(added) == [(("time", t),) for t in range(10, 14)], added
        assert sorted(p for ps in added.values() for p in ps) == [0, 1, 2, 3], (mode, added)
        assert_equal(open_zarr_group(str(tmp_path / name / "s.zarr")), whole)


def test_reference_shuffle_with_preprocess_and_shards(spark, tmp_path):
    """The reference shuffle re-applies the user preprocessor on the
    write side; shard-grain grouping composes with it."""
    ds = make_ds(nt=12)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=3)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=3, file_type="npz"
    )

    def pre(index, frag):
        frag.attrs["marked"] = "yes"
        return index, frag

    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "store.zarr",
        target_chunks={"time": 2}, target_shards={"time": 4},
        preprocess=pre, rechunk_shuffle="reference",
    )
    out = result.open()
    assert out.attrs.get("marked") == "yes"
    ds.attrs["marked"] = "yes"
    assert_equal(out, ds)


def test_auto_rechunk_shuffle_dispatch():
    """Default (rechunk_shuffle=None) auto-picks: reference for
    chunk-lazy formats with no preprocessor, spill otherwise."""
    from pangeo_forge_recipes_spark.patterns import FileType
    from pangeo_forge_recipes_spark.transforms import _auto_rechunk_shuffle

    for ft in (FileType.npz, FileType.zarr, FileType.kerchunk):
        assert _auto_rechunk_shuffle(ft, None) == "reference"
        assert _auto_rechunk_shuffle(ft, lambda i, d: (i, d)) == "spill"
    for ft in (FileType.netcdf3, FileType.netcdf4, FileType.grib):
        assert _auto_rechunk_shuffle(ft, None) == "spill"


def test_auto_default_takes_reference_path_for_npz(spark, tmp_path, monkeypatch):
    """An npz recipe with the default mode runs the REFERENCE pipeline
    (open_split_refs_df observed; the eager splitter never called) and
    still round-trips exactly."""
    import pangeo_forge_recipes_spark.transforms as T

    calls = []
    real_refs, real_split = T.open_split_refs_df, T.open_split_fragments_df
    monkeypatch.setattr(
        T, "open_split_refs_df",
        lambda *a, **k: calls.append("refs") or real_refs(*a, **k),
    )
    monkeypatch.setattr(
        T, "open_split_fragments_df",
        lambda *a, **k: calls.append("spill") or real_split(*a, **k),
    )
    ds = make_ds(nt=6)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "s.zarr",
        target_chunks={"time": 3},
    )
    assert result.shuffled and calls == ["refs"]
    assert_equal(result.open(), ds)


def test_auto_default_takes_spill_path_for_netcdf3(spark, tmp_path, monkeypatch):
    """An EAGER format (netcdf3) with the default mode takes the spill
    shuffle, with scratch next to the store, and round-trips exactly."""
    import pangeo_forge_recipes_spark.transforms as T
    from pangeo_forge_recipes_spark.netcdf3 import write_netcdf3

    calls = []
    real_refs, real_split = T.open_split_refs_df, T.open_split_fragments_df
    monkeypatch.setattr(
        T, "open_split_refs_df",
        lambda *a, **k: calls.append("refs") or real_refs(*a, **k),
    )
    monkeypatch.setattr(
        T, "open_split_fragments_df",
        lambda *a, **k: calls.append(k["scratch_root"]) or real_split(*a, **k),
    )
    ds = make_ds(nt=6)
    paths = []
    for i in range(3):
        p = str(tmp_path / f"n{i}.nc")
        write_netcdf3(p, ds.isel(time=slice(2 * i, 2 * i + 2)))
        paths.append(p)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="netcdf3"
    )
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "s.zarr",
        target_chunks={"time": 3},
    )
    assert result.shuffled and calls == [result.path + ".spill"]
    assert_equal(result.open(), ds, check_attrs=False)


def test_reference_shuffle_rejects_unknown_mode(spark, tmp_path):
    ds = make_ds(nt=4)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    # "payload" (every frame inline) was merged into "spill"
    for mode in ("bogus", "payload"):
        with pytest.raises(ValueError, match="rechunk_shuffle"):
            store_to_zarr(
                spark, pattern, str(tmp_path / "t"), "s.zarr",
                target_chunks={"time": 2}, rechunk_shuffle=mode,
            )


def test_kerchunk_two_concat_dims(spark, tmp_path):
    """Two-concat-dim kerchunk combine (the reference's HRRR step×time
    family, examples/feedstock/hrrr_kerchunk_concat_step.py:43-57): the
    ordered reduce NESTS — per outer (time) slice, files combine along
    the inner (lat) dim; the per-slice virtual stores then combine along
    time. Full element equality against the source hypercube."""
    ds = make_ds(nt=6)
    for t in range(3):
        for la in range(2):
            sub = ds.isel(time=slice(2 * t, 2 * t + 2), lat=slice(9 * la, 9 * la + 9))
            write_npz(str(tmp_path / f"t{t}_l{la}.npz"), sub)
    pattern = FilePattern(
        lambda time, lat: str(tmp_path / f"t{time}_l{lat}.npz"),
        ConcatDim("time", keys=[0, 1, 2], nitems_per_file=2),
        ConcatDim("lat", keys=[0, 1], nitems_per_file=9),
        file_type="npz",
    )
    out = write_combined_reference(
        spark, pattern, str(tmp_path / "t"), "ref2d",
        concat_dims=["time", "lat"],
    )
    assert_equal(open_reference_dataset(out), ds)


def test_kerchunk_two_concat_dims_preprocess(spark, tmp_path):
    """preprocess applies once per LEAF ref set in the nested reduce (the
    inner pass), never to merged partials."""
    ds = make_ds(nt=4)
    for t in range(2):
        for la in range(2):
            sub = ds.isel(time=slice(2 * t, 2 * t + 2), lat=slice(9 * la, 9 * la + 9))
            write_npz(str(tmp_path / f"t{t}_l{la}.npz"), sub)
    pattern = FilePattern(
        lambda time, lat: str(tmp_path / f"t{time}_l{lat}.npz"),
        ConcatDim("time", keys=[0, 1], nitems_per_file=2),
        ConcatDim("lat", keys=[0, 1], nitems_per_file=9),
        file_type="npz",
    )
    out = write_combined_reference(
        spark, pattern, str(tmp_path / "t"), "ref2dp",
        concat_dims=["time", "lat"], preprocess=_drop_bar_and_tag,
    )
    combined = open_reference_dataset(out)
    assert "bar" not in combined.data_vars
    assert combined.attrs.get("preprocessed") == "yes"
    expected = ds.isel()
    expected.data_vars.pop("bar")
    expected.attrs["preprocessed"] = "yes"
    assert_equal(combined, expected)


def test_kerchunk_three_concat_dims(spark, tmp_path):
    """3-D kerchunk combine: the ordered reduce merges innermost dim
    first, outermost last. Full element equality against the source
    hypercube, and reference.json bytes equal to a serial nested
    combine."""
    from pangeo_forge_recipes_spark.kerchunkio import (
        combine_references,
        scan_npz,
        write_reference_json,
    )

    ds = make_ds(nt=4)
    for t in range(2):
        for la in range(2):
            for lo in range(2):
                sub = ds.isel(
                    time=slice(2 * t, 2 * t + 2),
                    lat=slice(9 * la, 9 * la + 9),
                    lon=slice(18 * lo, 18 * lo + 18),
                )
                write_npz(str(tmp_path / f"t{t}_l{la}_o{lo}.npz"), sub)
    pattern = FilePattern(
        lambda time, lat, lon: str(tmp_path / f"t{time}_l{lat}_o{lon}.npz"),
        ConcatDim("time", keys=[0, 1], nitems_per_file=2),
        ConcatDim("lat", keys=[0, 1], nitems_per_file=9),
        ConcatDim("lon", keys=[0, 1], nitems_per_file=18),
        file_type="npz",
    )
    out = write_combined_reference(
        spark, pattern, str(tmp_path / "t"), "ref3d",
        concat_dims=["time", "lat", "lon"],
    )
    assert_equal(open_reference_dataset(out), ds)

    # byte for byte the serial nested combine, innermost dim first
    def leaf(t, la, lo):
        return scan_npz(str(tmp_path / f"t{t}_l{la}_o{lo}.npz"))

    serial = combine_references(
        [
            combine_references(
                [combine_references([leaf(t, la, lo) for lo in range(2)], ["lon"])
                 for la in range(2)],
                ["lat"],
            )
            for t in range(2)
        ],
        ["time"],
    )
    expected = write_reference_json(serial, str(tmp_path / "serial.json"))
    with open(out, "rb") as got, open(expected, "rb") as want:
        assert got.read() == want.read()


def test_kerchunk_multi_dim_single_axis_kernel_still_raises(tmp_path):
    """The single-axis kernel itself still refuses multi-dim input —
    multi-dim nesting lives in transforms.combine_references_df."""
    from pangeo_forge_recipes_spark.kerchunkio import combine_references

    with pytest.raises(NotImplementedError, match="one concat dim"):
        combine_references([{}, {}], ["a", "b"])


def test_spill_shuffle_scratch_path(spark, tmp_path, monkeypatch):
    """Force every piece through scratch (inline threshold 0): NDS1
    frames land in one scratch object per source, the exchange carries
    metadata only, the store round-trips exactly, and scratch is
    removed after the run."""
    import pangeo_forge_recipes_spark.transforms as T

    monkeypatch.setattr(T, "SPILL_INLINE_BYTES", 0)
    seen = {}
    real = T.rechunk_and_store

    def spy(df_spill, store_path):
        # materialize the split rows once to inspect what the shuffle
        # would carry (metadata rows; payload column empty)
        rows = df_spill.collect()
        seen["rows"] = rows
        import pyspark.sql.functions as F

        return real(
            df_spill.sparkSession.createDataFrame(rows, df_spill.schema),
            store_path,
        )

    monkeypatch.setattr(T, "rechunk_and_store", spy)
    ds = make_ds(nt=6)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "sp.zarr",
        target_chunks={"time": 3}, rechunk_shuffle="spill",
    )
    assert result.shuffled
    assert_equal(result.open(), ds)
    rows = seen["rows"]
    assert rows and all(r["payload"] == b"" for r in rows)
    assert all(r["url"].endswith(".raw") and r["length"] > 0 for r in rows)
    # one scratch object per source file
    assert len({r["url"] for r in rows}) == len(paths)
    # scratch cleaned up after the driver collected statuses
    assert not (tmp_path / "t" / "sp.zarr.spill").exists()


def test_spill_shuffle_inline_small_pieces(spark, tmp_path):
    """At the default 1 MiB threshold, KB-scale pieces ride the shuffle
    inline — no scratch objects are ever written for a small dataset."""
    import pangeo_forge_recipes_spark.transforms as T

    ds = make_ds(nt=6)
    paths = split_ds_into_files(ds, str(tmp_path), items_per_file=2)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    spill_df = T.open_split_fragments_df(
        T.index_items(
            T.manifest_df(spark, pattern),
            sch := T.determine_schema(
                T.read_schemas_df(T.manifest_df(spark, pattern), "npz"),
                pattern.combine_dim_keys,
            ),
        ),
        "npz",
        target_chunks={"time": 3},
        schema=sch,
        scratch_root=str(tmp_path / "scratch"),
    )
    rows = spill_df.collect()
    assert rows and all(r["url"] == "" and len(r["payload"]) > 0 for r in rows)
    assert not (tmp_path / "scratch").exists()  # nothing was spilled


def test_split_batches_flush_before_int32_offsets(tmp_path, monkeypatch):
    """The split's binary column has int32 offsets: a batch is flushed
    before its inline bytes would pass the limit, the rows stay the same
    and in the same order, and a single inline frame over the limit
    raises naming its group key. Frames that go through scratch travel
    as ``(url, offset, length)`` and do not count against the limit."""
    import pyarrow as pa

    import pangeo_forge_recipes_spark.transforms as T
    from pangeo_forge_recipes_spark import CombineOp, Dimension, Index, IndexedPosition

    ds = make_ds(nt=4)
    (path,) = split_ds_into_files(ds, str(tmp_path), items_per_file=4)
    idx_json = Index(
        {Dimension("time", CombineOp.CONCAT): IndexedPosition(0, dimsize=4)}
    ).to_json()
    scratch = str(tmp_path / "scratch" / "spill-0.raw")

    def batches(scratch_url=None, inline_bytes=0):
        pieces = T._pieces(idx_json, path, "npz", {"time": 1}, None, None, None)
        return list(T._frame_batches(pieces, scratch_url, inline_bytes))

    def inline_bytes(b):
        return sum(map(len, b.column("payload").to_pylist()))

    whole = batches()
    assert len(whole) == 1
    keys = whole[0].column("group_key").to_pylist()
    frames = whole[0].column("payload").to_pylist()
    limit = 2 * max(len(f) for f in frames)  # ~11 KB
    monkeypatch.setattr(T, "_SPLIT_BATCH_BYTES", limit)
    flushed = batches()
    assert len(flushed) > 2
    assert all(inline_bytes(b) <= limit for b in flushed)
    assert pa.Table.from_batches(flushed).equals(pa.Table.from_batches(whole))

    # with scratch: data-variable frames spill, coordinate frames stay inline
    coord_max = max(len(f) for k, f in zip(keys, frames) if "|c:" in k)
    monkeypatch.setattr(T, "_SPLIT_BATCH_BYTES", 2**31 - 1)
    unflushed = batches(scratch, coord_max)
    assert len(unflushed) == 1
    limit = 2 * coord_max
    monkeypatch.setattr(T, "_SPLIT_BATCH_BYTES", limit)
    spilled = batches(scratch, coord_max)
    assert len(spilled) > 2
    assert all(inline_bytes(b) <= limit for b in spilled)
    assert any(sum(n for n in b.column("length").to_pylist() if n > 0) > limit for b in spilled)
    table = pa.Table.from_batches(spilled)
    assert table.equals(pa.Table.from_batches(unflushed))
    with open(scratch, "rb") as f:
        raw = f.read()
    for row, frame in zip(table.to_pylist(), frames):
        if row["url"]:
            assert row["url"] == scratch and row["payload"] == b""
            assert raw[row["offset"]:row["offset"] + row["length"]] == frame
        else:
            assert row["payload"] == frame and len(frame) <= coord_max
    assert sum(1 for row in table.to_pylist() if row["url"]) == sum("|d:" in k for k in keys)

    monkeypatch.setattr(T, "_SPLIT_BATCH_BYTES", max(len(f) for f in frames) - 1)
    for scratch_url in (None, scratch):
        with pytest.raises(ValueError, match=r"\|d:bar' frames to \d+ bytes"):
            batches(scratch_url, 2**31)


TRANSFORMS = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "pangeo_forge_recipes_spark", "transforms.py"
)
# shuffling DataFrame calls -> the top-level functions of transforms.py
# allowed to make them
SHUFFLE_OWNERS = {
    "groupBy": set(),
    "repartitionByRange": set(),
    "repartitionById": {"_combine_write"},
    "repartition": {"open_urls_with_fsspec"},
}


def test_transforms_shuffles_only_in_the_rechunk():
    """The README's "one data shuffle": transforms.py calls neither
    groupBy nor repartitionByRange; the one rechunk exchange
    (repartitionById in _combine_write) and open_urls_with_fsspec's
    concurrency cap (repartition) are its only other shuffles."""
    with open(TRANSFORMS) as f:
        tree = ast.parse(f.read(), TRANSFORMS)
    offenders = []
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in SHUFFLE_OWNERS
                and owner not in SHUFFLE_OWNERS[node.func.attr]
            ):
                offenders.append(f"{owner}:{node.lineno} {node.func.attr}")
    assert not offenders, f"shuffles outside the rechunk: {offenders}"
