"""Chunk-lazy opens (``load=False``): zarr/kerchunk data vars become
LazyArray views; materialization reads ONLY the selected chunk ranges,
and the reference-shuffle rechunk write path uses them so a write task
range-reads exactly its group's piece of each source."""

from __future__ import annotations

import numpy as np
import pytest

from pangeo_forge_recipes_spark import pattern_from_file_sequence, store_to_zarr
from pangeo_forge_recipes_spark.dsio import open_zarr_group, write_npz
from pangeo_forge_recipes_spark.kerchunkio import open_reference_dataset, scan_npz
from pangeo_forge_recipes_spark.ndset import LazyArray, assert_equal

from .data_generation import make_ds, split_ds_into_files


@pytest.fixture(scope="module")
def src_store(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("lazy_src")
    ds = make_ds(nt=12)
    paths = split_ds_into_files(ds, str(tmp), items_per_file=3)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=3, file_type="npz"
    )
    result = store_to_zarr(
        spark, pattern, str(tmp), "src.zarr", target_chunks={"time": 3}
    )
    return result.path, ds


def _counting_chunk_gets(monkeypatch):
    """Patch LocalStore.get to count CHUNK-object reads (keys containing
    '/c/' or '/c' leaf), leaving metadata reads uncounted."""
    from pangeo_forge_recipes_spark import zarrio

    counts = {"chunks": 0}
    orig = zarrio.LocalStore.get

    def counting(self, key):
        if "/c/" in key or key.endswith("/c"):
            counts["chunks"] += 1
        return orig(self, key)

    monkeypatch.setattr(zarrio.LocalStore, "get", counting)
    return counts


def test_lazy_open_reads_no_chunks(src_store, monkeypatch):
    path, _ = src_store
    counts = _counting_chunk_gets(monkeypatch)
    lazy = open_zarr_group(path, load=False)
    for v in lazy.data_vars.values():
        assert isinstance(v.data, LazyArray)
    # coords stay eager (1-D, combine logic inspects their values)
    for v in lazy.coords.values():
        assert isinstance(v.data, np.ndarray)
    # the only chunk reads are the three 1-D coords (eager by design);
    # no DATA chunk (4 time-chunks x 2 vars = 8 of them) was touched
    assert counts["chunks"] == 3, counts


def test_lazy_isel_materializes_only_intersecting_chunks(src_store, monkeypatch):
    path, ds = src_store
    lazy = open_zarr_group(path, load=False)
    eager = open_zarr_group(path, load=True)
    counts = _counting_chunk_gets(monkeypatch)
    # time chunks of 3; [4, 7) intersects chunks 1 and 2 only
    sub = lazy.isel(time=slice(4, 7))
    got = np.asarray(sub.data_vars["foo"].data)
    np.testing.assert_array_equal(
        got, np.asarray(eager.isel(time=slice(4, 7)).data_vars["foo"].data)
    )
    assert counts["chunks"] == 2, counts
    # schema-ish access never reads
    before = counts["chunks"]
    _ = sub.data_vars["bar"].data.shape, sub.data_vars["bar"].data.nbytes
    assert counts["chunks"] == before


def test_lazy_kerchunk_open(spark, tmp_path):
    ds = make_ds(nt=4)
    p = str(tmp_path / "a.npz")
    write_npz(p, ds)
    refs = scan_npz(p)
    lazy = open_reference_dataset(refs, load=False)
    for v in lazy.data_vars.values():
        assert isinstance(v.data, LazyArray)
    assert_equal(
        type(ds)(
            {k: type(v)(v.dims, np.asarray(v.data), v.attrs, v.encoding)
             for k, v in lazy.data_vars.items()},
            lazy.coords,
            lazy.attrs,
        ),
        ds,
        check_attrs=False,
    )


def test_lazy_cf_datetime_decode_applies_at_materialization(src_store):
    path, ds = src_store
    lazy = open_zarr_group(path, load=False)
    eager = open_zarr_group(path, load=True)
    for name, ev in eager.variables.items():
        lv = lazy[name]
        assert lv.data.dtype == ev.data.dtype, name
        np.testing.assert_array_equal(np.asarray(lv.data), np.asarray(ev.data))


def test_reference_mode_rechunk_from_zarr_sources(spark, tmp_path):
    """The reference shuffle's target workload: chunk-lazy zarr sources,
    target chunks straddling source stores (true shuffle), write tasks
    range-reading only their pieces. End state must equal spill mode."""
    ds = make_ds(nt=12)
    tmp = str(tmp_path)
    npz_paths = split_ds_into_files(ds, tmp, items_per_file=3)
    stores = []
    for i, p in enumerate(npz_paths):
        r = store_to_zarr(
            spark,
            pattern_from_file_sequence(
                [p], "time", nitems_per_file=3, file_type="npz"
            ),
            tmp,
            f"src{i}.zarr",
            target_chunks={"time": 3},
        )
        stores.append(r.path)
    pattern = pattern_from_file_sequence(
        stores, "time", nitems_per_file=3, file_type="zarr"
    )
    res = store_to_zarr(
        spark, pattern, tmp, "out_ref.zarr", target_chunks={"time": 4},
        rechunk_shuffle="reference",
    )
    assert res.shuffled  # 4 straddles the 3-step stores
    assert_equal(res.open(), ds, check_attrs=False)
    res_spill = store_to_zarr(
        spark, pattern, tmp, "out_spill.zarr", target_chunks={"time": 4},
        rechunk_shuffle="spill",
    )
    assert_equal(res_spill.open(), res.open(), check_attrs=False)


def test_lazy_array_slicing_composition():
    class FakeReader:
        shape = (10, 6)
        dtype = np.dtype("f8")

        def __init__(self):
            self.calls = []

        def __getitem__(self, region):
            self.calls.append(region)
            full = np.arange(60, dtype="f8").reshape(10, 6)
            return full[region]

    r = FakeReader()
    la = LazyArray(r)
    sub = la[2:8, 1:5][1:3, 0:2]  # composes to rows 3:5, cols 1:3
    assert isinstance(sub, LazyArray)
    assert sub.shape == (2, 2) and r.calls == []
    got = np.asarray(sub)
    assert r.calls == [(slice(3, 5), slice(1, 3))]
    np.testing.assert_array_equal(
        got, np.arange(60, dtype="f8").reshape(10, 6)[3:5, 1:3]
    )
    # non-slice access falls back to materialization
    assert float(la[0, 0]) == 0.0


def test_reference_mode_with_data_touching_preprocess(spark, tmp_path):
    """A preprocessor that touches array DATA (coarsen) forces eager
    opens on the reference-shuffle path — lazy views don't support
    reshape-style data ops, and the guard must kick in on BOTH the
    split and write sides."""
    from pangeo_forge_recipes_spark.dsio import open_zarr_group

    ds = make_ds(nt=8)
    tmp = str(tmp_path)
    npz_paths = split_ds_into_files(ds, tmp, items_per_file=4)
    stores = []
    for i, p in enumerate(npz_paths):
        r = store_to_zarr(
            spark,
            pattern_from_file_sequence(
                [p], "time", nitems_per_file=4, file_type="npz"
            ),
            tmp,
            f"csrc{i}.zarr",
            target_chunks={"time": 4},
        )
        stores.append(r.path)

    def coarsen_lat(index, d):
        return index, d.coarsen({"lat": 3}, how="mean")

    pattern = pattern_from_file_sequence(
        stores, "time", nitems_per_file=4, file_type="zarr"
    )
    res = store_to_zarr(
        spark, pattern, tmp, "out_pp.zarr", target_chunks={"time": 8},
        rechunk_shuffle="reference", preprocess=coarsen_lat,
    )
    assert_equal(res.open(), ds.coarsen({"lat": 3}, how="mean"), check_attrs=False)
