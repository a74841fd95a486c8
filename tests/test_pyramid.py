"""Multiscale pyramid writer: closed-form coarsen values, trim
semantics, multiscales metadata, plan shape (map-only), and the
object-store path."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from pangeo_forge_recipes_spark import pattern_from_file_sequence
from pangeo_forge_recipes_spark.dsio import open_zarr_group, write_npz
from pangeo_forge_recipes_spark.ndset import NDDataset, Variable
from pangeo_forge_recipes_spark.pyramid import (
    coarsen_zarr_level,
    store_to_pyramid,
)

from .local_frames import frames_built_locally


def _grid_ds(nt=4, nlat=8, nlon=12):
    """Closed-form field: foo[t, y, x] = 1000*t + 10*y + x — block means
    are exact .5-free rationals a test can recompute."""
    t = np.arange(nt, dtype="int64")
    lat = np.linspace(0.0, 7.0, nlat)
    lon = np.linspace(0.0, 11.0, nlon)
    foo = (
        1000 * t[:, None, None]
        + 10 * np.arange(nlat)[None, :, None]
        + np.arange(nlon)[None, None, :]
    ).astype("float64")
    return NDDataset(
        {"foo": Variable(("time", "lat", "lon"), foo)},
        {
            "time": Variable(("time",), t),
            "lat": Variable(("lat",), lat),
            "lon": Variable(("lon",), lon),
        },
    )


@pytest.fixture()
def base_store(spark, tmp_path):
    ds = _grid_ds()
    paths = []
    for i in range(2):
        p = str(tmp_path / f"f{i}.npz")
        write_npz(p, ds.isel(time=slice(2 * i, 2 * i + 2)))
        paths.append(p)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    return tmp_path, pattern, ds


def test_pyramid_levels_exact(spark, base_store):
    tmp, pattern, ds = base_store
    # the manifest and each coarsened level's region list
    with frames_built_locally() as made:
        result = store_to_pyramid(
            spark, pattern, str(tmp / "t"), "pyr.zarr", levels=3,
            target_chunks={"time": 2, "lat": 4, "lon": 4},
        )
    assert len(made) == 3
    assert len(result.level_paths) == 3
    # level 0 is the native store
    l0 = result.open(0)
    np.testing.assert_array_equal(l0["foo"].data, ds["foo"].data)
    # level 1: 2x2 block means — closed form: mean of {10y+x} block adds
    # (10*0.5 + 0.5); level 2 adds (10*1.5 + 1.5) over 4x4 blocks
    l1 = result.open(1)
    assert l1.sizes == {"time": 4, "lat": 4, "lon": 6}
    want1 = (
        1000 * np.arange(4)[:, None, None]
        + 10 * (2 * np.arange(4) + 0.5)[None, :, None]
        + (2 * np.arange(6) + 0.5)[None, None, :]
    )
    np.testing.assert_allclose(l1["foo"].data, want1)
    l2 = result.open(2)
    assert l2.sizes == {"time": 4, "lat": 2, "lon": 3}
    want2 = (
        1000 * np.arange(4)[:, None, None]
        + 10 * (4 * np.arange(2) + 1.5)[None, :, None]
        + (4 * np.arange(3) + 1.5)[None, None, :]
    )
    np.testing.assert_allclose(l2["foo"].data, want2)
    # coords coarsen with the same block mean; time copies through
    np.testing.assert_allclose(
        l1["lat"].data, ds["lat"].data.reshape(4, 2).mean(axis=1)
    )
    np.testing.assert_array_equal(l1["time"].data, ds["time"].data)
    # multiscales root metadata
    meta = json.loads((tmp / "t" / "pyr.zarr" / "zarr.json").read_text())
    ms = meta["attributes"]["multiscales"][0]
    assert [d["path"] for d in ms["datasets"]] == ["0", "1", "2"]
    assert ms["kwargs"] == {"factor": 2, "dims": ["lat", "lon"]}


def test_trim_semantics_odd_dims(spark, tmp_path):
    """Odd extents trim (boundary='trim'): 7 lon -> 3, last col dropped."""
    ds = _grid_ds(nt=2, nlat=4, nlon=7)
    p = str(tmp_path / "s.npz")
    write_npz(p, ds)
    pattern = pattern_from_file_sequence([p], "time", nitems_per_file=2,
                                         file_type="npz")
    result = store_to_pyramid(
        spark, pattern, str(tmp_path), "odd.zarr", levels=2,
    )
    l1 = result.open(1)
    assert l1.sizes == {"time": 2, "lat": 2, "lon": 3}
    want = ds["foo"].data[:, : 4, : 6].reshape(2, 2, 2, 3, 2).mean(
        axis=(2, 4)
    )
    np.testing.assert_allclose(l1["foo"].data, want)


def test_level_bottom_out_raises(spark, tmp_path):
    ds = _grid_ds(nt=2, nlat=2, nlon=2)
    p = str(tmp_path / "s.npz")
    write_npz(p, ds)
    pattern = pattern_from_file_sequence([p], "time", nitems_per_file=2,
                                         file_type="npz")
    with pytest.raises(ValueError, match="bottomed out"):
        store_to_pyramid(spark, pattern, str(tmp_path), "b.zarr", levels=3)


def test_coarsen_level_is_map_only_and_region_aligned(spark, tmp_path):
    """The per-level job is pure map work: region rows -> writes, no
    groupBy/join anywhere (asserted by running over a store whose
    chunk grid forces multiple regions and checking the write count)."""
    ds = _grid_ds(nt=4, nlat=8, nlon=12)
    p = str(tmp_path / "s.npz")
    write_npz(p, ds)
    pattern = pattern_from_file_sequence([p], "time", nitems_per_file=4,
                                         file_type="npz")
    from pangeo_forge_recipes_spark import store_to_zarr

    r0 = store_to_zarr(
        spark, pattern, str(tmp_path), "lvl0.zarr",
        target_chunks={"time": 2, "lat": 4, "lon": 6},
    )
    info = coarsen_zarr_level(
        spark, r0.path, str(tmp_path / "lvl1.zarr"), dims=("lat", "lon")
    )
    # dst chunks derive as src/2 -> (2,2,3): grid = 2 * 2 * 2 = 8 regions
    assert info == {"dims": {"time": 4, "lat": 4, "lon": 6}, "n_regions": 8}
    l1 = open_zarr_group(str(tmp_path / "lvl1.zarr"))
    want = ds["foo"].data.reshape(4, 4, 2, 6, 2).mean(axis=(2, 4))
    np.testing.assert_allclose(l1["foo"].data, want)


def test_pyramid_on_s3(spark, tmp_path, request):
    """The whole pyramid on the object store: level 0 through the s3
    zarr pipeline, coarsen tasks reading+writing via ranged client IO."""
    from pangeo_forge_recipes_spark.s3io import configure_spark_s3

    from .fake_s3 import FakeS3

    srv = FakeS3()
    request.addfinalizer(srv.stop)
    configure_spark_s3(spark, **srv.client_kwargs())
    ds = _grid_ds()
    paths = []
    for i in range(2):
        p = str(tmp_path / f"f{i}.npz")
        write_npz(p, ds.isel(time=slice(2 * i, 2 * i + 2)))
        paths.append(p)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="npz"
    )
    result = store_to_pyramid(
        spark, pattern, "s3://pyr/t", "pyr.zarr", levels=2,
    )
    l1 = result.open(1)
    want = ds["foo"].data.reshape(4, 4, 2, 6, 2).mean(axis=(2, 4))
    np.testing.assert_allclose(l1["foo"].data, want)
    keys = {k for (b, k) in srv.objects if b == "pyr"}
    assert "t/pyr.zarr/zarr.json" in keys
    assert any(k.startswith("t/pyr.zarr/1/") for k in keys)


def test_untouched_vars_copy_in_original_dtype(spark, tmp_path):
    """A data var with NO pyramid dim (e.g. a per-time int counter) must
    copy through unchanged — dtype included (r9 self-review fix: the
    float64 mean path used to run unconditionally)."""
    nt = 4
    ds = _grid_ds(nt=nt)
    ds = NDDataset(
        {**ds.data_vars,
         "flag": Variable(("time",), np.arange(nt, dtype="int32"))},
        dict(ds.coords),
    )
    p = str(tmp_path / "s.npz")
    write_npz(p, ds)
    pattern = pattern_from_file_sequence([p], "time", nitems_per_file=nt,
                                         file_type="npz")
    result = store_to_pyramid(spark, pattern, str(tmp_path), "f.zarr",
                              levels=2)
    l1 = result.open(1)
    assert str(l1["flag"].data.dtype) == "int32"
    np.testing.assert_array_equal(l1["flag"].data, np.arange(nt))
    assert str(l1["foo"].data.dtype) == "float64"


def test_non_dim_2d_coords_coarsen(spark, tmp_path):
    """Projected-grid shape: 2-D lat/lon NON-dim coords (dims y/x) must
    coarsen with the same block mean and keep their coordinate
    classification on reopen."""
    ny, nx, nt = 4, 6, 2
    lat2d = (10 * np.arange(ny)[:, None] + np.zeros(nx)[None, :]).astype("float64")
    lon2d = (np.zeros(ny)[:, None] + np.arange(nx)[None, :]).astype("float64")
    foo = np.arange(nt * ny * nx, dtype="float64").reshape(nt, ny, nx)
    ds = NDDataset(
        {"foo": Variable(("time", "y", "x"), foo)},
        {
            "time": Variable(("time",), np.arange(nt, dtype="int64")),
            "lat": Variable(("y", "x"), lat2d),
            "lon": Variable(("y", "x"), lon2d),
        },
    )
    p = str(tmp_path / "s.npz")
    write_npz(p, ds)
    pattern = pattern_from_file_sequence([p], "time", nitems_per_file=nt,
                                         file_type="npz")
    result = store_to_pyramid(
        spark, pattern, str(tmp_path), "proj.zarr", levels=2, dims=("y", "x"),
    )
    l1 = result.open(1)
    assert set(l1.coords) == {"time", "lat", "lon"}
    np.testing.assert_allclose(
        l1["lat"].data, lat2d.reshape(2, 2, 3, 2).mean(axis=(1, 3))
    )
    np.testing.assert_allclose(
        l1["foo"].data, foo.reshape(nt, 2, 2, 3, 2).mean(axis=(2, 4))
    )
