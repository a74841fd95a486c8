"""Pure-kernel unit tests (no Spark): types, chunk grid, schema combine,
split/combine — cases ported from the reference's unit suites
(``tests/test_chunk_grid.py``, ``tests/test_aggregation.py``,
``tests/test_rechunking.py``) as the behavioral spec."""

from __future__ import annotations

import numpy as np
import pytest

from pangeo_forge_recipes_spark.aggregation import (
    combine_xarray_schemas,
    dataset_to_schema,
    determine_target_chunks,
    schema_from_json,
    schema_to_json,
)
from pangeo_forge_recipes_spark.chunk_grid import ChunkAxis, ChunkGrid
from pangeo_forge_recipes_spark.ndset import assert_equal
from pangeo_forge_recipes_spark.rechunking import combine_fragments, split_fragment
from pangeo_forge_recipes_spark.types import (
    CombineOp,
    Dimension,
    Index,
    IndexedPosition,
    Position,
    augment_index_with_start_stop,
)
from pangeo_forge_recipes_spark.utils import calc_subsets

from .data_generation import make_ds


# ---------------------------------------------------------------- types


def test_index_json_roundtrip():
    idx = Index(
        {
            Dimension("time", CombineOp.CONCAT): IndexedPosition(4, dimsize=10),
            Dimension("variable", CombineOp.MERGE): Position(1),
        }
    )
    idx2 = Index.from_json(idx.to_json())
    assert idx2 == idx
    assert idx2.to_json() == idx.to_json()
    assert idx2[Dimension("time", CombineOp.CONCAT)].indexed
    assert idx2[Dimension("time", CombineOp.CONCAT)].dimsize == 10
    assert not idx2[Dimension("variable", CombineOp.MERGE)].indexed


def test_augment_index():
    pos = augment_index_with_start_stop(Position(2), [2, 2, 2, 2], 0)
    assert pos == IndexedPosition(4, dimsize=8)
    pos = augment_index_with_start_stop(Position(1), [3, 2], 5)
    assert pos == IndexedPosition(8, dimsize=10)
    with pytest.raises(ValueError):
        augment_index_with_start_stop(IndexedPosition(0, dimsize=2), [1])


def test_calc_subsets():
    assert calc_subsets(5, 2) == [2, 3]
    assert calc_subsets(6, 3) == [2, 2, 2]
    with pytest.raises(ValueError):
        calc_subsets(2, 3)


# ---------------------------------------------------------------- chunk grid
# cases from reference tests/test_chunk_grid.py:6-151


def test_chunk_axis():
    ca = ChunkAxis(chunks=(2, 3, 4))
    assert len(ca) == 9
    assert ca.nchunks == 3
    with pytest.raises(IndexError):
        ca.chunk_index_to_array_slice(3)
    assert ca.chunk_index_to_array_slice(0) == slice(0, 2)
    assert ca.chunk_index_to_array_slice(1) == slice(2, 5)
    assert ca.chunk_index_to_array_slice(2) == slice(5, 9)
    with pytest.raises(IndexError):
        ca.array_index_to_chunk_index(9)
    assert ca.array_index_to_chunk_index(0) == 0
    assert ca.array_index_to_chunk_index(1) == 0
    assert ca.array_index_to_chunk_index(2) == 1
    assert ca.array_index_to_chunk_index(4) == 1
    assert ca.array_index_to_chunk_index(5) == 2
    assert ca.array_index_to_chunk_index(8) == 2
    assert ca.array_slice_to_chunk_slice(slice(0, 9)) == slice(0, 3)
    assert ca.array_slice_to_chunk_slice(slice(0, 2)) == slice(0, 1)
    assert ca.array_slice_to_chunk_slice(slice(1, 3)) == slice(0, 2)
    assert ca.array_slice_to_chunk_slice(slice(5, 9)) == slice(2, 3)
    for bad in (slice(0, 10), slice(-1, 4), slice(4, 4)):
        with pytest.raises(IndexError):
            ca.array_slice_to_chunk_slice(bad)


def test_chunk_axis_subset_consolidate():
    ca = ChunkAxis(chunks=(4, 4, 4))
    assert ca.subset(2).chunks == (2, 2, 2, 2, 2, 2)
    assert ca.consolidate(2).chunks == (8, 4)
    assert ca.consolidate(3).chunks == (12,)


def test_chunk_grid_uniform():
    grid = ChunkGrid.from_uniform_grid({"time": (2, 10), "lat": (5, 18)})
    assert grid.shape == {"time": 10, "lat": 18}
    assert grid.nchunks == {"time": 5, "lat": 4}
    assert grid.axes["lat"].chunks == (5, 5, 5, 3)
    assert grid.chunk_index_to_array_slice({"time": 1}) == {"time": slice(2, 4)}
    assert grid.array_slice_to_chunk_slice({"lat": slice(0, 18)}) == {"lat": slice(0, 4)}
    assert grid == ChunkGrid({"time": (2,) * 5, "lat": (5, 5, 5, 3)})


def test_chunk_grid_oversize_warns():
    with pytest.warns(UserWarning):
        grid = ChunkGrid.from_uniform_grid({"t": (100, 10)})
    assert grid.axes["t"].chunks == (10,)


def test_chunk_conflicts():
    a = ChunkAxis((5, 5))
    b = ChunkAxis((4, 4, 2))
    # writing a's chunk 0 spans b chunks 0-1; b chunk 1 is shared with a's chunk 1
    assert a.chunk_conflicts(0, b) == {1}
    assert a.chunk_conflicts(1, b) == {1}
    aligned = ChunkAxis((5, 5))
    assert a.chunk_conflicts(0, aligned) == set()


# ---------------------------------------------------------------- schema


def test_dataset_to_schema_and_json():
    ds = make_ds(nt=3)
    schema = dataset_to_schema(ds)
    assert schema["dims"] == {"time": 3, "lat": 18, "lon": 36}
    assert schema["data_vars"]["foo"]["dtype"] == "float64"
    assert schema["data_vars"]["bar"]["dtype"] == "int64"
    assert schema["coords"]["time"]["dtype"] == "datetime64[ns]"
    assert schema["chunks"] == {}
    rt = schema_from_json(schema_to_json(schema))
    assert rt == schema


def test_combine_schemas_concat():
    ds1, ds2 = make_ds(nt=4), make_ds(nt=6, start="2010-01-05")
    s1, s2 = dataset_to_schema(ds1), dataset_to_schema(ds2)
    s1["chunks"]["time"] = {0: 4}
    s2["chunks"]["time"] = {1: 6}
    out = combine_xarray_schemas(s1, s2, concat_dim="time")
    assert out["dims"] == {"time": 10, "lat": 18, "lon": 36}
    assert out["chunks"]["time"] == {0: 4, 1: 6}
    assert out["data_vars"]["foo"]["shape"] == [10, 18, 36]


def test_combine_schemas_errors():
    ds = make_ds(nt=4)
    s = dataset_to_schema(ds)
    with pytest.raises(ValueError, match="same variable"):
        combine_xarray_schemas(s, dataset_to_schema(ds), concat_dim=None)
    bad = dataset_to_schema(make_ds(nt=4))
    bad["dims"]["lat"] = 17
    bad["data_vars"]["foo"]["shape"] = [4, 17, 36]
    bad["coords"]["lat"]["shape"] = [17]
    with pytest.raises(ValueError):
        combine_xarray_schemas(s, bad, concat_dim="time")


def test_combiner_accumulator_protocol():
    """The per-level schema combiner of ``determine_schema`` as an
    accumulator: two partial groups (positions {0} and {1, 2}) fold
    separately, then merge; the uneven 4/4/2 concat keeps each position's
    length (reference ``combiners.py:15-66``). Pure pandas, no session."""
    import pandas as pd

    from pangeo_forge_recipes_spark.transforms import _combine_level_fn

    dim = Dimension("time", CombineOp.CONCAT)
    fn = _combine_level_fn(dim)
    items = []
    for pos, nt in [(0, 4), (1, 4), (2, 2)]:
        ds = make_ds(nt=nt)
        index_json = Index({dim: Position(pos)}).to_json()
        items.append((index_json, schema_to_json(dataset_to_schema(ds))))

    def fold(group):
        out = fn(pd.DataFrame(group, columns=["index", "schema"]))
        assert len(out) == 1
        assert Index.from_json(out["index"][0]) == Index()
        return schema_from_json(out["schema"][0])

    acc1 = fold(items[:1])
    acc2 = fold(items[1:])
    assert acc1["chunks"]["time"] == {0: 4}
    assert acc2["chunks"]["time"] == {1: 4, 2: 2}
    out = combine_xarray_schemas(acc1, acc2, concat_dim="time")
    assert out["dims"]["time"] == 10
    assert out["chunks"]["time"] == {0: 4, 1: 4, 2: 2}
    # a single group in shuffled order folds to the same schema
    assert fold([items[2], items[0], items[1]]) == out


def test_determine_target_chunks():
    ds = make_ds(nt=10)
    schema = dataset_to_schema(ds)
    schema["chunks"]["time"] = {0: 5, 1: 5}
    assert determine_target_chunks(schema) == {"time": 5, "lat": 18, "lon": 36}
    assert determine_target_chunks(schema, {"time": 2}) == {
        "time": 2, "lat": 18, "lon": 36,
    }
    assert determine_target_chunks(schema, {"lat": 9}, include_all_dims=False) == {
        "time": 5, "lat": 9,
    }


# ---------------------------------------------------------------- rechunk
# cases modeled on reference tests/test_rechunking.py:32-272


def _indexed_fragment(ds, start, dimsize):
    dim = Dimension("time", CombineOp.CONCAT)
    return Index({dim: IndexedPosition(start, dimsize=dimsize)}), ds


def test_split_fragment_basic():
    ds = make_ds(nt=2)
    index, _ = _indexed_fragment(ds, 4, 10)
    out = list(split_fragment((index, ds), target_chunks={"time": 3}))
    # fragment [4,6) with chunks of 3 → chunk 1 gets [4,6)∩[3,6)=[4,6)... wait
    # chunk 1 spans [3,6): covers 4,5 → single group
    assert len(out) == 1
    gk, (sub_idx, sub_ds) = out[0]
    assert gk == (("time", 1),)
    assert sub_ds.sizes["time"] == 2
    assert sub_idx[Dimension("time", CombineOp.CONCAT)] == IndexedPosition(4, dimsize=10)


def test_split_fragment_across_chunks():
    ds = make_ds(nt=4)
    index, _ = _indexed_fragment(ds, 4, 12)
    out = dict(split_fragment((index, ds), target_chunks={"time": 3}))
    # [4,8) crosses chunk 1 [3,6) and chunk 2 [6,9)
    assert set(out) == {(("time", 1),), (("time", 2),)}
    sub1_idx, sub1 = out[(("time", 1),)]
    sub2_idx, sub2 = out[(("time", 2),)]
    assert sub1.sizes["time"] == 2 and sub2.sizes["time"] == 2
    assert sub1_idx[Dimension("time", CombineOp.CONCAT)].value == 4
    assert sub2_idx[Dimension("time", CombineOp.CONCAT)].value == 6


def test_split_fragment_multidim_and_absent_dim():
    """Target chunk dim absent from the index → whole dim present
    (the rechunk-existing-store path, reference rechunking.py:63-69)."""
    ds = make_ds(nt=2)
    index, _ = _indexed_fragment(ds, 0, 2)
    out = dict(split_fragment((index, ds), target_chunks={"time": 1, "lat": 9}))
    assert len(out) == 4  # 2 time chunks × 2 lat chunks
    for (tkey, lkey), (sub_idx, sub) in [
        (tuple(sorted(dict(k).items())), v) for k, v in out.items()
    ]:
        assert sub.sizes == {"time": 1, "lat": 9, "lon": 36}


def test_split_requires_indexed():
    ds = make_ds(nt=2)
    dim = Dimension("time", CombineOp.CONCAT)
    index = Index({dim: Position(0)})  # not indexed → dimsize 0
    with pytest.raises(ValueError, match="dimsize of 0"):
        list(split_fragment((index, ds), target_chunks={"time": 1}))


def test_combine_fragments_1d():
    ds = make_ds(nt=4)
    parts = [ds.isel(time=slice(0, 2)), ds.isel(time=slice(2, 4))]
    frags = [
        _indexed_fragment(parts[0], 0, 4),
        _indexed_fragment(parts[1], 2, 4),
    ]
    index, combined = combine_fragments(None, frags)
    assert_equal(combined, ds)
    assert index[Dimension("time", CombineOp.CONCAT)].value == 0


def test_combine_fragments_shuffled_input():
    ds = make_ds(nt=6)
    frags = [
        _indexed_fragment(ds.isel(time=slice(i, i + 2)), i, 6) for i in (4, 0, 2)
    ]
    _, combined = combine_fragments(None, frags)
    assert_equal(combined, ds)


def test_combine_fragments_2d():
    """Fragments tiling (time × lat) must reassemble the hypercube."""
    ds = make_ds(nt=4)
    tdim = Dimension("time", CombineOp.CONCAT)
    ldim = Dimension("lat", CombineOp.CONCAT)
    frags = []
    for t0 in (0, 2):
        for l0 in (0, 9):
            sub = ds.isel(time=slice(t0, t0 + 2), lat=slice(l0, l0 + 9))
            idx = Index(
                {
                    tdim: IndexedPosition(t0, dimsize=4),
                    ldim: IndexedPosition(l0, dimsize=18),
                }
            )
            frags.append((idx, sub))
    _, combined = combine_fragments(None, frags)
    assert_equal(combined, ds)


def test_combine_fragments_errors():
    ds = make_ds(nt=4)
    tdim = Dimension("time", CombineOp.CONCAT)
    # not indexed
    frags = [(Index({tdim: Position(0)}), ds)]
    with pytest.raises(ValueError, match="must be indexed"):
        combine_fragments(None, frags)
    # inconsistent sizes vs starts
    frags = [
        (Index({tdim: IndexedPosition(0, dimsize=8)}), ds.isel(time=slice(0, 3))),
        (Index({tdim: IndexedPosition(4, dimsize=8)}), ds.isel(time=slice(0, 3))),
    ]
    with pytest.raises(ValueError, match="not consistent"):
        combine_fragments(None, frags)
    # irregular hypercube
    ldim = Dimension("lat", CombineOp.CONCAT)
    frags2 = [
        (Index({tdim: IndexedPosition(0, dimsize=4), ldim: IndexedPosition(0, dimsize=18)}),
         ds.isel(time=slice(0, 2), lat=slice(0, 9))),
        (Index({tdim: IndexedPosition(2, dimsize=4), ldim: IndexedPosition(9, dimsize=18)}),
         ds.isel(time=slice(2, 4), lat=slice(9, 18))),
    ]
    with pytest.raises(ValueError):
        combine_fragments(None, frags2)


def test_split_combine_roundtrip_with_schema():
    """split → group → combine reproduces the original chunks exactly."""
    ds = make_ds(nt=10)
    schema = dataset_to_schema(ds)
    schema["chunks"]["time"] = {i: 2 for i in range(5)}
    groups = {}
    for i in range(5):
        sub = ds.isel(time=slice(2 * i, 2 * i + 2))
        idx = Index({Dimension("time", CombineOp.CONCAT): IndexedPosition(2 * i, dimsize=10)})
        for gk, frag in split_fragment((idx, sub), target_chunks={"time": 3}, schema=schema):
            groups.setdefault(gk, []).append(frag)
    combined = {gk: combine_fragments(gk, frags) for gk, frags in groups.items()}
    # reassemble fully and compare
    ordered = [combined[k] for k in sorted(combined)]
    from pangeo_forge_recipes_spark.ndset import concat

    full = concat([ds_ for _, ds_ in ordered], "time")
    assert_equal(full, ds)


# ------------------------------------------------------- CF time precision


def test_encode_cf_datetime_ns_precision_exact():
    """ns-since-epoch offsets exceed 2^53: float64 division would quantize
    them to ~256 ns (regression — sub-µs times silently corrupted)."""
    from pangeo_forge_recipes_spark.ndset import decode_cf_datetime, encode_cf_datetime

    t = np.array(
        ["2026-08-13T01:02:03.000000001", "2026-08-13T01:02:03.000001000"],
        dtype="datetime64[ns]",
    )
    enc = encode_cf_datetime(t, "nanoseconds since 1970-01-01")
    assert enc.dtype == np.int64
    assert enc[1] - enc[0] == 999  # exact, not float-rounded
    rt = decode_cf_datetime(enc, "nanoseconds since 1970-01-01")
    np.testing.assert_array_equal(rt, t)

    # floor semantics for coarser units (CF encode truncates toward -inf)
    d = np.array(["2010-01-02T18:00:00"], dtype="datetime64[ns]")
    assert encode_cf_datetime(d, "days since 2010-01-01")[0] == 1


# ---------------------------------------------------------------------------
# label-based selection (NDDataset.sel)
# ---------------------------------------------------------------------------


def _sel_ds():
    import numpy as np

    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable

    nt, nlat = 6, 5
    time = np.datetime64("2024-01-01", "ns") + np.arange(nt) * np.timedelta64(1, "D")
    lat = np.linspace(60.0, 20.0, nlat)  # descending, GRIB-style
    data = np.arange(nt * nlat, dtype="float64").reshape(nt, nlat)
    return NDDataset(
        {"t": Variable(("time", "lat"), data)},
        {"time": Variable(("time",), time), "lat": Variable(("lat",), lat)},
        {}, {"time": nt, "lat": nlat},
    ), data, time, lat


def test_sel_exact_scalar_and_slice():
    import numpy as np

    ds, data, time, lat = _sel_ds()
    one = ds.sel({"time": time[2]})
    np.testing.assert_array_equal(one.data_vars["t"].data, data[2:3])
    # inclusive label slice on ascending time
    sub = ds.sel(time=slice(time[1], time[3]))
    np.testing.assert_array_equal(sub.data_vars["t"].data, data[1:4])
    np.testing.assert_array_equal(sub.coords["time"].data, time[1:4])
    # open-ended
    np.testing.assert_array_equal(
        ds.sel(time=slice(time[4], None)).data_vars["t"].data, data[4:]
    )


def test_sel_descending_coordinate():
    import numpy as np

    ds, data, time, lat = _sel_ds()
    # xarray convention on a descending coord: slice(high, low)
    sub = ds.sel(lat=slice(50.0, 30.0))
    np.testing.assert_array_equal(sub.coords["lat"].data, lat[1:4])
    np.testing.assert_array_equal(sub.data_vars["t"].data, data[:, 1:4])
    one = ds.sel(lat=40.0)
    np.testing.assert_array_equal(one.coords["lat"].data, [40.0])


def test_sel_nearest_and_errors():
    import numpy as np
    import pytest as _pytest

    ds, data, time, lat = _sel_ds()
    near = ds.sel({"lat": 42.0}, method="nearest")
    np.testing.assert_array_equal(near.coords["lat"].data, [40.0])
    tnear = ds.sel({"time": time[1] + np.timedelta64(5, "h")}, method="nearest")
    np.testing.assert_array_equal(tnear.coords["time"].data, time[1:2])
    with _pytest.raises(KeyError, match="not found"):
        ds.sel(lat=41.0)
    with _pytest.raises(KeyError, match="dimension coordinate"):
        ds.sel(bogus=1)
