"""NDS1 raw-frame serialization (r13): ``NDDataset.to_bytes`` emits a
pickled header + verbatim C-contiguous buffers so ``from_bytes``
reconstructs arrays as ZERO-COPY views over the incoming buffer — the
combine side of the payload rechunk shuffle deserializes Arrow
record-batch slices without re-allocating the corpus. These tests pin
the format's round-trip fidelity, the pickle fallback for lazy /
object-dtype payloads, backward compat with legacy pickle frames, and
the zero-copy property itself."""

from __future__ import annotations

import pickle

import numpy as np
import pytest

from pangeo_forge_recipes_spark.ndset import (
    NDDataset,
    Variable,
    _NDS_MAGIC,
    assert_equal,
)


def _sample() -> NDDataset:
    return NDDataset(
        {
            "foo": Variable(("t", "x"), np.arange(12, dtype="f8").reshape(3, 4)),
            "bar": Variable(("t",), np.array([1, 2, 3], dtype="i4"), {"k": 1}),
        },
        {
            "t": Variable(
                ("t",),
                np.array(["2020-01-01", "2020-01-02", "2020-01-03"], dtype="M8[ns]"),
                {"axis": "T"},
                {"units": "days since 2020-01-01"},
            )
        },
        {"title": "frame"},
        {"t": 3, "x": 4},
    )


def test_raw_frame_roundtrip_with_datetime_and_attrs():
    ds = _sample()
    b = ds.to_bytes()
    assert b[:4] == _NDS_MAGIC
    back = NDDataset.from_bytes(b)
    assert_equal(back, ds)
    assert back["t"].data.dtype == ds["t"].data.dtype
    assert back["t"].encoding == ds["t"].encoding
    assert back["bar"].attrs == {"k": 1}
    assert back.attrs == {"title": "frame"}


@pytest.mark.parametrize(
    "role, arr",
    [
        ("d", np.arange(24, dtype="<f8").reshape(2, 3, 4)),
        ("d", np.arange(6, dtype=">i4").reshape(3, 2)),
        ("c", np.array(["2020-01-01", "2020-01-02"], dtype="M8[ns]")),
        ("d", np.array([True, False, True])),
        ("d", np.float32([0.5, -1.25, 3.0])),
    ],
    ids=["f8-3d", "big-endian-i4", "M8-coord", "bool", "f4"],
)
def test_single_variable_frame_roundtrip(role, arr):
    """The rechunk shuffles ship one variable per frame: dims, attrs,
    encoding, dtype (byte order included) and values survive for data
    variables and coords alike."""
    dims = tuple(f"d{i}" for i in range(arr.ndim))
    var = Variable(dims, arr, {"a": 1}, {"e": "x"})
    group = {"v": var}
    single = NDDataset(group, {}, {}, dict(var.sizes)) if role == "d" else NDDataset({}, group, {}, dict(var.sizes))
    b = single.to_bytes()
    assert b[:4] == _NDS_MAGIC
    back = NDDataset.from_bytes(b)
    got = (back.data_vars if role == "d" else back.coords)["v"]
    assert got.dims == dims and got.data.dtype == arr.dtype
    np.testing.assert_array_equal(got.data, arr)
    assert got.attrs == {"a": 1} and got.encoding == {"e": "x"}
    assert back.sizes == single.sizes


def test_from_bytes_accepts_memoryview_and_arrow_buffer():
    pa = pytest.importorskip("pyarrow")
    ds = _sample()
    b = ds.to_bytes()
    assert_equal(NDDataset.from_bytes(memoryview(b)), ds)
    assert_equal(NDDataset.from_bytes(pa.py_buffer(b)), ds)


def test_raw_frame_is_zero_copy():
    ds = _sample()
    b = ds.to_bytes()
    back = NDDataset.from_bytes(b)
    # views over the frame, not fresh allocations
    assert not back["foo"].data.flags.owndata
    assert not back["bar"].data.flags.owndata


def test_legacy_pickle_frame_still_loads():
    ds = _sample()
    assert_equal(NDDataset.from_bytes(pickle.dumps(ds, protocol=5)), ds)


def test_object_dtype_falls_back_to_pickle():
    ds = NDDataset(
        {"s": Variable(("t",), np.array(["a", "bb", None], dtype=object))},
        {},
        {},
        {"t": 3},
    )
    b = ds.to_bytes()
    assert b[:4] != _NDS_MAGIC
    back = NDDataset.from_bytes(b)
    assert list(back["s"].data) == ["a", "bb", None]


def test_lazy_variable_falls_back_to_pickle():
    from pangeo_forge_recipes_spark.ndset import LazyArray

    base = np.arange(6, dtype="f8").reshape(2, 3)
    lazy = LazyArray(base)  # ndarray satisfies the reader protocol
    ds = NDDataset({"v": Variable(("t", "x"), lazy)}, {}, {}, {"t": 2, "x": 3})
    b = ds.to_bytes()
    assert b[:4] != _NDS_MAGIC
    back = NDDataset.from_bytes(b)
    np.testing.assert_array_equal(np.asarray(back["v"].data), base)


def test_non_contiguous_input_roundtrips():
    ds = NDDataset(
        {
            "v": Variable(
                ("t", "x"), np.arange(24, dtype="f8").reshape(4, 6)[:, ::2]
            )
        },
        {},
        {},
        {},
    )
    assert_equal(NDDataset.from_bytes(ds.to_bytes()), ds)


def test_empty_dataset_roundtrips():
    ds = NDDataset({}, {}, {"only": "attrs"}, {})
    back = NDDataset.from_bytes(ds.to_bytes())
    assert back.attrs == {"only": "attrs"}
    assert not back.data_vars and not back.coords
