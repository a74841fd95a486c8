"""The codec pipeline: ``ZarrArray`` encodes a chunk by walking
``meta["codecs"]`` forward through one codec table and decodes it by
walking the chain in reverse, so the chain a scanner records is the chain
that runs."""

from __future__ import annotations

import gzip
import json
import zlib

import numpy as np
import pytest

from pangeo_forge_recipes_spark import zarrio
from pangeo_forge_recipes_spark.dsio import consolidate_dimension_coordinates
from pangeo_forge_recipes_spark.hdf5io import lzf_compress, scan_hdf5, write_hdf5
from pangeo_forge_recipes_spark.ndset import NDDataset, Variable
from pangeo_forge_recipes_spark.zarrio import ZarrArray, create_group, open_group

from .data_generation import make_ds


def _array(chain, dtype="<f8", chunks=(4, 6)):
    meta = {
        "shape": list(chunks),
        "data_type": np.dtype(dtype).name,
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(chunks)},
        },
        "chunk_key_encoding": {"name": "default", "configuration": {}},
        "fill_value": 0,
        "codecs": chain,
    }
    return ZarrArray(None, "a", meta)


BYTES = {"name": "bytes", "configuration": {"endian": "little"}}
BLOCK = np.arange(24, dtype="<f8").reshape(4, 6) * 1.5


def test_lzf_then_gzip_decodes_in_spec_order():
    arr = _array([BYTES, {"name": "hdf5-lzf"}, {"name": "gzip"}])
    buf = zlib.compress(lzf_compress(BLOCK.tobytes()))
    np.testing.assert_array_equal(arr._decode_chunk(buf), BLOCK)
    np.testing.assert_array_equal(arr._decode_chunk(arr._encode_chunk(BLOCK)), BLOCK)


def test_gzip_then_shuffle_decodes_in_spec_order():
    from pangeo_forge_recipes_spark.codecs import shuffle_bytes

    shuffle = {"name": "hdf5-shuffle", "configuration": {"elementsize": 8}}
    arr = _array([BYTES, {"name": "gzip"}, shuffle])
    buf = shuffle_bytes(zlib.compress(BLOCK.tobytes(), 1), 8)
    np.testing.assert_array_equal(arr._decode_chunk(buf), BLOCK)
    assert arr._encode_chunk(BLOCK) == buf


def test_gzip_decodes_both_stream_formats():
    """The v3 spec's gzip is RFC 1952 (what zarr-python writes); the
    engine writes zlib streams under the same name, as HDF5 deflate does."""
    arr = _array([BYTES, {"name": "gzip", "configuration": {"level": 5}}])
    for buf in (gzip.compress(BLOCK.tobytes()), zlib.compress(BLOCK.tobytes())):
        np.testing.assert_array_equal(arr._decode_chunk(buf), BLOCK)
    # encode still writes the zlib stream
    assert arr._encode_chunk(BLOCK)[:1] == b"\x78"


def test_zfp_encode_refuses_instead_of_writing_raw_bytes():
    arr = _array([BYTES, {"name": "hdf5-zfp"}])
    with pytest.raises(NotImplementedError, match="hdf5-zfp"):
        arr._encode_chunk(BLOCK)


def test_mid_chain_fletcher32_verifies_at_its_layer():
    from pangeo_forge_recipes_spark.codecs import shuffle_bytes
    from pangeo_forge_recipes_spark.hdf5io import hdf5_fletcher32

    shuffle = {"name": "hdf5-shuffle", "configuration": {"elementsize": 8}}
    arr = _array([BYTES, shuffle, {"name": "hdf5-fletcher32"}, {"name": "gzip"}])
    mid = shuffle_bytes(BLOCK.tobytes(), 8)
    buf = zlib.compress(mid + hdf5_fletcher32(mid).to_bytes(4, "little"), 1)
    assert arr._encode_chunk(BLOCK) == buf
    np.testing.assert_array_equal(arr._decode_chunk(buf), BLOCK)
    bad = zlib.compress(mid + (hdf5_fletcher32(mid) ^ 1).to_bytes(4, "little"))
    with pytest.raises(ValueError, match="fletcher32 checksum mismatch"):
        arr._decode_chunk(bad)


def test_decoded_size_only_where_the_chain_fixes_it():
    # zstd under shuffle: shuffle keeps the size, so zstd's is known
    shuffle = {"name": "hdf5-shuffle", "configuration": {"elementsize": 8}}
    arr = _array([BYTES, shuffle, {"name": "zstd"}])
    np.testing.assert_array_equal(arr._decode_chunk(arr._encode_chunk(BLOCK)), BLOCK)
    # snappy above a compressor: its decoded size is not recorded
    arr = _array([BYTES, {"name": "gzip"}, {"name": "snappy"}])
    with pytest.raises(NotImplementedError, match="snappy stacked"):
        arr._decode_chunk(arr._encode_chunk(BLOCK))


def test_chain_out_of_order_or_unknown_raises():
    with pytest.raises(ValueError, match="out of order"):
        _array([{"name": "gzip"}, BYTES])._encode_chunk(BLOCK)
    with pytest.raises(ValueError, match="out of order"):
        _array([BYTES, {"name": "transpose", "configuration": {"order": [1, 0]}}])._decode_chunk(b"")
    with pytest.raises(NotImplementedError, match="'mystery'"):
        _array([BYTES, {"name": "mystery"}])._decode_chunk(b"")


def test_transpose_before_bytes_round_trips():
    arr = _array([{"name": "transpose", "configuration": {"order": [1, 0]}}, BYTES])
    enc = arr._encode_chunk(BLOCK)
    assert enc == np.ascontiguousarray(BLOCK.T).tobytes()
    np.testing.assert_array_equal(arr._decode_chunk(enc), BLOCK)


# ---------------------------------------------------------------------------
# consolidation keeps the store's compressor
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("zarr_format", [2, 3])
@pytest.mark.parametrize("compressor", ["gzip", "zstd", "blosc"])
def test_consolidation_keeps_the_compressor(tmp_path, zarr_format, compressor):
    path = str(tmp_path / "s.zarr")
    group = create_group(path, zarr_format=zarr_format)
    time = group.create_array(
        "time", shape=(10,), chunks=(3,), dtype="int64",
        dimension_names=["time"], compressor=compressor,
    )
    time[:] = np.arange(10) * 7
    group.create_array(
        "v", shape=(10,), chunks=(3,), dtype="float64",
        dimension_names=["time"], compressor=compressor,
    )[:] = np.arange(10.0)
    before = [c["name"] for c in open_group(path)["time"].meta["codecs"]]
    consolidate_dimension_coordinates(path)
    arr = open_group(path)["time"]
    assert arr.chunks == (10,)
    assert [c["name"] for c in arr.meta["codecs"]] == before
    np.testing.assert_array_equal(arr.read(), np.arange(10) * 7)


# ---------------------------------------------------------------------------
# every codec name a producer emits has a table entry
# ---------------------------------------------------------------------------


def _names(chain):
    for c in chain:
        yield c["name"]
        conf = c.get("configuration") or {}
        if c["name"] == "sharding_indexed":
            yield from _names(conf["codecs"])
            yield from _names(conf["index_codecs"])


def _ref_names(refs):
    refs = refs.get("refs", refs)
    for key, value in refs.items():
        if key.endswith("zarr.json"):
            meta = json.loads(value) if isinstance(value, str) else value
            yield from _names(meta.get("codecs", []))


def test_every_produced_codec_name_is_a_table_key(tmp_path):
    from pangeo_forge_recipes_spark.dap4io import scan_dmrpp
    from pangeo_forge_recipes_spark.grib2io import scan_grib2, write_grib2
    from pangeo_forge_recipes_spark.kerchunkio import _array_meta
    from pangeo_forge_recipes_spark.netcdf3 import scan_netcdf3, write_netcdf3

    from .test_dap4io import _dmrpp_doc
    from .test_grib2io import make_grib_ds

    produced = set()
    ds = make_ds(nt=4)
    cases = [
        {"compress": c}
        for c in (False, True, "lzf", "szip", "bzip2", "lz4", "zstd", "blosc",
                  "bitshuffle", "zfp")
    ] + [
        {"compress": True, "shuffle": True, "fletcher32": True},
        {"compress": "lzf", "shuffle": True, "fletcher32": "first"},
    ]
    for i, kw in enumerate(cases):
        p = str(tmp_path / f"h{i}.h5")
        write_hdf5(p, ds, chunks={"time": 2}, **kw)
        produced.update(_ref_names(scan_hdf5(p)))
    # szip codes only types up to 32 bits
    p = str(tmp_path / "sz.h5")
    ints = NDDataset({"v": Variable(("x",), np.arange(64, dtype="int32"))}, {}, {}, {"x": 64})
    write_hdf5(p, ints, chunks={"x": 32}, compress="szip")
    produced.update(_ref_names(scan_hdf5(p)))
    offs = {"air": [(0, 96), (96, 96)], "time": [(192, 64)]}
    for deflate in (False, True):
        produced.update(_ref_names(scan_dmrpp(_dmrpp_doc("file:///d.h5", offs, deflate))))
    p = str(tmp_path / "n.nc")
    write_netcdf3(p, ds)
    produced.update(_ref_names(scan_netcdf3(p)))
    p = str(tmp_path / "g.grib2")
    write_grib2(p, make_grib_ds())
    produced.update(_ref_names(scan_grib2(p)))
    produced.update(_names(_array_meta([2], [2], "int8", {}, ["x"])["codecs"]))
    zarray = {"shape": [4, 4], "chunks": [2, 2], "dtype": "<f8", "order": "F"}
    for comp in ("zlib", "gzip", "blosc", "lz4", "zstd", "snappy"):
        filters = [{"id": f, "dtype": "<f8"} for f in ("delta", "quantize")]
        filters += [{"id": "fixedscaleoffset", "dtype": "<f8", "scale": 1, "offset": 0},
                    {"id": "shuffle"}]
        meta = zarrio._v2_to_v3_array_meta(
            dict(zarray, compressor={"id": comp}, filters=filters), {}
        )
        produced.update(_names(meta["codecs"]))
    for fmt in (2, 3):
        group = create_group(str(tmp_path / f"c{fmt}.zarr"), zarr_format=fmt)
        for comp in (None, "gzip", "zstd", "blosc"):
            for shards in (None, [4]) if fmt == 3 else (None,):
                arr = group.create_array(
                    f"{comp}{shards}", shape=[8], chunks=[2], dtype="float32",
                    compressor=comp, shards=shards,
                )
                produced.update(_names(arr.meta["codecs"]))
    assert produced - set(zarrio._codecs()) == set()
    assert {"hdf5-zfp", "hdf5-szip", "grib2-msg", "sharding_indexed",
            "numcodecs-delta", "transpose", "gzip-frame"} <= produced
