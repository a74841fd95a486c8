"""HDF5/netCDF4 container: pure-Python write/scan/schema/read, plus the
Zarr and kerchunk pipelines running end-to-end from netcdf4 sources
(reference parity: ``openers.py:40-47`` netcdf4 engine row and kerchunk's
``SingleHdf5ToZarr`` path at ``openers.py:137-204``)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from pangeo_forge_recipes_spark import (
    pattern_from_file_sequence,
    store_to_zarr,
    write_combined_reference,
)
from pangeo_forge_recipes_spark.hdf5io import (
    hdf5_schema,
    read_hdf5,
    scan_hdf5,
    write_hdf5,
)
from pangeo_forge_recipes_spark.kerchunkio import open_reference_dataset
from pangeo_forge_recipes_spark.ndset import NDDataset, Variable, assert_equal
from pangeo_forge_recipes_spark.openers import (
    open_with_kerchunk,
    open_with_ndset,
    read_schema,
)
from pangeo_forge_recipes_spark.patterns import FileType

from .data_generation import make_ds


def test_write_read_roundtrip_contiguous(tmp_path):
    ds = make_ds(nt=5)
    p = str(tmp_path / "t.h5")
    write_hdf5(p, ds)
    rt = read_hdf5(p)
    assert_equal(rt, ds)
    # int64 survives (unlike netcdf3 classic), CF time decodes
    assert rt.data_vars["bar"].dtype == np.int64
    assert rt["time"].dtype.kind == "M"
    assert "since" in rt["time"].encoding["units"]


def test_write_read_roundtrip_chunked_deflate(tmp_path):
    ds = make_ds(nt=10)
    p = str(tmp_path / "t.h5")
    # nt=10 with chunk 4 → ragged final chunk on the concat dim
    write_hdf5(p, ds, chunks={"time": 4}, compress=True)
    rt = read_hdf5(p)
    assert_equal(rt, ds)


def test_header_only_schema(tmp_path):
    ds = make_ds(nt=3)
    p = str(tmp_path / "t.h5")
    write_hdf5(p, ds)
    schema = hdf5_schema(p)
    assert schema["dims"] == {"time": 3, "lat": 18, "lon": 36}
    assert set(schema["data_vars"]) == {"foo", "bar"}
    assert set(schema["coords"]) == {"time", "lat", "lon"}
    assert schema["data_vars"]["foo"]["dtype"] == "float64"
    assert schema["data_vars"]["bar"]["dtype"] == "int64"
    assert schema["coords"]["time"]["dtype"] == "datetime64[ns]"
    assert "since" in schema["coords"]["time"]["encoding"]["units"]
    assert schema["data_vars"]["foo"]["attrs"]["long_name"] == "Fantastic Foo"


def test_scan_references_equal_direct_read(tmp_path):
    ds = make_ds(nt=4)
    p = str(tmp_path / "t.h5")
    write_hdf5(p, ds, chunks={"time": 2}, compress=True)
    refs = scan_hdf5(p)
    # header walk only: chunk payloads stay byte ranges into the file
    chunk_refs = [v for k, v in refs.items() if not k.endswith("zarr.json")]
    assert any(isinstance(v, list) for v in chunk_refs)
    via_refs = open_reference_dataset(refs)
    # the virtual store keeps CF ints for time; compare payload vars
    np.testing.assert_array_equal(
        via_refs.data_vars["foo"].data, ds.data_vars["foo"].data
    )
    np.testing.assert_array_equal(
        via_refs.data_vars["bar"].data, ds.data_vars["bar"].data
    )


def test_openers_route_netcdf4(tmp_path):
    ds = make_ds(nt=2)
    p = str(tmp_path / "t.h5")
    write_hdf5(p, ds)
    opened = open_with_ndset(f"file://{p}", FileType.netcdf4)
    assert_equal(opened, ds)
    assert read_schema(p, FileType.netcdf4)["dims"]["time"] == 2
    refs = open_with_kerchunk(p, FileType.netcdf4)
    assert len(refs) == 1 and any(k.endswith("zarr.json") for k in refs[0])


def test_write_read_roundtrip_shuffle_deflate(tmp_path):
    """The HDF5 shuffle filter (byte transpose before deflate — the
    common netCDF4 compression recipe) must decode through the codec
    chain, both direct and via byte-range references."""
    ds = make_ds(nt=10)
    p = str(tmp_path / "t.h5")
    write_hdf5(p, ds, chunks={"time": 4}, compress=True, shuffle=True)
    rt = read_hdf5(p)
    assert_equal(rt, ds)
    # shuffle genuinely changes the stored bytes: same data without
    # shuffle produces a different file payload
    p2 = str(tmp_path / "t2.h5")
    write_hdf5(p2, ds, chunks={"time": 4}, compress=True)
    assert open(p, "rb").read() != open(p2, "rb").read()
    assert_equal(read_hdf5(p2), rt)


def test_unsupported_filter_raises(tmp_path):
    """A dataset using a filter this engine has never heard of (id 399,
    unassigned in the HDF5 registry) must fail loudly, not decode
    garbage. (szip, bzip2, lz4, zstd, blosc, bitshuffle and — r11 —
    zfp, former examples here, are now decoded natively.)"""
    ds = make_ds(nt=2)
    p = str(tmp_path / "t.h5")
    write_hdf5(p, ds, chunks={"time": 1}, compress=True)
    # splice an unassigned filter id over deflate (1)
    with open(p, "rb") as f:
        raw = bytearray(f.read())
    sig = b"deflate\x00"
    idx = raw.find(sig)
    assert idx > 0
    raw[idx - 8 : idx - 6] = (399).to_bytes(2, "little")
    raw[idx : idx + 8] = b"mystery\x00"
    p2 = str(tmp_path / "t2.h5")
    with open(p2, "wb") as f:
        f.write(bytes(raw))
    with pytest.raises(NotImplementedError, match="filters"):
        scan_hdf5(p2)


def test_hdf5_bzip2_round_trip(tmp_path):
    """write_hdf5(compress='bzip2') emits the registered filter-307
    pipeline (hdf5plugin convention, plain bz2 stream per chunk) and the
    scanner + virtual store read it back exactly."""
    import bz2

    from pangeo_forge_recipes_spark.hdf5io import read_hdf5, write_hdf5
    from pangeo_forge_recipes_spark.ndset import assert_equal

    ds = make_ds(nt=6)
    p = str(tmp_path / "bz.h5")
    write_hdf5(p, ds, chunks={"time": 3}, compress="bzip2")
    with open(p, "rb") as f:
        raw = f.read()
    assert b"bzip2\x00" in raw  # filter name in the pipeline message
    assert b"BZh9" in raw  # a chunk payload is a real bzip2 stream
    got = read_hdf5(p)
    assert_equal(got, ds)


def _write_split(tmp_path, ds, nt_per_file, **kw):
    paths = []
    nt = ds.sizes["time"]
    for i, start in enumerate(range(0, nt, nt_per_file)):
        p = str(tmp_path / f"f{i}.h5")
        write_hdf5(p, ds.isel(time=slice(start, start + nt_per_file)), **kw)
        paths.append(p)
    return paths


def test_store_to_zarr_from_netcdf4(spark, tmp_path):
    ds = make_ds(nt=6)
    paths = _write_split(tmp_path, ds, 2)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="netcdf4"
    )
    result = store_to_zarr(
        spark, pattern, str(tmp_path), "out.zarr", target_chunks={"time": 3}
    )
    assert_equal(result.open(), ds)


def test_kerchunk_combine_rejects_misaligned_chunks(spark, tmp_path):
    """A non-final file whose concat extent ends mid-chunk cannot be
    virtually concatenated; combine must raise, not corrupt silently."""
    ds = make_ds(nt=6)
    # 3 items per file but chunk 2 → each file's second chunk is short
    paths = _write_split(tmp_path, ds, 3, compress=True, chunks={"time": 2})
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=3, file_type="netcdf4"
    )
    with pytest.raises(Exception, match="not a multiple of the chunk size"):
        write_combined_reference(
            spark, pattern, str(tmp_path), "ref", max_refs_per_merge=2
        )


def test_kerchunk_pipeline_from_netcdf4(spark, tmp_path):
    ds = make_ds(nt=6)
    paths = _write_split(tmp_path, ds, 2, compress=True, chunks={"time": 2})
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="netcdf4"
    )
    ref_path = write_combined_reference(
        spark, pattern, str(tmp_path), "ref", max_refs_per_merge=2
    )
    assert os.path.exists(ref_path)
    assert_equal(open_reference_dataset(ref_path), ds)


def _netcdf4_13_steps(tmp_path):
    ds = make_ds(nt=13)
    paths = _write_split(tmp_path, ds, 1, compress=True, chunks={"time": 1})
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=1, file_type="netcdf4"
    )
    return ds, paths, pattern


def test_kerchunk_merge_matches_serial_combine(spark, tmp_path):
    """13 files with max_refs_per_merge=2 leave an uneven last bucket; the
    bucketed merge must equal one serial combine in position order, byte
    for byte."""
    from pangeo_forge_recipes_spark.kerchunkio import (
        combine_references,
        write_reference_json,
    )

    ds, paths, pattern = _netcdf4_13_steps(tmp_path)
    ref_path = write_combined_reference(
        spark, pattern, str(tmp_path), "ref", max_refs_per_merge=2
    )
    serial = combine_references(
        [r for p in paths for r in open_with_kerchunk(p, FileType.netcdf4)],
        ["time"],
    )
    expected = write_reference_json(serial, str(tmp_path / "serial.json"))
    with open(ref_path, "rb") as got, open(expected, "rb") as want:
        assert got.read() == want.read()
    assert_equal(open_reference_dataset(ref_path), ds)


def test_kerchunk_merge_job_count_and_empty_manifest(spark, tmp_path):
    """The 1-D merge is one pass over the per-file scan and shuffles
    nothing: exactly one job, so each file is opened once. An empty
    manifest still raises."""
    from pangeo_forge_recipes_spark import transforms as T

    _, _, pattern = _netcdf4_13_steps(tmp_path)
    refs = T.open_with_kerchunk_df(
        T.manifest_df(spark, pattern), pattern.file_type, concat_dims=["time"]
    )
    sc = spark.sparkContext
    group = "kerchunk-merge-job-count"
    sc.setJobGroup(group, "combine_references_df 1-D")
    try:
        T.combine_references_df(refs, ["time"], max_refs_per_merge=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    with pytest.raises(ValueError, match="no references to combine"):
        T.combine_references_df(refs.limit(0), ["time"], max_refs_per_merge=2)


@pytest.mark.parametrize("case", ["netcdf4_1d", "grib_2d"])
def test_metadata_reduces_independent_of_partitioning(spark, tmp_path, case):
    """determine_schema and combine_references_df give one schema and a
    reference.json byte-identical to a serial combine (2-D: per time
    slice along latitude, then along time) whatever the manifest's
    partitioning and row order: as built, coalesce(1), repartition(7)."""
    from pangeo_forge_recipes_spark import ConcatDim, FilePattern
    from pangeo_forge_recipes_spark import transforms as T
    from pangeo_forge_recipes_spark.grib2io import write_grib2
    from pangeo_forge_recipes_spark.kerchunkio import (
        combine_references,
        write_reference_json,
    )

    from .test_grib2io import make_grib_ds

    if case == "netcdf4_1d":
        _, paths, pattern = _netcdf4_13_steps(tmp_path)
        serial = combine_references(
            [open_with_kerchunk(p, FileType.netcdf4)[0] for p in paths], ["time"]
        )
    else:
        ds = make_grib_ds(nt=4)
        slices = []
        for ti in range(2):
            row = []
            for li in range(3):
                path = str(tmp_path / f"t{ti}_l{li}.grib2")
                sub = ds.isel(time=slice(2 * ti, 2 * ti + 2), latitude=slice(2 * li, 2 * li + 2))
                write_grib2(path, sub)
                row.append(open_with_kerchunk(path, FileType.grib)[0])
            slices.append(combine_references(row, ["latitude"]))
        serial = combine_references(slices, ["time"])
        pattern = FilePattern(
            lambda time, latitude: str(tmp_path / f"t{time}_l{latitude}.grib2"),
            ConcatDim("time", keys=[0, 1], nitems_per_file=2),
            ConcatDim("latitude", keys=[0, 1, 2], nitems_per_file=2),
            file_type="grib",
        )
    with open(write_reference_json(serial, str(tmp_path / "serial.json")), "rb") as f:
        want = f.read()

    layouts = {
        "as_built": lambda m: m,
        "coalesce1": lambda m: m.coalesce(1),
        "repartition7": lambda m: m.repartition(7),
    }
    schemas = []
    for name, layout in layouts.items():
        manifest = layout(T.manifest_df(spark, pattern))
        schemas.append(
            T.determine_schema(
                T.read_schemas_df(manifest, pattern.file_type), pattern.combine_dim_keys
            )
        )
        refs = T.combine_references_df(
            T.open_with_kerchunk_df(
                manifest, pattern.file_type, concat_dims=pattern.concat_dims
            ),
            pattern.concat_dims,
        )
        with open(write_reference_json(refs, str(tmp_path / f"{name}.json")), "rb") as f:
            assert f.read() == want, name
    assert all(s == schemas[0] for s in schemas)


def test_lzf_stream_roundtrip_and_known_vectors():
    from pangeo_forge_recipes_spark.hdf5io import lzf_compress, lzf_decompress

    rng = np.random.default_rng(9)
    for blob in (
        b"",
        b"a",
        b"abcabcabcabcabcabc",      # short-distance back-references
        b"x" * 1000,                 # max-length matches
        rng.integers(0, 256, 5000, dtype=np.uint8).tobytes(),  # incompressible
        (b"0123456789" * 40) + rng.integers(0, 4, 500, dtype=np.uint8).tobytes(),
    ):
        assert lzf_decompress(lzf_compress(blob)) == blob
    # hand-built streams straight from the public format spec
    assert lzf_decompress(b"\x02abc") == b"abc"              # literal run
    assert lzf_decompress(b"\x02abc\x20\x02") == b"abcabc"  # len 3, dist 3
    assert lzf_decompress(b"\x00a\x20\x00") == b"aaaa"      # overlapping copy
    with pytest.raises(ValueError, match="back-reference"):
        lzf_decompress(b"\x00a\x20\x05")


def test_write_read_roundtrip_lzf(tmp_path):
    """h5py's LZF filter (id 32000) decodes through the pure-python
    codec, with and without the shuffle stage in front."""
    ds = make_ds(nt=6)
    for shuffle in (False, True):
        p = str(tmp_path / f"lzf{int(shuffle)}.h5")
        write_hdf5(p, ds, chunks={"time": 2}, compress="lzf", shuffle=shuffle)
        assert_equal(read_hdf5(p), ds, check_attrs=False)
        refs = scan_hdf5(p)
        assert_equal(open_reference_dataset(refs), ds, check_attrs=False)
        import json

        meta = json.loads(refs["foo/zarr.json"])
        assert {"name": "hdf5-lzf"} in meta["codecs"]


def test_hdf5_bzip2_virtual_refs_and_write_through(tmp_path):
    """scan_hdf5 maps filter 307 to the hdf5-bzip2 codec; the virtual
    store decodes it, and WRITING a chunk through an array carrying the
    codec encodes symmetrically (encode must mirror decode or the next
    read raises on a non-bzip2 payload)."""
    import json

    import numpy as np

    from pangeo_forge_recipes_spark.zarrio import ZarrArray

    ds = make_ds(nt=6)
    p = str(tmp_path / "bzr.h5")
    write_hdf5(p, ds, chunks={"time": 2}, compress="bzip2")
    refs = scan_hdf5(p)
    meta = json.loads(refs["foo/zarr.json"])
    assert {"name": "hdf5-bzip2"} in meta["codecs"]
    virt = open_reference_dataset(refs)
    assert_equal(virt, ds, check_attrs=False)
    # write-through: encode a chunk via the codec chain and read it back
    arr = ZarrArray(None, "foo", meta)
    chunk_shape = tuple(arr.chunks)
    block = np.arange(np.prod(chunk_shape), dtype=arr.dtype).reshape(
        chunk_shape
    )
    enc = arr._encode_chunk(block)
    assert enc[:3] == b"BZh"  # really a bzip2 stream
    np.testing.assert_array_equal(arr._decode_chunk(enc), block)


def test_store_to_zarr_from_lzf_netcdf4(spark, tmp_path):
    """The distributed pipeline reads lzf-compressed netcdf4 sources."""
    ds = make_ds(nt=4)
    paths = []
    for i in range(2):
        p = str(tmp_path / f"z{i}.h5")
        write_hdf5(p, ds.isel(time=slice(2 * i, 2 * i + 2)), chunks={"time": 2},
                   compress="lzf")
        paths.append(p)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="netcdf4"
    )
    result = store_to_zarr(spark, pattern, str(tmp_path), "lz.zarr",
                           target_chunks={"time": 2})
    assert_equal(result.open(), ds, check_attrs=False)


@pytest.mark.parametrize("comp,codec", [("lz4", "hdf5-lz4"), ("zstd", "hdf5-zstd"), ("blosc", "hdf5-blosc")])
def test_hdf5_lz4_zstd_round_trip_and_write_through(tmp_path, comp, codec):
    """write_hdf5(compress='lz4'/'zstd') emits the registered filter
    (32004 / 32015) pipelines; the scanner maps them to virtual-store
    codecs, reads decode exactly, and chunk write-through encodes
    symmetrically."""
    import json

    import numpy as np

    from pangeo_forge_recipes_spark.hdf5io import read_hdf5, write_hdf5
    from pangeo_forge_recipes_spark.ndset import assert_equal
    from pangeo_forge_recipes_spark.zarrio import ZarrArray

    ds = make_ds(nt=6)
    p = str(tmp_path / f"{comp}.h5")
    write_hdf5(p, ds, chunks={"time": 3}, compress=comp)
    with open(p, "rb") as f:
        raw = f.read()
    assert comp.encode() + b"\x00" in raw  # filter name in the pipeline
    assert_equal(read_hdf5(p), ds)
    refs = scan_hdf5(p)
    meta = json.loads(refs["foo/zarr.json"])
    assert {"name": codec} in meta["codecs"]
    assert_equal(open_reference_dataset(refs), ds, check_attrs=False)
    arr = ZarrArray(None, "foo", meta)
    block = np.arange(
        np.prod(arr.chunks), dtype=arr.dtype
    ).reshape(tuple(arr.chunks))
    enc = arr._encode_chunk(block)
    np.testing.assert_array_equal(arr._decode_chunk(enc), block)
    if comp == "zstd":
        assert enc[:4] == b"\x28\xb5\x2f\xfd"  # zstd frame magic


def test_hdf5_lz4_framing_hand_built():
    """Pin the registered LZ4 filter framing against a hand-assembled
    stream: 8-byte BE total, 4-byte BE block size, then per block a
    4-byte BE compressed size + payload (csize == dsize -> stored raw)."""
    from pangeo_forge_recipes_spark.codecs import lz4_block_compress
    from pangeo_forge_recipes_spark.hdf5io import (
        hdf5_lz4_compress,
        hdf5_lz4_decompress,
    )

    payload = (b"abcd" * 300) + b"tail"
    half = len(payload) // 2
    b1 = lz4_block_compress(payload[:half])
    b2 = payload[half:]  # stored raw: csize == dsize
    stream = (
        len(payload).to_bytes(8, "big")
        + half.to_bytes(4, "big")
        + len(b1).to_bytes(4, "big") + b1
        + len(b2).to_bytes(4, "big") + b2
    )
    assert hdf5_lz4_decompress(stream) == payload
    # our encoder's output decodes through our decoder (and uses the
    # raw-block fallback for incompressible tails)
    assert hdf5_lz4_decompress(hdf5_lz4_compress(payload, block_size=512)) == payload
    assert hdf5_lz4_decompress(hdf5_lz4_compress(b"")) == b""


def test_hdf5_stacked_filters_decode_in_recorded_order(tmp_path):
    """A file may declare TWO compression filters in either pipeline
    order; encode walks the recorded order, decode its reverse. The
    former fixed-order membership checks decoded one of the two orders
    to garbage."""
    import json

    import numpy as np

    from pangeo_forge_recipes_spark.hdf5io import write_hdf5
    from pangeo_forge_recipes_spark.zarrio import ZarrArray

    ds = make_ds(nt=6)
    p = str(tmp_path / "base.h5")
    write_hdf5(p, ds, chunks={"time": 3}, compress="lz4")
    base = json.loads(scan_hdf5(p)["foo/zarr.json"])

    def roundtrip(chain):
        meta = dict(base)
        meta["codecs"] = [
            c for c in base["codecs"] if not c["name"].startswith("hdf5-")
        ] + [{"name": n} for n in chain]
        arr = ZarrArray(None, "foo", meta)
        block = np.arange(np.prod(arr.chunks), dtype=arr.dtype).reshape(
            tuple(arr.chunks)
        )
        enc = arr._encode_chunk(block)
        np.testing.assert_array_equal(arr._decode_chunk(enc), block)
        return enc

    # both bzip2+lz4 orders round-trip, and the OUTER layer is the
    # last-recorded filter (proof encode followed the recorded order)
    assert roundtrip(["hdf5-lz4", "hdf5-bzip2"])[:3] == b"BZh"
    assert roundtrip(["hdf5-bzip2", "hdf5-lz4"])[:3] != b"BZh"
    # zstd innermost is decodable (its output size = chunk nbytes)
    roundtrip(["hdf5-zstd", "hdf5-lz4"])
    # zstd stacked ABOVE another compressor: intermediate size unknown →
    # declared gate, not garbage
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="hdf5-zstd stacked"):
        roundtrip(["hdf5-lz4", "hdf5-zstd"])


def scalar_bitshuffle_block(block: bytes, elem_size: int) -> bytes:
    """Independent scalar re-derivation of one bitshuffle block
    (TRANS_BIT_8X8 semantics, LSB-first on both axes): plane b*8+k holds
    bit k of byte b of every element; within a plane byte, element 8i+j
    lands in bit j. Written as explicit bit loops so it shares no code
    with the vectorized codec it pins."""
    n = len(block) // elem_size
    out = bytearray()
    for b in range(elem_size):
        for k in range(8):
            for i in range(n // 8):
                byte = 0
                for j in range(8):
                    byte |= ((block[(8 * i + j) * elem_size + b] >> k) & 1) << j
                out.append(byte)
    return bytes(out)


def test_hdf5_bitshuffle_framing_hand_built():
    """Pin the registered bitshuffle filter (id 32008) stream against a
    hand-assembled one per the public format (bshuf_h5filter.c +
    bshuf_blocked_wrap_fun): 8-byte BE total, 4-byte BE block size in
    bytes, per processed block a 4-byte BE compressed size + LZ4 block
    of that block's bit-transposed bytes — full blocks of block_elems,
    then the remainder rounded DOWN to a multiple of 8 as one short
    block, then the final n%8 elements copied raw (never transposed)."""
    from pangeo_forge_recipes_spark.codecs import lz4_block_compress
    from pangeo_forge_recipes_spark.hdf5io import (
        hdf5_bitshuffle_compress,
        hdf5_bitshuffle_decompress,
    )

    rng = np.random.default_rng(32008)
    data = rng.integers(0, 256, size=28 * 2, dtype=np.uint8).tobytes()
    # elem_size=2, block_elems=16 → blocks of 16 and 8 elems, 4-elem tail
    blocks = [data[0:32], data[32:48]]
    tail = data[48:]
    stream = len(data).to_bytes(8, "big") + (32).to_bytes(4, "big")
    for blk in blocks:
        comp = lz4_block_compress(scalar_bitshuffle_block(blk, 2))
        stream += len(comp).to_bytes(4, "big") + comp
    stream += tail
    assert hdf5_bitshuffle_decompress(stream, 2, "lz4") == data
    assert hdf5_bitshuffle_compress(data, 2, "lz4", block_elems=16) == stream
    # no-compression variant: blocked transpose only, same total size
    plain = b"".join(scalar_bitshuffle_block(b, 2) for b in blocks) + tail
    assert hdf5_bitshuffle_compress(data, 2, "none", block_elems=16) == plain
    assert hdf5_bitshuffle_decompress(plain, 2, "none", block_elems=16) == data
    # zstd internal compression round-trips (frame bytes are
    # build-specific, so only the inverse is pinned)
    z = hdf5_bitshuffle_compress(data, 2, "zstd", block_elems=16)
    assert hdf5_bitshuffle_decompress(z, 2, "zstd") == data
    # default block size (cd value 0) round-trips too
    assert hdf5_bitshuffle_decompress(
        hdf5_bitshuffle_compress(data, 2, "lz4"), 2, "lz4"
    ) == data


def test_hdf5_bitshuffle_round_trip_and_write_through(tmp_path):
    """write_hdf5(compress='bitshuffle') emits the registered filter
    32008 pipeline (LZ4 internal compression, the library's default);
    the scanner maps it to a configured virtual-store codec, reads
    decode exactly, and chunk write-through encodes symmetrically."""
    import json

    from pangeo_forge_recipes_spark.hdf5io import read_hdf5, write_hdf5
    from pangeo_forge_recipes_spark.zarrio import ZarrArray

    ds = make_ds(nt=6)
    p = str(tmp_path / "bshuf.h5")
    write_hdf5(p, ds, chunks={"time": 3}, compress="bitshuffle")
    with open(p, "rb") as f:
        raw = f.read()
    assert b"bitshuffle\x00" in raw  # filter name in the pipeline
    assert_equal(read_hdf5(p), ds)
    refs = scan_hdf5(p)
    meta = json.loads(refs["foo/zarr.json"])
    (cfg,) = [
        c["configuration"] for c in meta["codecs"]
        if c["name"] == "hdf5-bitshuffle"
    ]
    assert cfg["compression"] == "lz4"
    assert cfg["elementsize"] == np.dtype(meta["data_type"]).itemsize
    assert_equal(open_reference_dataset(refs), ds, check_attrs=False)
    arr = ZarrArray(None, "foo", meta)
    block = np.arange(
        np.prod(arr.chunks), dtype=arr.dtype
    ).reshape(tuple(arr.chunks))
    enc = arr._encode_chunk(block)
    np.testing.assert_array_equal(arr._decode_chunk(enc), block)
    # an unknown internal compression code stays a declared gate
    with open(p, "rb") as f:
        raw = bytearray(f.read())
    idx = raw.find(b"bitshuffle\x00")
    cd_off = idx + 16  # name(16) → 5 cd values; cd[4] = compression
    raw[cd_off + 16 : cd_off + 20] = (9).to_bytes(4, "little")
    p2 = str(tmp_path / "badcomp.h5")
    with open(p2, "wb") as f:
        f.write(bytes(raw))
    with pytest.raises(NotImplementedError, match="compression code 9"):
        scan_hdf5(p2)


def _fletcher32_reference(data: bytes) -> int:
    """Literal transcription of the public HDF5 H5_checksum_fletcher32
    word loop (360-word reduction blocks) — the oracle for the
    vectorized implementation."""
    length = len(data) // 2
    sum1 = sum2 = 0
    pos = 0
    while length:
        tlen = min(length, 360)
        length -= tlen
        for _ in range(tlen):
            sum1 += (data[pos] << 8) | data[pos + 1]
            pos += 2
            sum2 += sum1
        sum1 = (sum1 & 0xFFFF) + (sum1 >> 16)
        sum2 = (sum2 & 0xFFFF) + (sum2 >> 16)
    if len(data) % 2:
        sum1 += data[-1] << 8
        sum2 += sum1
    for _ in range(2):
        sum1 = (sum1 & 0xFFFF) + (sum1 >> 16)
        sum2 = (sum2 & 0xFFFF) + (sum2 >> 16)
    return (sum2 << 16) | sum1


def test_fletcher32_matches_reference_loop():
    from pangeo_forge_recipes_spark.hdf5io import hdf5_fletcher32

    rng = np.random.RandomState(3)
    for n in list(range(0, 40)) + [359, 360, 361, 719, 720, 721, 1441, 5000]:
        for blob in (
            bytes(rng.randint(0, 256, n, dtype=np.uint8)),
            b"\x00" * n,
            b"\xff" * n,
        ):
            assert hdf5_fletcher32(blob) == _fletcher32_reference(blob), n
    # a value whose sums hit the 65535 representative edge
    assert hdf5_fletcher32(b"\xff\xff") == _fletcher32_reference(b"\xff\xff")


def test_fletcher32_filter_roundtrip_and_corruption(tmp_path):
    """fletcher32-filtered files (alone and stacked under
    shuffle+deflate) scan, read, and FAIL LOUDLY on a flipped byte."""
    ds = make_ds(nt=4)
    # BOTH real-world placements: h5py appends the filter last (checksum
    # wraps the compressed stream), netcdf-c registers it first (wraps
    # the raw stream, shuffle's remainder bytes carrying the trailer)
    for placement in (True, "first"):
        for compress, shuffle in ((False, False), ("deflate", True)):
            p = str(tmp_path / f"f_{placement}_{compress}_{shuffle}.h5")
            write_hdf5(
                p, ds, chunks={"time": 2}, compress=compress,
                shuffle=shuffle, fletcher32=placement,
            )
            assert_equal(read_hdf5(p), ds)
            refs = scan_hdf5(p)
            meta = __import__("json").loads(refs["foo/zarr.json"])
            names = [c["name"] for c in meta["codecs"]]
            if placement == "first" and (compress or shuffle):
                assert names[1] == "hdf5-fletcher32", names
            else:
                assert names[-1] == "hdf5-fletcher32", names
            assert_equal(open_reference_dataset(refs), ds)
    # corrupt one byte of a referenced chunk: the read must raise the
    # checksum error, never return garbage
    p = str(tmp_path / "f_True_deflate_True.h5")
    refs = scan_hdf5(p)
    url, off, length = next(
        v for k, v in refs.items()
        if isinstance(v, list) and k.startswith("foo/c/")
    )
    blob = bytearray(open(p, "rb").read())
    blob[off + 2] ^= 0xFF
    p2 = str(tmp_path / "corrupt.h5")
    open(p2, "wb").write(bytes(blob))
    refs2 = scan_hdf5(p2)
    with pytest.raises(ValueError, match="fletcher32 checksum mismatch"):
        open_reference_dataset(refs2)["foo"].data


# ---------------------------------------------------------------------------
# zfp (filter 32013 — flipped from a gate to a round-trip in r11)
# ---------------------------------------------------------------------------


def test_hdf5_zfp_round_trip(tmp_path):
    """write_hdf5(compress='zfp') emits the registered filter-32013
    pipeline; each chunk is a self-contained zfp stream (full header)
    the scanner + virtual store decode back within the encoder's
    accuracy tolerance. Non-float variables (int coords) store
    uncompressed and read back exactly."""
    from pangeo_forge_recipes_spark.hdf5io import read_hdf5

    ds = make_ds(nt=6)
    p = str(tmp_path / "zfp.h5")
    tol = 1e-4
    write_hdf5(
        p, ds, chunks={"time": 4}, compress="zfp",
        zfp_opts={"tolerance": tol},
    )
    refs = scan_hdf5(p)
    import json as _json

    foo_meta = _json.loads(refs["foo/zarr.json"])
    assert {"name": "hdf5-zfp"} in foo_meta["codecs"]
    back = read_hdf5(p)
    # lossy floats: bounded by the tolerance
    for name in ("foo",):
        got = back.data_vars[name].data
        want = ds.data_vars[name].data
        assert got.shape == want.shape and got.dtype == want.dtype
        assert float(np.max(np.abs(got - want))) <= tol
    # exact lat/lon float coords also ride zfp within tolerance
    np.testing.assert_allclose(
        back.coords["lat"].data, ds.coords["lat"].data, atol=tol
    )
    # integer-typed variables bypassed zfp and are EXACT
    np.testing.assert_array_equal(
        back.data_vars["bar"].data, ds.data_vars["bar"].data
    )
    # the compressed file is genuinely smaller than an uncompressed one
    p2 = str(tmp_path / "raw.h5")
    write_hdf5(p2, ds, chunks={"time": 4})
    assert os.path.getsize(p) < os.path.getsize(p2)


def test_hdf5_zfp_reversible_chunks_bit_exact(tmp_path):
    """zfp_opts={'reversible': True}: filter-32013 chunks carry
    long-form-mode reversible streams, and every float variable —
    including ones with NaN fills, which the lossy modes refuse —
    reads back BIT-exactly through the scanner + virtual store."""
    from pangeo_forge_recipes_spark.hdf5io import read_hdf5

    ds = make_ds(nt=6)
    ds.data_vars["foo"].data[0, 0, 0] = np.nan  # lossy modes refuse this
    p = str(tmp_path / "zfprev.h5")
    write_hdf5(
        p, ds, chunks={"time": 4}, compress="zfp",
        zfp_opts={"reversible": True},
    )
    back = read_hdf5(p)
    got = back.data_vars["foo"].data
    want = ds.data_vars["foo"].data
    np.testing.assert_array_equal(
        got.view(np.uint64 if got.dtype == np.float64 else np.uint32),
        want.view(np.uint64 if want.dtype == np.float64 else np.uint32),
    )
    np.testing.assert_array_equal(
        back.coords["lat"].data, ds.coords["lat"].data
    )


def test_hdf5_zfp_rate_and_precision_modes(tmp_path):
    """Fixed-rate and fixed-precision zfp modes round-trip through the
    HDF5 pipeline; rate mode yields the predictable compressed size."""
    from pangeo_forge_recipes_spark.hdf5io import read_hdf5
    from pangeo_forge_recipes_spark.zfpio import zfp_read_header

    rng = np.random.default_rng(7)
    data = rng.normal(size=(8, 12)).astype("float64")
    ds = NDDataset(
        {"v": Variable(("y", "x"), data)},
        {
            "y": Variable(("y",), np.arange(8, dtype="int64")),
            "x": Variable(("x",), np.arange(12, dtype="int64")),
        },
    )
    p = str(tmp_path / "rate.h5")
    write_hdf5(p, ds, compress="zfp", zfp_opts={"rate": 16})
    back = read_hdf5(p)
    assert float(np.max(np.abs(back["v"].data - data))) < 0.05
    # the chunk stream's own header records the mode
    refs = scan_hdf5(p)
    key = next(
        k for k, v in refs.items()
        if k.startswith("v/c/") and isinstance(v, list)
    )
    url, off, n = refs[key]
    with open(p, "rb") as f:
        f.seek(off)
        hdr = zfp_read_header(f.read(n))
    assert hdr.minbits == hdr.maxbits == 16 * 16  # rate * block size
    p2 = str(tmp_path / "prec.h5")
    write_hdf5(p2, ds, compress="zfp", zfp_opts={"precision": 40})
    back2 = read_hdf5(p2)
    assert float(np.max(np.abs(back2["v"].data - data))) < 1e-6


def test_hdf5_zfp_composition_gates(tmp_path):
    """zfp + any other filter raises at write AND at scan (a stacked
    byte filter around a typed zfp stream has no archive presence)."""
    ds = make_ds(nt=2)
    with pytest.raises(ValueError, match="zfp composes with no other"):
        write_hdf5(
            str(tmp_path / "x.h5"), ds, compress="zfp", shuffle=True
        )


def test_hdf5_zfp_float16_falls_back_uncompressed(tmp_path):
    """float16 (no zfp coding path) stores uncompressed and EXACT
    instead of raising mid-write (r11 review finding), matching the
    szip gate's graceful-fallback contract."""
    from pangeo_forge_recipes_spark.hdf5io import read_hdf5

    ds = NDDataset(
        {"h": Variable(("x",), np.arange(8, dtype="float16"))},
        {"x": Variable(("x",), np.arange(8, dtype="int64"))},
    )
    p = str(tmp_path / "f16.h5")
    write_hdf5(p, ds, compress="zfp")
    back = read_hdf5(p)
    np.testing.assert_array_equal(back["h"].data, ds["h"].data)
    assert back["h"].data.dtype == np.dtype("float16")


def test_hdf5_zfp_nan_refused_loudly(tmp_path):
    """NaN fills cannot ride zfp (they would zero finite block
    neighbors silently); the writer surfaces the codec's named error."""
    data = np.arange(16, dtype="float64").reshape(4, 4)
    data[0, 0] = np.nan
    ds = NDDataset(
        {"v": Variable(("y", "x"), data)},
        {
            "y": Variable(("y",), np.arange(4, dtype="int64")),
            "x": Variable(("x",), np.arange(4, dtype="int64")),
        },
    )
    with pytest.raises(ValueError, match="NaN/Inf"):
        write_hdf5(str(tmp_path / "nan.h5"), ds, compress="zfp")


def test_store_to_zarr_from_zfp_netcdf4(spark, tmp_path):
    """The full pipeline over zfp-compressed netCDF4 sources: executors
    scan + decode filter-32013 chunks through the virtual store and the
    rechunk shuffle writes a lossless zarr copy whose values sit within
    the encoder's tolerance of the original."""
    tol = 1e-6
    ds = make_ds(nt=6)
    paths = []
    for i, start in enumerate(range(0, 6, 2)):
        p = str(tmp_path / f"z{i}.h5")
        write_hdf5(
            p, ds.isel(time=slice(start, start + 2)),
            chunks={"time": 2}, compress="zfp", zfp_opts={"tolerance": tol},
        )
        paths.append(p)
    pattern = pattern_from_file_sequence(
        paths, "time", nitems_per_file=2, file_type="netcdf4"
    )
    result = store_to_zarr(
        spark, pattern, str(tmp_path), "zfp.zarr", target_chunks={"time": 3}
    )
    rt = result.open()
    np.testing.assert_allclose(
        rt.data_vars["foo"].data, ds.data_vars["foo"].data, atol=tol
    )
    # int64 bar bypassed zfp in the writer and survives exactly
    np.testing.assert_array_equal(
        rt.data_vars["bar"].data, ds.data_vars["bar"].data
    )
    assert rt.sizes == ds.sizes
