"""Property-based tests (hypothesis) for the pure kernels: randomized
split→combine identity over arbitrary file layouts and target chunkings,
chunk-grid index-space inverses, and netcdf3 container round-trips.
Goes beyond the reference's test strategy (it has no property tests —
SURVEY §5) to pin the invariants the distributed pipeline relies on."""

from __future__ import annotations

import io
import math

import numpy as np
from hypothesis import given, settings, strategies as st

from pangeo_forge_recipes_spark.chunk_grid import ChunkGrid
from pangeo_forge_recipes_spark.ndset import NDDataset, Variable, assert_equal
from pangeo_forge_recipes_spark.netcdf3 import read_netcdf3, write_netcdf3
from pangeo_forge_recipes_spark.patterns import augment_index_with_start_stop
from pangeo_forge_recipes_spark.rechunking import combine_fragments, split_fragment
from pangeo_forge_recipes_spark.types import (
    CombineOp,
    Dimension,
    Index,
    Position,
)


def _make_1d_ds(n: int, start: int = 0) -> NDDataset:
    x = np.arange(start, start + n, dtype="int32")
    data = (x * 7 + 3).astype("float64")
    return NDDataset(
        {"v": Variable(("x",), data)},
        {"x": Variable(("x",), x)},
        {},
        {"x": n},
    )


@st.composite
def _splits(draw):
    """Random total length, random file boundaries, random target chunk."""
    total = draw(st.integers(min_value=1, max_value=40))
    nfiles = draw(st.integers(min_value=1, max_value=min(total, 6)))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=total - 1),
                max_size=nfiles - 1,
                unique=True,
            )
        )
    ) if total > 1 else []
    bounds = list(zip([0] + cuts, cuts + [total]))
    chunk = draw(st.integers(min_value=1, max_value=total))
    return total, bounds, chunk


@given(_splits())
@settings(max_examples=60, deadline=None)
def test_split_combine_identity_1d(layout):
    """Any file layout × any target chunking reassembles the original."""
    total, bounds, chunk = layout
    dim = Dimension("x", CombineOp.CONCAT)
    item_lens = [b - a for a, b in bounds]

    # split every file fragment by target chunk, bucket by group key
    groups: dict = {}
    for pos, (a, b) in enumerate(bounds):
        index = Index(
            {dim: augment_index_with_start_stop(Position(pos), item_lens)}
        )
        ds = _make_1d_ds(b - a, start=a)
        for key, sub in split_fragment(
            (index, ds), target_chunks={"x": chunk}
        ):
            groups.setdefault(key, []).append(sub)

    # each group must combine into exactly its target chunk
    n_chunks = math.ceil(total / chunk)
    assert len(groups) == n_chunks
    recombined = {}
    for key, frags in groups.items():
        idx, ds = combine_fragments(key, frags)
        (chunk_idx,) = [i for (_, i) in key]
        start = chunk_idx * chunk
        expect_len = min(chunk, total - start)
        assert ds.sizes["x"] == expect_len
        np.testing.assert_array_equal(
            ds.coords["x"].data, np.arange(start, start + expect_len)
        )
        recombined[chunk_idx] = ds
    # full concatenation equals the original sequence
    full = np.concatenate(
        [recombined[i].data_vars["v"].data for i in range(n_chunks)]
    )
    np.testing.assert_array_equal(full, _make_1d_ds(total).data_vars["v"].data)


@given(
    shape=st.integers(min_value=1, max_value=1000),
    chunk=st.integers(min_value=1, max_value=1000),
)
@settings(max_examples=80, deadline=None)
def test_chunk_axis_inverse(shape, chunk):
    """array index → chunk index → chunk slice is a consistent inverse."""
    chunk = min(chunk, shape)
    axis = ChunkGrid.from_uniform_grid({"x": (chunk, shape)}).axes["x"]
    covered = 0
    for i in range(axis.nchunks):
        sl = axis.chunk_index_to_array_slice(i)
        assert sl.start == covered
        covered = sl.stop
        # every element of the slice maps back to chunk i
        for j in (sl.start, sl.stop - 1):
            assert axis.array_index_to_chunk_index(j) == i
    assert covered == shape


@st.composite
def _small_datasets(draw):
    nx = draw(st.integers(min_value=1, max_value=8))
    ny = draw(st.integers(min_value=1, max_value=8))
    dtype = draw(st.sampled_from(["float64", "float32", "int32", "int16", "int8"]))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.RandomState(seed)
    if dtype.startswith("float"):
        data = rng.standard_normal((nx, ny)).astype(dtype)
    else:
        info = np.iinfo(dtype)
        data = rng.randint(info.min, info.max, size=(nx, ny)).astype(dtype)
    return NDDataset(
        {"v": Variable(("x", "y"), data, {"units": "widgets"})},
        {"x": Variable(("x",), np.arange(nx, dtype="float64"))},
        {"title": "prop"},
        {"x": nx, "y": ny},
    )


@given(_small_datasets())
@settings(max_examples=40, deadline=None)
def test_netcdf3_roundtrip_property(ds):
    buf = io.BytesIO()
    write_netcdf3(buf, ds)
    buf.seek(0)
    assert_equal(read_netcdf3(buf), ds)


@given(
    st.lists(
        st.integers(min_value=-(10**12), max_value=10**12),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
@settings(max_examples=25, deadline=None)
def test_sample_bucket_matches_reference_impl(ids):
    """The dialect-rendered md5 sampling bucket must equal an independent
    hashlib reimplementation for arbitrary ids (DuckDB evaluates the
    rendered SQL; Spark↔DuckDB equality is pinned separately by the
    sample_split_stats oracle)."""
    import hashlib

    import duckdb

    from pangeo_forge_recipes_spark.functions.textexprs import TextExprs

    e = TextExprs("duckdb")
    expr = e.sample_bucket(e._f("str", x="id"), 100)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in ids])
    got = dict(con.execute(f"SELECT id, {expr} FROM t").fetchall())
    for i in ids:
        expect = int(hashlib.md5(str(i).encode()).hexdigest()[:3], 16) % 100
        assert got[i] == expect, (i, got[i], expect)


# ---------------------------------------------------------------------------
# JPEG2000 codec (jp2kio): lossless round-trip over randomized images
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    depth=st.integers(1, 16),
    levels=st.integers(0, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_j2k_lossless_roundtrip_property(w, h, depth, levels, seed):
    import numpy as np

    from pangeo_forge_recipes_spark.jp2kio import decode_j2k, encode_j2k

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 1 << depth, size=(h, w)).astype(np.int64)
    out, d, signed = decode_j2k(encode_j2k(img, depth=depth, levels=levels))
    assert d == depth and not signed
    np.testing.assert_array_equal(out, img)


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 200),
    seed=st.integers(0, 2**31 - 1),
)
def test_dwt53_perfect_reconstruction_property(n, seed):
    import numpy as np

    from pangeo_forge_recipes_spark.jp2kio import _fwd53_1d, _inv53_1d

    rng = np.random.RandomState(seed)
    x = rng.randint(-(2**20), 2**20, size=n).astype(np.int64)
    lo, hi = _fwd53_1d(x, 0)
    np.testing.assert_array_equal(_inv53_1d(lo, hi, 0), x)


@settings(max_examples=20, deadline=None)
@given(
    nbits=st.integers(1, 500),
    seed=st.integers(0, 2**31 - 1),
)
def test_mq_coder_roundtrip_property(nbits, seed):
    import numpy as np

    from pangeo_forge_recipes_spark.jp2kio import MQDecoder, MQEncoder, N_CTX

    rng = np.random.RandomState(seed)
    bits = (rng.rand(nbits) < rng.uniform(0.05, 0.95)).astype(int)
    ctxs = rng.randint(0, N_CTX, size=nbits)
    enc = MQEncoder()
    for b, cx in zip(bits, ctxs):
        enc.encode(int(b), int(cx))
    dec = MQDecoder(enc.flush())
    assert [dec.decode(int(c)) for c in ctxs] == list(bits)


# ---------------------------------------------------------------------------
# WARC record round-trip over randomized records
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 8),
    compress=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_warc_roundtrip_property(tmp_path_factory, n, compress, seed):
    import os

    import numpy as np

    from pangeo_forge_recipes_spark.sources.warc import (
        parse_warc_records,
        write_warc,
    )

    rng = np.random.RandomState(seed)
    recs = []
    for i in range(n):
        body = rng.bytes(int(rng.randint(0, 2000)))
        if rng.rand() < 0.5:
            recs.append(
                {
                    "warc_type": "response",
                    "target_uri": f"http://h{i}.test/p{i}",
                    "http": {
                        "status": int(rng.choice([200, 301, 404])),
                        "content_type": "text/html",
                        "payload": body,
                    },
                }
            )
        else:
            recs.append(
                {
                    "warc_type": str(rng.choice(["resource", "metadata"])),
                    "content_type": "application/octet-stream",
                    "body": body,
                }
            )
    tmp = tmp_path_factory.mktemp("warcp")
    path = os.path.join(str(tmp), "t.warc.gz" if compress else "t.warc")
    write_warc(path, recs, compress=compress)
    parsed = list(parse_warc_records(open(path, "rb").read()))
    assert len(parsed) == n
    for rec, want in zip(parsed, recs):
        assert rec["warc-type"] == want["warc_type"]
        if "http" in want:
            assert rec["body"].endswith(want["http"]["payload"])
            assert rec["body"].startswith(b"HTTP/1.1")
        else:
            assert rec["body"] == want["body"]
        assert int(rec["content-length"]) == len(rec["body"])


# ---------------------------------------------------------------------------
# Bloom filter: no false negatives, bounded false positives (randomized)
# ---------------------------------------------------------------------------


@settings(max_examples=20, deadline=None)
@given(
    n=st.integers(1, 300),
    fpp=st.sampled_from([0.1, 0.01, 0.001]),
    seed=st.integers(0, 2**31 - 1),
)
def test_bloom_membership_property(n, fpp, seed):
    import numpy as np

    from pangeo_forge_recipes_spark.operators.bloom import (
        _positions,
        bloom_contains,
        bloom_params,
    )

    rng = np.random.RandomState(seed)
    m, k = bloom_params(n, fpp)
    words = np.zeros(m // 64, dtype=np.uint64)
    items = [f"item-{seed}-{i}" for i in range(n)]
    for it in items:
        pos = _positions(it, m, k)
        np.bitwise_or.at(
            words, pos // np.uint64(64),
            np.uint64(1) << (pos % np.uint64(64)),
        )
    # zero false negatives, always
    assert all(bloom_contains(words, m, k, it) for it in items)
    # false-positive rate within a generous margin of the design point
    probes = 2000
    fp = sum(
        bloom_contains(words, m, k, f"absent-{seed}-{j}") for j in range(probes)
    )
    assert fp / probes <= max(5 * fpp, 0.01)


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 400),
    bpp=st.sampled_from([8, 16, 32]),
    ppb=st.sampled_from([2, 8, 16, 32]),
    nn=st.booleans(),
    msb=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_szip_round_trip_property(n, bpp, ppb, nn, msb, seed):
    import numpy as np

    from pangeo_forge_recipes_spark import szip as S

    rng = np.random.RandomState(seed)
    mask = (S.SZ_NN_OPTION_MASK if nn else S.SZ_EC_OPTION_MASK) | (
        S.SZ_MSB_OPTION_MASK if msb else S.SZ_LSB_OPTION_MASK
    )
    dt = {8: "u1", 16: "u2", 32: "u4"}[bpp]
    order = ">" if msb else "<"
    data = rng.randint(0, 1 << min(bpp, 31), n).astype(
        np.dtype(f"{order}{dt}") if bpp > 8 else np.uint8
    ).tobytes()
    pps = min(128 * ppb, max(ppb, 4 * ppb))
    enc = S.szip_compress(data, mask, bpp, ppb, pps)
    assert S.szip_decompress(enc, n, mask, bpp, ppb, pps) == data


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    depth=st.sampled_from([8, 12, 16]),
    pred=st.integers(1, 7),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_lossless_property(h, w, depth, pred, seed):
    import numpy as np

    from pangeo_forge_recipes_spark import jpegio as J

    rng = np.random.RandomState(seed)
    dt = np.uint8 if depth == 8 else np.uint16
    img = rng.randint(0, 1 << depth, (h, w)).astype(dt)
    enc = J.encode_jpeg_lossless(img, precision=depth, predictor=pred)
    np.testing.assert_array_equal(J.decode_jpeg(enc), img)


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(4, 40),
    w=st.integers(4, 40),
    th=st.integers(2, 40),
    tw=st.integers(2, 40),
    levels=st.integers(0, 3),
    seed=st.integers(0, 2**31 - 1),
)
def test_j2k_tiled_lossless_property(h, w, th, tw, levels, seed):
    import numpy as np

    from pangeo_forge_recipes_spark import jp2kio as J

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 1 << 10, (h, w)).astype(np.int64)
    enc = J.encode_j2k(img, depth=10, levels=levels, tile_size=(th, tw))
    dec, depth, signed = J.decode_j2k(enc)
    np.testing.assert_array_equal(dec, img)


@given(
    n_elem=st.integers(0, 200),
    elem_size=st.sampled_from([1, 2, 4, 8]),
    block_elems=st.sampled_from([0, 8, 16, 64]),
    comp=st.sampled_from(["none", "lz4", "zstd"]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_hdf5_bitshuffle_roundtrip_property(n_elem, elem_size, block_elems, comp, seed):
    """The 32008 filter inverts for every elem size / block size /
    internal compression, including partial last blocks and raw n%8
    tails, and the no-compression variant preserves length."""
    from pangeo_forge_recipes_spark.hdf5io import (
        hdf5_bitshuffle_compress,
        hdf5_bitshuffle_decompress,
    )

    rng = np.random.default_rng(seed)
    data = rng.integers(0, 256, size=n_elem * elem_size, dtype=np.uint8).tobytes()
    enc = hdf5_bitshuffle_compress(data, elem_size, comp, block_elems)
    if comp == "none":
        assert len(enc) == len(data)
    assert hdf5_bitshuffle_decompress(enc, elem_size, comp, block_elems) == data


@given(
    n_parts=st.integers(0, 6),
    sizes=st.lists(st.integers(0, 2048), min_size=0, max_size=6),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_store_put_parts_equals_put(tmp_path_factory, n_parts, sizes, seed):
    """LocalStore.put_parts (streaming shard members) must produce the
    byte-identical object that put(b''.join(parts)) would."""
    from pangeo_forge_recipes_spark.zarrio import LocalStore

    rng = np.random.default_rng(seed)
    parts = [
        rng.integers(0, 256, size=s, dtype=np.uint8).tobytes()
        for s in sizes[:n_parts] or sizes
    ]
    root = tmp_path_factory.mktemp("pp")
    store = LocalStore(str(root))
    store.put("a/joined", b"".join(parts))
    store.put_parts("a/parts", parts)
    assert store.get("a/parts") == store.get("a/joined")


@given(
    sp_lat=st.floats(-89.0, 89.0),
    sp_lon=st.floats(-180.0, 359.0),
    rlat=st.floats(-89.0, 89.0),
    rlon=st.floats(-179.0, 179.0),
)
@settings(max_examples=60, deadline=None)
def test_rotated_grid_preserves_distances(sp_lat, sp_lon, rlat, rlon):
    """The 3.1 unrotation is a rigid rotation of the sphere: the angular
    distance of any rotated point to the rotated SOUTH pole must equal
    the angular distance of its geographic image to the southern pole's
    geographic position."""
    from pangeo_forge_recipes_spark.grib2io import _rotated_grid

    def ang(lat1, lon1, lat2, lon2):
        p1, p2 = np.radians(lat1), np.radians(lat2)
        dl = np.radians(lon2 - lon1)
        return np.degrees(
            np.arccos(
                np.clip(
                    np.sin(p1) * np.sin(p2) + np.cos(p1) * np.cos(p2) * np.cos(dl),
                    -1.0, 1.0,
                )
            )
        )

    msg = {
        "sp_lat": sp_lat, "sp_lon": sp_lon, "rot_angle": 0.0,
        "la1": rlat, "la2": rlat, "lo1": rlon, "lo2": rlon, "nj": 1, "ni": 1,
    }
    _, _, lat, lon = _rotated_grid(msg)
    want = ang(rlat, rlon, -90.0, 0.0)  # distance to the rotated south pole
    got = ang(lat[0, 0], lon[0, 0], sp_lat, sp_lon)
    np.testing.assert_allclose(got, want, atol=1e-7)


@given(st.binary(min_size=0, max_size=4000))
@settings(max_examples=200, deadline=None)
def test_fletcher32_property(data):
    """Vectorized blocked Fletcher-32 == the literal HDF5 word loop for
    arbitrary byte strings (incl. odd lengths and reduction-block
    boundaries)."""
    from pangeo_forge_recipes_spark.hdf5io import hdf5_fletcher32

    from .test_hdf5io import _fletcher32_reference

    assert hdf5_fletcher32(data) == _fletcher32_reference(data)


@given(
    st.binary(min_size=0, max_size=600),
    st.integers(min_value=2, max_value=16),
)
@settings(max_examples=200, deadline=None)
def test_hdf5_shuffle_remainder_involution(data, es):
    """The HDF5-semantics shuffle (transpose first floor(n/es)*es bytes,
    tail verbatim) inverts exactly — the invariant the inner-fletcher32
    trailer relies on."""
    n = len(data) // es * es

    def fwd(buf):
        if not n:
            return buf
        return (
            np.frombuffer(buf[:n], dtype=np.uint8)
            .reshape(-1, es)
            .T.tobytes()
            + buf[n:]
        )

    def inv(buf):
        if not n:
            return buf
        return (
            np.frombuffer(buf[:n], dtype=np.uint8)
            .reshape(es, -1)
            .T.tobytes()
            + buf[n:]
        )

    assert inv(fwd(data)) == data


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Nd"), whitelist_characters="._-"
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    ),
    st.sampled_from(["*", "?", "[ab]", "x", "*x", "x*"]),
)
@settings(max_examples=150, deadline=None)
def test_glob_regex_single_level_property(segments, meta):
    """The object-store glob translator never lets '*'/'?' cross '/'
    and agrees with fnmatch on single-segment inputs."""
    import fnmatch
    import re

    from pangeo_forge_recipes_spark.storage import _glob_to_regex

    # single-level agreement with fnmatch when no '/' is involved
    name = segments[0]
    pat = meta
    ours = re.compile(_glob_to_regex(pat))
    assert bool(ours.match(name)) == fnmatch.fnmatchcase(name, pat)
    # a pattern for the last segment must never match a DEEPER key
    deep = "/".join(segments + [segments[0]])
    prefix_pat = "/".join(segments[:-1] + [meta]) if len(segments) > 1 else meta
    ours2 = re.compile(_glob_to_regex(prefix_pat))
    assert not ours2.match(deep)


@given(
    st.integers(min_value=1, max_value=3),
    st.sampled_from(["<f8", "<i4", ">i2", "<u8", "M8[ns]"]),
    st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=100, deadline=None)
def test_spill_wire_property(ndim, dtype, seed):
    """NDS1 round-trip of a single-variable piece (the frame the spill
    shuffle ships) for arbitrary small shapes/dtypes."""
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable

    rng = np.random.RandomState(seed % (2**31))
    shape = tuple(rng.randint(1, 4) for _ in range(ndim))
    if dtype == "M8[ns]":
        arr = rng.randint(0, 2**40, size=shape).astype("int64").view("M8[ns]")
    else:
        arr = rng.randint(-100, 100, size=shape).astype(np.dtype(dtype))
    dims = tuple(f"d{i}" for i in range(ndim))
    var = Variable(dims, arr)
    single = NDDataset({"v": var}, {}, {}, dict(var.sizes))
    back = NDDataset.from_bytes(single.to_bytes())
    got = back.data_vars["v"]
    assert got.dims == dims and got.data.dtype == arr.dtype
    np.testing.assert_array_equal(np.asarray(got.data), np.asarray(arr))
