"""OPeNDAP/DAP4: pure-Python chunked-wire client against a real (local,
threaded) HTTP server, protocol negotiation on the ``opendap`` FileType
row, DMR++ sidecar scanning, and the Zarr pipeline end-to-end from DAP4
sources (reference parity: the netcdf4 engine's DAP client speaks both
protocols, reference ``openers.py:40-47``)."""

from __future__ import annotations

import json
import zlib

import numpy as np
import pytest

from pangeo_forge_recipes_spark import pattern_from_file_sequence, store_to_zarr
from pangeo_forge_recipes_spark.aggregation import dataset_to_schema
from pangeo_forge_recipes_spark.dap4io import (
    _PROTOCOL_CACHE,
    Dap4Server,
    dap4_schema,
    dap_schema,
    open_dap,
    parse_dmr,
    read_dap4,
    scan_dmrpp,
    serve_ndsets_dap4,
)
from pangeo_forge_recipes_spark.ndset import NDDataset, Variable, assert_equal
from pangeo_forge_recipes_spark.openers import open_with_ndset, read_schema
from pangeo_forge_recipes_spark.patterns import FileType

from .data_generation import make_ds
from .local_frames import assert_local_scan


@pytest.fixture(scope="module")
def served():
    ds = make_ds(nt=6, non_dim_coords=False)
    parts = {f"part{i}": ds.isel(time=slice(2 * i, 2 * i + 2)) for i in range(3)}
    with serve_ndsets_dap4({"full": ds, **parts}) as srv:
        yield srv, ds


def test_read_round_trip(served):
    srv, ds = served
    got = read_dap4(srv.url_for("full"))
    assert_equal(got, ds)
    # DAP4 has native 64-bit ints — bar keeps its dtype (DAP2 widened
    # it to Float64)
    assert got.data_vars["bar"].data.dtype == np.dtype("i8")
    assert got.coords["time"].data.dtype == np.dtype("M8[ns]")
    assert got.coords["time"].encoding["units"] == "days since 2010-01-01"


def test_checksums_verified(served):
    srv, ds = served
    got = read_dap4(srv.url_for("full"), checksums=True)
    assert_equal(got, ds)


def test_projection_and_hyperslabs(served):
    srv, ds = served
    got = read_dap4(srv.url_for("full"), projection=["foo", "time"])
    assert set(got.data_vars) == {"foo"}
    np.testing.assert_allclose(
        got.data_vars["foo"].data, ds.data_vars["foo"].data
    )
    # isel builds dap4.ce hyperslabs — only the subset crosses the wire
    sub = read_dap4(srv.url_for("full"), isel={"time": slice(1, 4)})
    assert sub.sizes["time"] == 3
    np.testing.assert_allclose(
        sub.data_vars["foo"].data, ds.data_vars["foo"].data[1:4]
    )
    np.testing.assert_array_equal(
        sub.coords["time"].data, ds.coords["time"].data[1:4]
    )
    # double constraint on the same dim raises, like the DAP2 client
    with pytest.raises(ValueError, match="isel also constrains"):
        read_dap4(
            srv.url_for("full"),
            projection=["foo[0:1:3][0:1:17][0:1:35]"],
            isel={"time": slice(0, 2)},
        )


def test_schema_matches_full_open(served):
    srv, ds = served
    sch = dap4_schema(srv.url_for("full"))
    full = dataset_to_schema(read_dap4(srv.url_for("full")))
    assert sch["dims"] == full["dims"]
    assert sorted(sch["coords"]) == sorted(full["coords"])
    assert sorted(sch["data_vars"]) == sorted(full["data_vars"])
    assert sch["coords"]["time"]["dtype"] == "datetime64[ns]"
    assert sch["data_vars"]["foo"]["shape"] == [6, 18, 36]
    assert sch["attrs"]["conventions"] == "CF 1.6"


def test_negotiation_and_openers_route(served):
    """The opendap FileType row auto-negotiates: a DAP4 server gets the
    DAP4 client (int64 preserved), a DAP2-only server falls back."""
    from pangeo_forge_recipes_spark.dap2io import serve_ndsets

    srv, ds = served
    got = open_with_ndset(srv.url_for("full"), file_type=FileType.opendap)
    assert _PROTOCOL_CACHE[srv.url_for("full")] == "dap4"
    assert_equal(got, ds)
    assert got.data_vars["bar"].data.dtype == np.dtype("i8")
    sch = read_schema(srv.url_for("full"), file_type=FileType.opendap)
    assert sch["dims"] == {"time": 6, "lat": 18, "lon": 36}
    # DAP2-only endpoint: .dmr 404s, negotiation falls back, open works
    with serve_ndsets({"d2": ds}) as old:
        got2 = open_with_ndset(old.url_for("d2"), file_type=FileType.opendap)
        assert _PROTOCOL_CACHE[old.url_for("d2")] == "dap2"
        assert_equal(got2, ds)
        assert got2.data_vars["bar"].data.dtype == np.dtype("f8")  # widened
        # pinning the protocol skips negotiation
        got3 = open_dap(old.url_for("d2"), protocol="dap2")
        assert_equal(got3, ds)


def test_int64_and_small_types_native(served):
    ds = NDDataset(
        {
            "i1": Variable(("x",), np.array([-3, 0, 7, 1, -1], dtype="i1")),
            "i2": Variable(("x",), np.array([-3, 0, 7, 1000, -1000], dtype="i2")),
            "u2": Variable(("x",), np.array([0, 9, 65535, 1, 2], dtype="u2")),
            "i8": Variable(
                ("x",), np.array([2**40, -(2**40), 0, 1, -1], dtype="i8")
            ),
            "u8": Variable(("x",), np.array([2**63, 0, 1, 2, 3], dtype="u8")),
        },
        {"x": Variable(("x",), np.arange(5, dtype="i4"))},
        {"note": "dap4 native widths"},
        {"x": 5},
    )
    with serve_ndsets_dap4({"t": ds}) as srv:
        got = read_dap4(srv.url_for("t"), checksums=True)
    assert_equal(got, ds)
    for n, dt in [("i1", "i1"), ("i2", "i2"), ("u2", "u2"), ("i8", "i8"), ("u8", "u8")]:
        assert got.data_vars[n].data.dtype == np.dtype(dt), n


def test_parse_dmr_shapes():
    dmr = parse_dmr(
        '<Dataset xmlns="http://xml.opendap.org/ns/DAP/4.0#" name="d">\n'
        '  <Dimension name="time" size="4"/>\n'
        '  <Dimension name="y" size="2"/>\n'
        '  <Float32 name="air">\n'
        '    <Dim name="/time"/>\n'
        '    <Dim name="/y"/>\n'
        '    <Attribute name="units" type="String"><Value>K</Value></Attribute>\n'
        '    <Attribute name="levels" type="Int32">'
        "<Value>1</Value><Value>2</Value></Attribute>\n"
        "  </Float32>\n"
        '  <Int64 name="anon"><Dim size="7"/></Int64>\n'
        '  <Attribute name="title" type="String"><Value>t</Value></Attribute>\n'
        "</Dataset>"
    )
    assert dmr["dims"] == {"time": 4, "y": 2}
    air = dmr["vars"][0]
    assert air["dims"] == [("time", 4), ("y", 2)]
    assert air["attrs"] == {"units": "K", "levels": [1, 2]}
    assert dmr["vars"][1]["dims"] == [(None, 7)]
    assert dmr["attrs"] == {"title": "t"}
    with pytest.raises(NotImplementedError, match="Structure"):
        parse_dmr(
            '<Dataset xmlns="http://xml.opendap.org/ns/DAP/4.0#" name="d">'
            '<Structure name="s"/></Dataset>'
        )


def test_store_to_zarr_from_dap4(spark, served, tmp_path):
    """The narr_opendap feedstock shape over DAP4: remote endpoints
    straight into StoreToZarr, opens running inside executors."""
    srv, ds = served
    urls = [srv.url_for(f"part{i}") for i in range(3)]
    pattern = pattern_from_file_sequence(
        urls, "time", nitems_per_file=2, file_type="opendap"
    )
    result = store_to_zarr(
        spark, pattern, str(tmp_path), "dap4.zarr", target_chunks={"time": 3}
    )
    assert_equal(result.open(), ds)


# ---------------------------------------------------------------------------
# DMR++ sidecar scanning
# ---------------------------------------------------------------------------


def _dmrpp_doc(href: str, payload_offsets, deflate: bool) -> str:
    comp = ' compressionType="deflate"' if deflate else ""
    chunks0 = "".join(
        f'<dmrpp:chunk chunkPositionInArray="[{4 * i},0]" '
        f'offset="{off}" nBytes="{n}"/>'
        for i, (off, n) in enumerate(payload_offsets["air"])
    )
    t_off, t_n = payload_offsets["time"][0]
    return (
        '<Dataset xmlns="http://xml.opendap.org/ns/DAP/4.0#" '
        'xmlns:dmrpp="http://xml.opendap.org/dap/dmrpp/1.0.0#" '
        f'name="d" dmrpp:href="{href}">\n'
        '  <Dimension name="time" size="8"/>\n'
        '  <Dimension name="y" size="3"/>\n'
        '  <Float64 name="air">\n'
        '    <Dim name="/time"/><Dim name="/y"/>\n'
        '    <Attribute name="units" type="String"><Value>K</Value></Attribute>\n'
        f"    <dmrpp:chunks{comp}>\n"
        "      <dmrpp:chunkDimensionSizes>4 3</dmrpp:chunkDimensionSizes>\n"
        f"      {chunks0}\n"
        "    </dmrpp:chunks>\n"
        "  </Float64>\n"
        '  <Int64 name="time">\n'
        '    <Dim name="/time"/>\n'
        "    <dmrpp:chunks>\n"
        f'      <dmrpp:chunk offset="{t_off}" nBytes="{t_n}"/>\n'
        "    </dmrpp:chunks>\n"
        "  </Int64>\n"
        "</Dataset>"
    )


def test_scan_dmrpp_reads_back(tmp_path):
    """A DMR++ sidecar + raw data file = a readable virtual Zarr store
    with ZERO source reads at scan time."""
    from pangeo_forge_recipes_spark.kerchunkio import open_reference_dataset

    air = np.arange(24, dtype="<f8").reshape(8, 3)
    time = np.arange(8, dtype="<i8")
    blob = bytearray(b"HDR!")  # arbitrary leading bytes, like a real hdf5
    offs = {"air": [], "time": []}
    for block in (air[:4], air[4:]):
        raw = block.tobytes()
        offs["air"].append((len(blob), len(raw)))
        blob += raw
    offs["time"].append((len(blob), time.nbytes))
    blob += time.tobytes()
    data_path = tmp_path / "d.h5"
    data_path.write_bytes(bytes(blob))
    doc = _dmrpp_doc(f"file://{data_path}", offs, deflate=False)
    refs = scan_dmrpp(doc)
    back = open_reference_dataset(refs)
    np.testing.assert_array_equal(back["air"].data, air)
    np.testing.assert_array_equal(back["time"].data, time)
    assert back["air"].attrs["units"] == "K"


def test_scan_dmrpp_deflate_chunks(tmp_path):
    """compressionType="deflate" maps onto the gzip codec the HDF5
    scanner uses — compressed chunks decode through the same chain."""
    from pangeo_forge_recipes_spark.kerchunkio import open_reference_dataset

    air = np.arange(24, dtype="<f8").reshape(8, 3)
    time = np.arange(8, dtype="<i8")
    blob = bytearray()
    offs = {"air": [], "time": []}
    for block in (air[:4], air[4:]):
        raw = zlib.compress(block.tobytes())
        offs["air"].append((len(blob), len(raw)))
        blob += raw
    offs["time"].append((len(blob), time.nbytes))
    blob += time.tobytes()
    data_path = tmp_path / "d.h5"
    data_path.write_bytes(bytes(blob))
    doc = _dmrpp_doc(f"file://{data_path}", offs, deflate=True)
    refs = scan_dmrpp(doc)
    meta = json.loads(refs["refs"]["air/zarr.json"])
    assert [c["name"] for c in meta["codecs"]] == ["bytes", "gzip"]
    back = open_reference_dataset(refs)
    np.testing.assert_array_equal(back["air"].data, air)
    # data_url override re-points at a mirror
    refs2 = scan_dmrpp(doc, data_url=f"file://{data_path}")
    assert refs2["refs"]["air/c/0/0"][0] == f"file://{data_path}"
    # unsupported filter gates by name
    with pytest.raises(NotImplementedError, match="szip"):
        scan_dmrpp(doc.replace('compressionType="deflate"',
                               'compressionType="szip"'))


def test_open_with_kerchunk_routes_dmrpp(tmp_path):
    """A .dmrpp url scans through the kerchunk opener surface: explicit
    data_url override, href-bearing docs, and the sits-next-to-its-data
    fallback for href-less docs."""
    from pangeo_forge_recipes_spark.kerchunkio import open_reference_dataset
    from pangeo_forge_recipes_spark.openers import open_with_kerchunk

    air = np.arange(24, dtype="<f8").reshape(8, 3)
    time = np.arange(8, dtype="<i8")
    blob = air[:4].tobytes() + air[4:].tobytes() + time.tobytes()
    offs = {
        "air": [(0, air[:4].nbytes), (air[:4].nbytes, air[4:].nbytes)],
        "time": [(air.nbytes, time.nbytes)],
    }
    data_path = tmp_path / "d.h5"
    data_path.write_bytes(blob)
    doc = _dmrpp_doc(f"file://{data_path}", offs, deflate=False)
    side = tmp_path / "d.h5.dmrpp"
    side.write_text(doc)
    refs = open_with_kerchunk(str(side))
    back = open_reference_dataset(refs[0])
    np.testing.assert_array_equal(back["air"].data, air)
    # href-less sidecar: falls back to <url minus .dmrpp>
    import re

    side2 = tmp_path / "d.h5.dmrpp2"  # keep d.h5.dmrpp intact
    doc_nohref = re.sub(r' dmrpp:href="[^"]*"', "", doc)
    (tmp_path / "d.h5.dmrpp").write_text(doc_nohref)
    refs2 = open_with_kerchunk(str(tmp_path / "d.h5.dmrpp"))
    assert refs2[0]["refs"]["air/c/0/0"][0] == str(tmp_path / "d.h5")


def test_endianness_latched_from_first_chunk_only():
    """Servers that set the little-endian header bit only on the FIRST
    chunk (libdap reads the byte order once) must not flip the decoder
    to big-endian on later chunks — that byte-swaps the data silently
    when checksums are off (the r10 advice finding)."""
    import struct as _struct

    from pangeo_forge_recipes_spark.dap4io import (
        _CHUNK_LAST,
        _CHUNK_LITTLE_ENDIAN,
        _chunk,
        _read_chunked,
    )

    dmr = b"<Dataset/>"
    d1, d2 = b"\x01\x00\x00\x00", b"\x02\x00\x00\x00"
    wire = (
        _chunk(_CHUNK_LITTLE_ENDIAN, dmr)  # byte-order bit here only
        + _chunk(0, d1)
        + _chunk(_CHUNK_LAST, d2)
    )
    text, data, little = _read_chunked(wire)
    assert text == "<Dataset/>"
    assert little is True
    assert _struct.unpack("<2i", data) == (1, 2)
    # and the reverse: a big-endian first chunk stays big-endian
    wire_be = _chunk(0, dmr) + _chunk(
        _CHUNK_LITTLE_ENDIAN | _CHUNK_LAST, d1
    )
    _, data_be, little_be = _read_chunked(wire_be)
    assert little_be is False and data_be == d1


def test_dmrpp_scan_errors_not_masked_by_href_fallback(tmp_path):
    """Only the missing-href case triggers the sits-next-to-its-data
    retry; a REAL scan defect (chunk position outside the array grid)
    propagates with its original message instead of being re-raised as
    a confusing second error from a pointless rescan (the r10 advice
    finding)."""
    from pangeo_forge_recipes_spark.openers import open_with_kerchunk

    doc = _dmrpp_doc(
        "file:///nonexistent.h5",
        {"air": [(0, 96)], "time": [(96, 64)]},
        deflate=False,
    )
    # corrupt the chunk position so scan_dmrpp raises mid-scan
    bad = doc.replace('chunkPositionInArray="[0,0]"', 'chunkPositionInArray="[99,0]"')
    assert bad != doc
    side = tmp_path / "bad.h5.dmrpp"
    side.write_text(bad)
    with pytest.raises(ValueError, match="outside|position"):
        open_with_kerchunk(str(side))


def test_scan_dmrpp_fixed_length_strings(tmp_path):
    """DMR++ String variables via dmrpp:FixedLengthStringArray + chunks
    (r11 VERDICT ask #2 — NASA Earthdata sidecars routinely carry
    String label/station variables): the chunk bytes are fixed-width
    records, mapped to the zarr v3 raw type r{8*length} and read back
    as NUL-stripped numpy bytes."""
    from pangeo_forge_recipes_spark.kerchunkio import open_reference_dataset
    from pangeo_forge_recipes_spark.dap4io import scan_dmrpp

    names = np.array([b"alpha", b"bo", b"charlie3", b"dd"], dtype="|S8")
    blob = bytearray(b"HDR!")
    offs = []
    for block in (names[:2], names[2:]):  # two chunks of 2 records
        raw = block.tobytes()
        offs.append((len(blob), len(raw)))
        blob += raw
    data_path = tmp_path / "s.h5"
    data_path.write_bytes(bytes(blob))
    doc = (
        '<Dataset xmlns="http://xml.opendap.org/ns/DAP/4.0#" '
        'xmlns:dmrpp="http://xml.opendap.org/dap/dmrpp/1.0.0#" '
        f'name="s" dmrpp:href="file://{data_path}">\n'
        '  <Dimension name="station" size="4"/>\n'
        '  <String name="station_name">\n'
        '    <Dim name="/station"/>\n'
        '    <dmrpp:FixedLengthStringArray string_length="8" pad="null_pad"/>\n'
        "    <dmrpp:chunks>\n"
        "      <dmrpp:chunkDimensionSizes>2</dmrpp:chunkDimensionSizes>\n"
        f'      <dmrpp:chunk chunkPositionInArray="[0]" offset="{offs[0][0]}" nBytes="{offs[0][1]}"/>\n'
        f'      <dmrpp:chunk chunkPositionInArray="[2]" offset="{offs[1][0]}" nBytes="{offs[1][1]}"/>\n'
        "    </dmrpp:chunks>\n"
        "  </String>\n"
        "</Dataset>"
    )
    refs = scan_dmrpp(doc)
    back = open_reference_dataset(refs)
    got = back["station_name"].data
    assert got.dtype == np.dtype("|S8")
    np.testing.assert_array_equal(got, names)


def test_scan_dmrpp_vlsa_and_compact(tmp_path):
    """dmrpp:vlsa (vlen values inlined in the sidecar, with c= run
    lengths) and dmrpp:compact (base64 raw buffer, compact-layout
    datasets) both read back with ZERO source-file bytes — the data
    file does not even exist."""
    import base64

    from pangeo_forge_recipes_spark.kerchunkio import open_reference_dataset
    from pangeo_forge_recipes_spark.dap4io import scan_dmrpp

    levels = np.array([1000.0, 850.0, 500.0], dtype="<f4")
    doc = (
        '<Dataset xmlns="http://xml.opendap.org/ns/DAP/4.0#" '
        'xmlns:dmrpp="http://xml.opendap.org/dap/dmrpp/1.0.0#" '
        'name="v" dmrpp:href="file:///nonexistent.h5">\n'
        '  <Dimension name="obs" size="4"/>\n'
        '  <Dimension name="lev" size="3"/>\n'
        '  <String name="site">\n'
        '    <Dim name="/obs"/>\n'
        "    <dmrpp:vlsa>\n"
        "      <dmrpp:v>Köln</dmrpp:v>\n"
        '      <dmrpp:v c="2">repeated-site</dmrpp:v>\n'
        "      <dmrpp:v></dmrpp:v>\n"
        "    </dmrpp:vlsa>\n"
        "  </String>\n"
        '  <Float32 name="level">\n'
        '    <Dim name="/lev"/>\n'
        f"    <dmrpp:compact>{base64.b64encode(levels.tobytes()).decode()}</dmrpp:compact>\n"
        "  </Float32>\n"
        '  <String name="title_parts">\n'
        '    <Dim name="/lev"/>\n'
        '    <dmrpp:FixedLengthStringArray string_length="4" pad="null_term"/>\n'
        f"    <dmrpp:compact>{base64.b64encode(np.array([b'abc', b'd', b'efgh'], dtype='|S4').tobytes()).decode()}</dmrpp:compact>\n"
        "  </String>\n"
        "</Dataset>"
    )
    refs = scan_dmrpp(doc)
    back = open_reference_dataset(refs)
    np.testing.assert_array_equal(
        np.array([b.decode("utf-8") for b in back["site"].data]),
        np.array(["Köln", "repeated-site", "repeated-site", ""]),
    )
    np.testing.assert_array_equal(back["level"].data, levels)
    np.testing.assert_array_equal(
        back["title_parts"].data, np.array([b"abc", b"d", b"efgh"], dtype="|S4")
    )


def test_scan_dmrpp_vlen_chunked_string_still_gates():
    """vlen strings WITH byte-range chunks are HDF5 global-heap
    references — unreadable without parsing the source, so the named
    refusal stays."""
    from pangeo_forge_recipes_spark.dap4io import scan_dmrpp

    doc = (
        '<Dataset xmlns="http://xml.opendap.org/ns/DAP/4.0#" '
        'xmlns:dmrpp="http://xml.opendap.org/dap/dmrpp/1.0.0#" '
        'name="g" dmrpp:href="file:///x.h5">\n'
        '  <Dimension name="n" size="2"/>\n'
        '  <String name="labels">\n'
        '    <Dim name="/n"/>\n'
        "    <dmrpp:chunks>\n"
        '      <dmrpp:chunk offset="0" nBytes="32"/>\n'
        "    </dmrpp:chunks>\n"
        "  </String>\n"
        "</Dataset>"
    )
    with pytest.raises(NotImplementedError, match="global-heap"):
        scan_dmrpp(doc)


# ---------------------------------------------------------------------------
# Sequences (r11 verdict ask #3 — station / in-situ observation feeds)
# ---------------------------------------------------------------------------


def _station_obs():
    return {
        "id": np.array([101, 102, 103, 104, 105], dtype="int32"),
        "temp": np.array([280.5, 281.0, 279.25, 300.0, 268.125]),
        "site": np.array(["nome", "utqiaġvik", "", "kodiak", "juneau"]),
    }


def test_sequence_roundtrip_and_schema():
    """A station-obs Sequence round-trips through the threaded server
    into a pandas frame; the .dmr schema read reports its fields with
    no payload transfer."""
    from pangeo_forge_recipes_spark.dap4io import read_dap4_sequence

    obs = _station_obs()
    with Dap4Server({}, sequences={"st": {"obs": obs}}) as srv:
        url = srv.url_for("st")
        schema = dap4_schema(url)
        assert schema["sequences"] == {
            "obs": {
                "fields": {"id": "int32", "temp": "float64", "site": "str"},
                "attrs": {},
            }
        }
        for cks in (False, True):
            df = read_dap4_sequence(url, checksums=cks)
            assert list(df.columns) == ["id", "temp", "site"]
            np.testing.assert_array_equal(df["id"].to_numpy(), obs["id"])
            np.testing.assert_array_equal(df["temp"].to_numpy(), obs["temp"])
            assert df["site"].tolist() == obs["site"].tolist()


def test_sequence_fixed_width_fast_path_and_grid_coexistence():
    """String-free Sequences decode through the one-frombuffer
    structured-dtype path; a dataset can serve grid variables AND a
    Sequence, with projections selecting either side."""
    from pangeo_forge_recipes_spark.dap4io import read_dap4_sequence

    grid = NDDataset(
        {"sst": Variable(("x",), np.arange(4.0))},
        {"x": Variable(("x",), np.arange(4, dtype="int64"))},
    )
    counts = {
        "k": np.array([1, 2, 3], dtype="int16"),
        "v": np.array([0.5, 1.5, 2.5], dtype="float32"),
    }
    with Dap4Server({"mix": grid}, sequences={"mix": {"tab": counts}}) as srv:
        url = srv.url_for("mix")
        df = read_dap4_sequence(url, name="tab", checksums=True)
        assert df["k"].dtype == np.dtype("int16")
        np.testing.assert_array_equal(df["v"].to_numpy(), counts["v"])
        # the grid side still reads when projected past the Sequence
        back = read_dap4(url, projection=["sst", "x"])
        np.testing.assert_array_equal(back.data_vars["sst"].data, np.arange(4.0))
        # unprojected grid read must refuse loudly, naming the tabular API
        with pytest.raises(NotImplementedError, match="read_dap4_sequence"):
            read_dap4(url)


def test_sequence_to_spark_dataframe(spark):
    """Many endpoints, one Spark DataFrame: schema fixed by one .dmr
    read, each endpoint decoded in its own task."""
    from pangeo_forge_recipes_spark.dap4io import dap4_sequences_to_df

    obs = _station_obs()
    half = {k: v[:2] for k, v in obs.items()}
    with Dap4Server(
        {}, sequences={"a": {"obs": obs}, "b": {"obs": half}}
    ) as srv:
        df = dap4_sequences_to_df(
            spark, [srv.url_for("a"), srv.url_for("b")], include_url=True
        )
        assert_local_scan(df)
        assert [f.simpleString() for f in df.schema.fields] == [
            "id:int", "temp:double", "site:string", "__url__:string",
        ]
        rows = df.collect()
        assert len(rows) == 7
        by_url = {}
        for r in rows:
            by_url.setdefault(r["__url__"], []).append(r["id"])
        assert sorted(len(v) for v in by_url.values()) == [2, 5]


def test_sequence_hyperslab_projection_raises_not_silent():
    """dap4.ce=obs[0:2] on a Sequence must come back as a DAP error,
    never a silently-empty response (r12 review finding: the qualified
    name fell through both the array and sequence projection branches)."""
    obs = {"k": np.array([1, 2], dtype="int32")}
    with Dap4Server({}, sequences={"st": {"obs": obs}}) as srv:
        # the server answers with a DAP ERROR chunk carrying the named
        # refusal; the client surfaces it as the error-chunk RuntimeError
        with pytest.raises(RuntimeError, match="Sequence"):
            read_dap4(srv.url_for("st"), projection=["obs[0:1]"])


def test_sequence_truncated_crc_trailer_is_valueerror():
    """A response cut off before the 4-byte CRC raises the module's
    ValueError contract, not a bare struct.error (r12 review finding)."""
    from pangeo_forge_recipes_spark.dap4io import _decode_sequence

    fields = [{"name": "k", "type": "Int32"}]
    payload = (
        np.uint64(2).tobytes() + np.array([7, 9], dtype="<i4").tobytes()
    )
    with pytest.raises(ValueError, match="CRC-32 trailer"):
        _decode_sequence(payload, 0, "<", fields, checksums=True)


def test_sequence_gates_still_named():
    """Nested Sequences and array-dim fields stay named refusals."""
    nested = (
        '<Dataset xmlns="http://xml.opendap.org/ns/DAP/4.0#" name="n">'
        '<Sequence name="outer"><Sequence name="inner"/></Sequence>'
        "</Dataset>"
    )
    with pytest.raises(NotImplementedError, match="nested"):
        parse_dmr(nested)
    dimmed = (
        '<Dataset xmlns="http://xml.opendap.org/ns/DAP/4.0#" name="n">'
        '<Dimension name="d" size="3"/>'
        '<Sequence name="s"><Int32 name="prof"><Dim name="/d"/></Int32>'
        "</Sequence></Dataset>"
    )
    with pytest.raises(NotImplementedError, match="scalar fields"):
        parse_dmr(dimmed)


def test_string_variable_roundtrip():
    """DAP4 String arrays (r10 VERDICT ask #6 — station/label coords,
    the most common non-array payload on public THREDDS servers):
    counted-vlen wire format (u64 count + UTF-8 bytes per element,
    response byte order), checksum coverage, hyperslabs, and the
    metadata-only schema read."""
    ds = NDDataset(
        {
            "temp": Variable(
                ("station",), np.array([280.0, 281.5, 279.25, 300.0])
            ),
            "name2d": Variable(
                ("station", "rep"),
                np.array([["a", "bb"], ["ccc", "dddd"],
                          ["ünïcødé", ""], ["x", "yy"]]),
            ),
        },
        {
            "station": Variable(
                ("station",),
                np.array(["KORD", "KSEA", "PAFA", "EGLL"]),
                {"long_name": "ICAO identifier"},
            )
        },
    )
    with serve_ndsets_dap4({"st": ds}) as srv:
        url = f"{srv.base_url}/st"
        back = read_dap4(url)
        assert back["station"].data.tolist() == ["KORD", "KSEA", "PAFA", "EGLL"]
        assert back["name2d"].data.tolist()[2] == ["ünïcødé", ""]
        np.testing.assert_array_equal(
            back["temp"].data, ds["temp"].data
        )
        # checksums cover the counted string serialization too
        back_ck = read_dap4(url, checksums=True)
        assert back_ck["station"].data.tolist()[0] == "KORD"
        # server-side hyperslab through isel prunes string payloads
        part = read_dap4(url, isel={"station": slice(1, 3)})
        assert part["station"].data.tolist() == ["KSEA", "PAFA"]
        assert part["temp"].data.tolist() == [281.5, 279.25]
        # metadata-only schema: string dtype named, no payload fetch
        schema = dap4_schema(url)
        assert schema["coords"]["station"]["dtype"] == "str"
        assert schema["data_vars"]["name2d"]["shape"] == [4, 2]
        assert schema["data_vars"]["temp"]["dtype"] == "float64"


def test_string_wire_truncation_raises():
    """A count pointing past the data block names the variable instead
    of decoding garbage."""
    from pangeo_forge_recipes_spark.dap4io import (
        _CHUNK_LAST,
        _CHUNK_LITTLE_ENDIAN,
        _chunk,
        _read_chunked,
        parse_dmr,
    )
    import pangeo_forge_recipes_spark.dap4io as d4

    dmr = (
        '<Dataset xmlns="http://xml.opendap.org/ns/DAP/4.0#" name="t">'
        '<Dimension name="s" size="1"/>'
        '<String name="lbl"><Dim name="/s"/></String></Dataset>'
    )
    bad = struct_pack_le_u64(99) + b"abc"
    wire = _chunk(_CHUNK_LITTLE_ENDIAN, dmr.encode()) + _chunk(
        _CHUNK_LAST, bad
    )
    # drive through the private decode path the client uses
    text, data, little = _read_chunked(wire)
    assert parse_dmr(text)["vars"][0]["type"] == "String"
    import urllib.request

    class _FakeResp:
        def __init__(self, payload):
            self._p = payload

        def read(self):
            return self._p

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    orig = d4._fetch
    d4._fetch = lambda url, timeout=60.0: wire if url.endswith(".dap") else dmr.encode()
    try:
        with pytest.raises(ValueError, match="lbl"):
            read_dap4("http://fake/t")
    finally:
        d4._fetch = orig


def struct_pack_le_u64(v: int) -> bytes:
    import struct as _s

    return _s.pack("<Q", v)


def test_string_schema_refused_by_zarr_template():
    """np.dtype('str') is the ZERO-width '<U0' — templating a zarr
    array from a DAP4 String schema would silently truncate every
    value on write (r11 review finding). The spec builder refuses with
    the remedy named instead."""
    from pangeo_forge_recipes_spark.dsio import _zarr_spec_for

    with pytest.raises(NotImplementedError, match="string dtype"):
        _zarr_spec_for(
            {"dims": ["station"], "shape": [4], "dtype": "str",
             "attrs": {}, "encoding": {}}
        )
