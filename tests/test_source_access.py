"""Source access: the url classifier, the guard that keeps url-scheme
tests inside the storage layer, and which transport every (format,
operation) pair uses for a remote source over the fake http server and
the fake S3 endpoint.

Each matrix cell opens, schema-reads or kerchunk-scans one source and classifies
the requests the servers saw for it: ``in_place`` (no full GET of the
source object — header walks are Range GETs, zarr stores GET their own
keys), ``download`` (exactly one full GET of the source, into a temp
file), or ``raises``."""

from __future__ import annotations

import ast
import json
import os

import numpy as np
import pytest

from pangeo_forge_recipes_spark.dsio import write_npz
from pangeo_forge_recipes_spark.openers import (
    open_with_kerchunk,
    open_with_ndset,
    read_schema,
)
from pangeo_forge_recipes_spark.patterns import FileType

from .data_generation import make_ds
from .fake_s3 import FakeS3
from .test_http_io import _Server, _write_store

SOURCES = {
    FileType.npz: "s.npz",
    FileType.zarr: "s.zarr",
    FileType.netcdf3: "s3.nc",
    FileType.netcdf4: "s4.nc",
    FileType.grib: "s.grib2",
    FileType.kerchunk: "s.json",
}

I, D, R = "in_place", "download", "raises"
# (file_type, op) -> (over http, over s3)
EXPECTED = {
    (FileType.npz, "open"): (D, D),
    (FileType.npz, "schema"): (D, D),
    (FileType.npz, "scan"): (D, D),
    (FileType.zarr, "open"): (I, I),
    (FileType.zarr, "schema"): (I, I),
    # http cannot list keys; s3 scans the store's listing in place
    (FileType.zarr, "scan"): (R, I),
    (FileType.netcdf3, "open"): (D, D),
    (FileType.netcdf3, "schema"): (D, D),
    (FileType.netcdf3, "scan"): (I, I),
    (FileType.netcdf4, "open"): (I, I),
    (FileType.netcdf4, "schema"): (I, I),
    (FileType.netcdf4, "scan"): (I, I),
    (FileType.grib, "open"): (D, D),
    (FileType.grib, "schema"): (D, D),
    (FileType.grib, "scan"): (I, I),
    (FileType.kerchunk, "open"): (D, D),
    (FileType.kerchunk, "schema"): (D, D),
    (FileType.kerchunk, "scan"): (R, R),
}

OPS = {
    "open": lambda url, ft: open_with_ndset(url, ft),
    "schema": lambda url, ft: read_schema(url, ft),
    "scan": lambda url, ft: open_with_kerchunk(url, ft, inline_threshold=0),
}


def _grib_ds():
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable

    nt, nj, ni = 2, 4, 8
    rng = np.random.default_rng(5)
    t = np.round(rng.uniform(250, 310, (nt, nj, ni)) * 128) / 128
    time = np.datetime64("2024-03-01T00", "ns") + np.arange(nt) * np.timedelta64(6, "h")
    return NDDataset(
        {"t": Variable(("time", "latitude", "longitude"), t)},
        {
            "time": Variable(("time",), time),
            "latitude": Variable(("latitude",), np.linspace(60.0, 30.0, nj)),
            "longitude": Variable(("longitude",), np.linspace(0.0, 40.0, ni)),
        },
        {},
        {"time": nt, "latitude": nj, "longitude": ni},
    )


@pytest.fixture(scope="module")
def source_dir(tmp_path_factory):
    from pangeo_forge_recipes_spark.grib2io import write_grib2
    from pangeo_forge_recipes_spark.hdf5io import write_hdf5
    from pangeo_forge_recipes_spark.kerchunkio import scan_npz
    from pangeo_forge_recipes_spark.netcdf3 import write_netcdf3

    root = str(tmp_path_factory.mktemp("sources"))
    ds = make_ds(nt=3)
    write_npz(os.path.join(root, SOURCES[FileType.npz]), ds)
    _write_store(root, SOURCES[FileType.zarr], nt=3)
    write_netcdf3(os.path.join(root, SOURCES[FileType.netcdf3]), ds)
    write_hdf5(os.path.join(root, SOURCES[FileType.netcdf4]), ds)
    write_grib2(os.path.join(root, SOURCES[FileType.grib]), _grib_ds())
    # a reference file whose chunk refs point at a local npz: reading it
    # sends nothing to the server beyond the json itself
    local = str(tmp_path_factory.mktemp("refs_target") / "r.npz")
    write_npz(local, ds)
    with open(os.path.join(root, SOURCES[FileType.kerchunk]), "w") as f:
        json.dump(scan_npz(local, inline_threshold=0), f)
    return root


@pytest.fixture(scope="module")
def http_server(source_dir):
    srv = _Server(source_dir)
    yield srv
    srv.stop()


@pytest.fixture(scope="module")
def s3_server(source_dir):
    srv = FakeS3()
    for dirpath, _, files in os.walk(source_dir):
        for name in files:
            full = os.path.join(dirpath, name)
            key = os.path.relpath(full, source_dir).replace(os.sep, "/")
            with open(full, "rb") as f:
                srv.objects[("matrix", key)] = f.read()
    yield srv
    srv.stop()


@pytest.fixture
def s3_env(s3_server, monkeypatch):
    kw = s3_server.client_kwargs()
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", kw["access_key"])
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", kw["secret_key"])
    monkeypatch.setenv("AWS_ENDPOINT_URL_S3", kw["endpoint_url"])
    monkeypatch.setenv("AWS_DEFAULT_REGION", kw["region"])
    monkeypatch.delenv("AWS_SESSION_TOKEN", raising=False)
    return s3_server


def _classify(requests, key):
    """``(method, key, ranged)`` requests → the access pattern on ``key``."""
    mine = [(m, k, r) for m, k, r in requests if k == key or k.startswith(key + "/")]
    full_gets = [1 for m, k, r in mine if m == "GET" and k == key and not r]
    if mine and not full_gets:
        return I
    if mine == [("GET", key, False)]:
        return D
    return f"unexpected requests {mine}"


def _http_requests(srv):
    return [(m, p.split("?", 1)[0].lstrip("/"), rng is not None) for m, p, rng in srv.requests]


def _s3_requests(srv):
    return [(m, k, "__range__" in q) for m, b, k, q in srv.requests if b == "matrix"]


@pytest.mark.parametrize("op", sorted(OPS))
@pytest.mark.parametrize("ft", list(SOURCES), ids=lambda ft: ft.value)
@pytest.mark.parametrize("transport", ["http", "s3"])
def test_request_pattern_matrix(transport, ft, op, request):
    name = SOURCES[ft]
    if transport == "http":
        srv = request.getfixturevalue("http_server")
        url, requests = f"{srv.url}/{name}", _http_requests
    else:
        srv = request.getfixturevalue("s3_env")
        url, requests = f"s3://matrix/{name}", _s3_requests
    want = EXPECTED[(ft, op)][transport == "s3"]
    srv.requests.clear()
    if want == R:
        with pytest.raises(NotImplementedError):
            OPS[op](url, ft)
        return
    out = OPS[op](url, ft)
    assert _classify(requests(srv), name) == want
    if op == "scan":
        # every byte-range ref points at the remote source, never a temp
        (refs,) = out
        table = refs.get("refs", refs)
        ranges = [v for v in table.values() if isinstance(v, list)]
        assert ranges and all(v[0].startswith(url) for v in ranges)


@pytest.mark.parametrize(
    "path, kind",
    [
        ("/data/in/a.nc", "local"),
        ("file:///data/in/a.nc", "local"),
        ("http://host/a.nc", "http"),
        ("https://host/a.nc?sig=1", "http"),
        ("s3://bucket/a.nc", "object"),
        ("gs://bucket/a.nc", "object"),
        ("abfs://container@acct.dfs.core.windows.net/a.nc", "object"),
        ("abfss://container@acct.dfs.core.windows.net/a.nc", "object"),
        ("az://container/a.nc", "object"),
        ("data/run?1#part:2.nc", "local"),
    ],
)
def test_url_kind(path, kind):
    from pangeo_forge_recipes_spark.storage import url_kind

    assert url_kind(path) == kind


PACKAGE = os.path.join(os.path.dirname(os.path.dirname(__file__)), "pangeo_forge_recipes_spark")
# the storage layer and the object-store clients it dispatches to
SCHEME_OWNERS = {"storage.py", "s3io.py", "gcsio.py", "azureio.py"}


def _scheme_literals(node):
    consts = node.elts if isinstance(node, ast.Tuple) else [node]
    return [c.value for c in consts if isinstance(c, ast.Constant) and "://" in str(c.value)]


def test_url_schemes_are_decided_only_in_storage():
    offenders = []
    for dirpath, _, files in os.walk(PACKAGE):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or (dirpath == PACKAGE and name in SCHEME_OWNERS):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "startswith"
                    and any(_scheme_literals(a) for a in node.args)
                ):
                    offenders.append(f"{os.path.relpath(path, PACKAGE)}:{node.lineno}")
    assert not offenders, f"url-scheme tests outside storage.py: {offenders}"
