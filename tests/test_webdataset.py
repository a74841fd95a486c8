"""WebDataset reader: round-trip with the shard writer, multi-extension
sample grouping, and streaming semantics."""

from __future__ import annotations

import io
import json
import os
import tarfile

import pytest

from pangeo_forge_recipes_spark.operators.packing import (
    write_webdataset_shards,
)
from pangeo_forge_recipes_spark.sources import (
    decode_webdataset_text,
    read_webdataset,
)

from .local_frames import assert_local_scan


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"document number {i} body " + "x" * (i % 7), f"src{i % 3}")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_webdataset_roundtrip(spark, docs, tmp_path):
    path = str(tmp_path / "wds")
    manifest = write_webdataset_shards(
        docs, path, n_shards=4, meta_cols=["source"]
    )
    assert manifest.count() == 4
    out = read_webdataset(spark, path)
    assert_local_scan(out)
    dec = decode_webdataset_text(out)
    got = {r["key"]: (r["text"], r["meta_json"]) for r in dec.collect()}
    want = {str(r["doc_id"]): r for r in docs.collect()}
    assert set(got) == set(want)
    for k, (text, meta) in got.items():
        assert text == want[k]["text"]
        assert json.loads(meta)["source"] == want[k]["source"]
    # manifest doc counts match what the reader sees per shard
    per_shard = {
        r["shard"]: r["n"]
        for r in out.groupBy("shard").count().withColumnRenamed("count", "n").collect()
    }
    for m in manifest.collect():
        assert per_shard[f"shard-{m['shard']:05d}.tar"] == m["n_docs"]


def test_webdataset_within_shard_order_is_tar_order(spark, docs, tmp_path):
    """Samples of one shard arrive in the writer's canonical md5 order —
    sequential-loader access needs no re-sort."""
    import hashlib

    path = str(tmp_path / "wds")
    write_webdataset_shards(docs, path, n_shards=2)
    out = read_webdataset(spark, path)
    one = sorted({r["shard"] for r in out.select("shard").collect()})[0]
    keys = [
        r["key"]
        for r in out.where(f"shard = '{one}'").collect()
    ]
    ranks = [hashlib.md5(k.encode()).hexdigest() for k in keys]
    assert ranks == sorted(ranks)


def test_webdataset_multi_extension_grouping(spark, tmp_path):
    """A hand-built shard with .txt/.json/.bin entries per key groups
    into single sample rows keyed by the pre-first-dot prefix."""
    p = str(tmp_path / "shard-00000.tar")
    with tarfile.open(p, "w") as tar:
        for key in ("a", "b"):
            for ext, payload in (
                ("txt", f"text of {key}".encode()),
                ("json", json.dumps({"k": key}).encode()),
                ("img.bin", b"\x00\x01" + key.encode()),
            ):
                info = tarfile.TarInfo(f"{key}.{ext}")
                info.size = len(payload)
                tar.addfile(info, io.BytesIO(payload))
    out = read_webdataset(spark, [p]).collect()
    assert len(out) == 2
    by_key = {r["key"]: dict(r["fields"]) for r in out}
    # extension = everything after the FIRST dot (WebDataset convention)
    assert set(by_key["a"]) == {"txt", "json", "img.bin"}
    assert bytes(by_key["b"]["img.bin"]) == b"\x00\x01b"
    assert bytes(by_key["a"]["txt"]) == b"text of a"


def test_webdataset_missing_path_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no WebDataset shards"):
        read_webdataset(spark, str(tmp_path / "nothing" / "*.tar"))


def test_webdataset_directory_prefixed_keys_stay_distinct(spark, tmp_path):
    """Foreign shards that nest samples under directories key on the
    FULL path before the first dot of the basename — a/0001 and b/0001
    are different samples even when adjacent in the archive."""
    p = str(tmp_path / "shard-00000.tar")
    with tarfile.open(p, "w") as tar:
        for name, payload in (
            ("a/0001.txt", b"alpha"),
            ("a/0001.json", b"{}"),
            ("b/0001.txt", b"bravo"),
            ("b/0001.json", b"{}"),
        ):
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tar.addfile(info, io.BytesIO(payload))
    out = read_webdataset(spark, [p]).collect()
    by_key = {r["key"]: dict(r["fields"]) for r in out}
    assert set(by_key) == {"a/0001", "b/0001"}
    assert bytes(by_key["a/0001"]["txt"]) == b"alpha"
    assert bytes(by_key["b/0001"]["txt"]) == b"bravo"
    assert set(by_key["a/0001"]) == {"txt", "json"}
