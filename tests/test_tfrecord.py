"""TFRecord shard writer/reader: framing CRCs, the tf.train.Example
codec, Spark roundtrips, gzip shards, corruption handling, and the
dual-engine parity staged for a future driver slot."""

from __future__ import annotations

import glob
import gzip
import io
import os
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

from pangeo_forge_recipes_spark.sources import tfrecord as tfr

from .local_frames import assert_local_scan

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


# ---------------------------------------------------------------- codec


def test_crc32c_vector():
    # the canonical check vector for CRC-32C (Castagnoli)
    assert tfr.crc32c(b"123456789") == 0xE3069283
    assert tfr.crc32c(b"") == 0
    # streaming continuation equals one-shot
    assert tfr.crc32c(b"456789", tfr.crc32c(b"123")) == 0xE3069283


def test_masked_crc_framing_roundtrip():
    buf = io.BytesIO()
    payloads = [b"", b"x", b"hello world" * 100]
    for p in payloads:
        tfr.write_record(buf, p)
    buf.seek(0)
    assert list(tfr.iter_records(buf)) == payloads


def test_frame_layout_is_spec_exact():
    buf = io.BytesIO()
    tfr.write_record(buf, b"abc")
    raw = buf.getvalue()
    assert struct.unpack("<Q", raw[:8])[0] == 3
    assert raw[12:15] == b"abc"
    assert len(raw) == 8 + 4 + 3 + 4


def test_example_codec_roundtrip_all_types():
    feats = {
        "doc_id": [42],
        "text": "héllo wörld",
        "score": [1.5, -2.25],
        "tokens": [1, 2, 3, -7],
        "blob": b"\x00\xffbin",
    }
    payload = tfr.encode_example(feats)
    out = tfr.decode_example(payload)
    assert out["doc_id"] == [42]
    assert out["text"][0].decode("utf-8") == "héllo wörld"
    assert out["score"] == [1.5, -2.25]
    assert out["tokens"] == [1, 2, 3, -7]
    assert out["blob"][0] == b"\x00\xffbin"


def test_example_bytes_deterministic():
    a = tfr.encode_example({"b": [1], "a": "x"})
    b = tfr.encode_example({"a": "x", "b": [1]})
    assert a == b


def test_decode_accepts_unpacked_int64():
    # hand-build an Int64List with UNPACKED varints (proto2-style);
    # the decoder must accept both packed and unpacked encodings
    unpacked = tfr._varint((1 << 3) | 0) + tfr._varint(5)
    unpacked += tfr._varint((1 << 3) | 0) + tfr._varint(7)
    feature = tfr._ld(3, unpacked)
    entry = tfr._ld(1, b"n") + tfr._ld(2, feature)
    payload = tfr._ld(1, tfr._ld(1, entry))
    assert tfr.decode_example(payload)["n"] == [5, 7]


def test_corrupt_data_crc_raises_and_skips():
    buf = io.BytesIO()
    tfr.write_record(buf, b"good")
    tfr.write_record(buf, b"bad!")
    raw = bytearray(buf.getvalue())
    raw[-6] ^= 0x40  # flip a payload byte of record 2
    with pytest.raises(IOError, match="data CRC"):
        list(tfr.iter_records(io.BytesIO(bytes(raw))))
    assert list(tfr.iter_records(io.BytesIO(bytes(raw)), on_corrupt="skip")) == [b"good"]


def test_truncated_stream():
    buf = io.BytesIO()
    tfr.write_record(buf, b"payload")
    raw = buf.getvalue()[:-2]
    with pytest.raises(IOError, match="truncated"):
        list(tfr.iter_records(io.BytesIO(raw)))
    assert list(tfr.iter_records(io.BytesIO(raw), on_corrupt="skip")) == []


# ---------------------------------------------------------------- spark


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_write_read_roundtrip(spark, corpus, tmp_path):
    path = str(tmp_path / "tfr")
    manifest = tfr.write_tfrecord_shards(
        corpus, path, n_shards=4, meta_cols=["lang", "n_chars"]
    ).collect()
    assert len(manifest) == 4
    assert sum(m["n_docs"] for m in manifest) == corpus.count()
    files = sorted(glob.glob(os.path.join(path, "*.tfrecord")))
    assert len(files) == 4
    for m in manifest:
        assert m["n_bytes"] == os.path.getsize(
            os.path.join(path, f"shard-{m['shard']:05d}.tfrecord")
        )

    back = tfr.read_tfrecord(
        spark,
        path,
        {"doc_id": "int64", "text": "string", "lang": "string", "n_chars": "int64"},
    )
    assert_local_scan(back)
    got = {
        r["doc_id"]: (r["text"], r["lang"], r["n_chars"])
        for r in back.collect()
    }
    want = {
        r["doc_id"]: (r["text"], r["lang"], r["n_chars"])
        for r in corpus.collect()
    }
    assert got == want


def test_shard_bytes_deterministic(spark, corpus, tmp_path):
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    m1 = {
        r["shard"]: r["sha256"]
        for r in tfr.write_tfrecord_shards(
            corpus.repartition(7), p1, n_shards=3
        ).collect()
    }
    m2 = {
        r["shard"]: r["sha256"]
        for r in tfr.write_tfrecord_shards(
            corpus.repartition(2), p2, n_shards=3
        ).collect()
    }
    assert m1 == m2
    for s, sha in m1.items():
        import hashlib

        with open(os.path.join(p1, f"shard-{s:05d}.tfrecord"), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == sha


def test_gzip_shards_roundtrip(spark, corpus, tmp_path):
    path = str(tmp_path / "gz")
    manifest = tfr.write_tfrecord_shards(
        corpus.limit(50), path, n_shards=2, compress="gzip"
    ).collect()
    files = sorted(glob.glob(os.path.join(path, "*.tfrecord.gz")))
    assert len(files) == 2
    # manifest sha covers the COMPRESSED bytes on disk
    import hashlib

    for m in manifest:
        with open(os.path.join(path, f"shard-{m['shard']:05d}.tfrecord.gz"), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == m["sha256"]
    back = tfr.read_tfrecord(spark, path, {"doc_id": "int64", "text": "string"})
    assert back.count() == 50
    # spot-check one row against the source
    row = back.orderBy("doc_id").first()
    src = corpus.limit(50).orderBy("doc_id").first()
    assert row["doc_id"] == src["doc_id"] and row["text"] == src["text"]


def test_float_and_list_features(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 0.5), (2, "b", -1.25)], "doc_id long, text string, score double"
    )
    path = str(tmp_path / "f")
    tfr.write_tfrecord_shards(df, path, n_shards=1, meta_cols=["score"]).collect()
    back = tfr.read_tfrecord(
        spark, path, {"doc_id": "int64", "score": "float"}
    ).collect()
    got = {r["doc_id"]: r["score"] for r in back}
    assert got == {1: 0.5, 2: -1.25}


def test_reader_corrupt_shard_error_and_skip(spark, corpus, tmp_path):
    path = str(tmp_path / "c")
    tfr.write_tfrecord_shards(corpus.limit(20), path, n_shards=1).collect()
    f = glob.glob(os.path.join(path, "*.tfrecord"))[0]
    data = bytearray(open(f, "rb").read())
    data[len(data) // 2] ^= 0x01
    open(f, "wb").write(bytes(data))
    with pytest.raises(Exception):
        tfr.read_tfrecord(spark, path, {"doc_id": "int64"}).count()
    n = tfr.read_tfrecord(
        spark, path, {"doc_id": "int64"}, on_corrupt="skip"
    ).count()
    assert 0 < n < 20


def test_dual_engine_parity_r9_ready(spark, corpus, tmp_path):
    """The driver-slot shape, staged: write the real sf corpus to
    TFRecord shards, read it back through the Spark reader, aggregate —
    and verify against DuckDB running the equivalent SQL on the source
    parquet. Query + oracle both group by shard-of-md5, so the oracle
    never needs to read the tfrecord bytes."""
    path = str(tmp_path / "parity")
    tfr.write_tfrecord_shards(corpus, path, n_shards=4, meta_cols=["n_chars"]).collect()
    got = (
        tfr.read_tfrecord(
            spark, path, {"doc_id": "int64", "text": "string", "n_chars": "int64"}
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("shard")
        .collect()
    )
    doc_path = os.path.join(SF_DIR, "documents.parquet")
    # replicate shard_assign's portable md5 bucket (first 3 hex digits)
    bucket = (
        "((strpos('0123456789abcdef', substr(h,1,1))-1)*256"
        " + (strpos('0123456789abcdef', substr(h,2,1))-1)*16"
        " + (strpos('0123456789abcdef', substr(h,3,1))-1)) % 4"
    )
    want = duckdb.sql(
        f"""
        SELECT printf('shard-%05d.tfrecord', CAST({bucket} AS INT)) AS shard,
               COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars,
               SUM(length(text)) AS sum_text_len, SUM(doc_id) AS sum_ids
        FROM (
          SELECT *, md5(CAST(doc_id AS VARCHAR)) AS h
          FROM read_parquet('{doc_path}')
        ) GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    got_t = [
        (r["shard"], r["n_docs"], r["sum_chars"], r["sum_text_len"], r["sum_ids"])
        for r in got
    ]
    want_t = [tuple(w) for w in want]
    assert got_t == want_t


def test_null_text_roundtrips_as_null(spark, tmp_path):
    # str(None) would corrupt a NULL text into the literal "None"
    df = spark.createDataFrame(
        [(1, "real text"), (2, None)], "doc_id long, text string"
    )
    path = str(tmp_path / "nulls")
    tfr.write_tfrecord_shards(df, path, n_shards=1).collect()
    back = {
        r["doc_id"]: r["text"]
        for r in tfr.read_tfrecord(
            spark, path, {"doc_id": "int64", "text": "string"}
        ).collect()
    }
    assert back == {1: "real text", 2: None}


def test_null_id_raises(spark, tmp_path):
    df = spark.createDataFrame([(None, "x")], "doc_id long, text string")
    with pytest.raises(Exception, match="null 'doc_id'"):
        tfr.write_tfrecord_shards(df, str(tmp_path / "n"), n_shards=1).collect()


def test_truncated_length_crc_skip_mode():
    buf = io.BytesIO()
    tfr.write_record(buf, b"payload")
    for cut in (9, 10, 11):  # mid length-CRC word
        raw = buf.getvalue()[:cut]
        assert list(tfr.iter_records(io.BytesIO(raw), on_corrupt="skip")) == []
        with pytest.raises(IOError, match="truncated"):
            list(tfr.iter_records(io.BytesIO(raw)))


def test_non_identifier_meta_column(spark, tmp_path):
    # pandas itertuples renames such columns to _N; the writer must not care
    df = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 7)], ["doc_id", "text", "n-chars"]
    )
    path = str(tmp_path / "dash")
    tfr.write_tfrecord_shards(df, path, n_shards=1, meta_cols=["n-chars"]).collect()
    back = tfr.read_tfrecord(
        spark, path, {"doc_id": "int64", "n-chars": "int64"}
    ).collect()
    assert {r["doc_id"]: r["n-chars"] for r in back} == {1: 5, 2: 7}


# ------------------------------------------------------------- properties


from hypothesis import given, settings
from hypothesis import strategies as st

_feature_value = st.one_of(
    st.binary(max_size=64),
    st.text(max_size=32),
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=8),
    st.lists(
        st.floats(width=32, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=8,
    ),
)


@settings(max_examples=60, deadline=None)
@given(st.dictionaries(st.text(min_size=1, max_size=16), _feature_value, max_size=6))
def test_example_codec_fuzz_roundtrip(features):
    out = tfr.decode_example(tfr.encode_example(features))
    assert set(out) == set(features)
    for name, v in features.items():
        got = out[name]
        if isinstance(v, bytes):
            assert got == [v]
        elif isinstance(v, str):
            assert got[0].decode("utf-8") == v
        elif all(isinstance(x, int) for x in v):
            # two's-complement encode + signed decode is exact
            assert got == v
        else:
            import numpy as np

            assert np.allclose(got, np.asarray(v, dtype="<f4"), rtol=0, atol=0)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.binary(max_size=200), max_size=8),
    st.integers(min_value=0, max_value=220),
)
def test_framing_fuzz_truncation_never_hangs(payloads, cut):
    buf = io.BytesIO()
    for p in payloads:
        tfr.write_record(buf, p)
    raw = buf.getvalue()
    # full stream: exact roundtrip
    assert list(tfr.iter_records(io.BytesIO(raw))) == payloads
    # arbitrary truncation: skip mode returns a PREFIX, never raises
    trunc = raw[: min(cut, len(raw))]
    got = list(tfr.iter_records(io.BytesIO(trunc), on_corrupt="skip"))
    assert got == payloads[: len(got)]
    # error mode: either the same prefix-equal success (cut at a record
    # boundary) or IOError — never a different exception, never a hang
    try:
        strict = list(tfr.iter_records(io.BytesIO(trunc)))
        assert strict == payloads[: len(strict)]
    except IOError:
        pass


def test_local_path_with_query_chars(spark, tmp_path):
    """Review regression: routing local paths through urlparse broke
    filenames containing '?' or '#'."""
    df = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    plain = str(tmp_path / "p")
    tfr.write_tfrecord_shards(df, plain, n_shards=1).collect()
    weird = str(tmp_path / "a?v=1#frag.tfrecord")
    os.rename(os.path.join(plain, "shard-00000.tfrecord"), weird)
    got = tfr.read_tfrecord(spark, [weird], {"doc_id": "int64"}).count()
    assert got == 2


def test_url_shard_labels_keep_prefix(request, spark, tmp_path):
    """Review regression: two urls sharing a basename must not collapse
    to one shard label."""
    from .test_http_io import _Server

    root = str(tmp_path / "www")
    for part in ("part-0", "part-1"):
        d = os.path.join(root, part)
        df = spark.createDataFrame(
            [(1 if part == "part-0" else 2, part)], "doc_id long, text string"
        )
        tfr.write_tfrecord_shards(df, d, n_shards=1).collect()
    s = _Server(root)
    request.addfinalizer(s.stop)
    urls = [f"{s.url}/part-0/shard-00000.tfrecord?sig=A",
            f"{s.url}/part-1/shard-00000.tfrecord?sig=B"]
    rows = tfr.read_tfrecord(
        spark, urls, {"doc_id": "int64", "text": "string"}
    ).collect()
    labels = {r["shard"] for r in rows}
    assert len(labels) == 2  # host+path labels, query stripped
    assert {r["doc_id"] for r in rows} == {1, 2}


def test_plain_shard_with_gzip_magic_length(spark, tmp_path):
    """r8 advisor finding: an UNCOMPRESSED shard whose first payload is
    exactly 35615 (0x8B1F) bytes starts with the gzip magic ``1f 8b`` —
    the sniffing reader misparsed it as gzip. Extension dispatch and the
    plain-frame CRC tiebreak must both recover it."""
    payload = b"z" * 0x8B1F
    d = tmp_path / "collide"
    d.mkdir()
    for name in ("shard-00000.tfrecord", "extensionless"):
        with open(d / name, "wb") as fh:
            tfr.write_record(fh, payload)
            tfr.write_record(fh, b"second")
    for name in ("shard-00000.tfrecord", "extensionless"):
        with open(d / name, "rb") as fh:
            wrapped = tfr._gzip_if_magic(fh, path=str(d / name))
            got = list(tfr.iter_records(wrapped))
        assert got == [payload, b"second"], name
    # real gzip with NO extension still sniffs as gzip
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        tfr.write_record(gz, b"hello")
    buf.seek(0)
    wrapped = tfr._gzip_if_magic(buf, path=None)
    assert list(tfr.iter_records(wrapped)) == [b"hello"]


def test_bytes_and_string_lists_surface(spark, tmp_path):
    """r8 advisor finding: multi-element BytesList features were silently
    truncated to their first element with an always-null double-typed
    companion column. They now surface in `<name>_list` with the kind's
    own type."""
    buf = io.BytesIO()
    tfr.write_record(
        buf,
        tfr.encode_example(
            {"doc_id": [1], "tags": ["a", "b", "c"], "blobs": [b"\x00\x01", b"\x02"]}
        ),
    )
    tfr.write_record(
        buf, tfr.encode_example({"doc_id": [2], "tags": "solo", "blobs": b"\xff"})
    )
    shard = tmp_path / "lists" / "shard-00000.tfrecord"
    shard.parent.mkdir()
    shard.write_bytes(buf.getvalue())
    df = tfr.read_tfrecord(
        spark,
        str(shard.parent),
        {"doc_id": "int64", "tags": "string", "blobs": "bytes"},
    )
    # schema: list companions typed by kind, not array<double>
    schema = dict(df.dtypes)
    assert schema["tags_list"] == "array<string>"
    assert schema["blobs_list"] == "array<binary>"
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["tags"] is None and rows[1]["tags_list"] == ["a", "b", "c"]
    assert rows[1]["blobs"] is None
    assert [bytes(b) for b in rows[1]["blobs_list"]] == [b"\x00\x01", b"\x02"]
    assert rows[2]["tags"] == "solo" and rows[2]["tags_list"] is None
    assert bytes(rows[2]["blobs"]) == b"\xff" and rows[2]["blobs_list"] is None


def test_shard_reader_query_string_secrets(request, spark, tmp_path):
    """r8 advisor finding: 'secrets' inside open_kwargs (the documented
    shard-reader surface) raised TypeError in open_shard_stream; they
    now reach the url as query-string params."""
    from .test_http_io import _Server

    root = str(tmp_path / "www")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    tfr.write_tfrecord_shards(df, root, n_shards=1).collect()
    s = _Server(root, required_query_string="token=s3cr3t")
    request.addfinalizer(s.stop)
    url = f"{s.url}/shard-00000.tfrecord"
    with pytest.raises(Exception):
        tfr.read_tfrecord(spark, [url], {"doc_id": "int64"}).collect()
    rows = tfr.read_tfrecord(
        spark,
        [url],
        {"doc_id": "int64", "text": "string"},
        open_kwargs={"secrets": {"token": "s3cr3t"}},
    ).collect()
    assert {r["doc_id"] for r in rows} == {1, 2}


def test_numpy_crc_path_matches_reference():
    """The vectorized block CRC must agree bit-for-bit with the pinned
    slice-by-8 reference across block boundaries, continuations, and
    both sides of the _NP_MIN dispatch threshold."""
    import numpy as np

    rng = np.random.default_rng(7)
    for size in (0, 1, 255, 511, 512, 513, 1000, 4096, 35615, 100001):
        data = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
        assert tfr.crc32c(data) == tfr._crc32c_py(data), size
    # continuation across the two tiers
    a = rng.integers(0, 256, 700, dtype=np.uint8).tobytes()
    b = rng.integers(0, 256, 300, dtype=np.uint8).tobytes()
    assert tfr.crc32c(b, tfr.crc32c(a)) == tfr._crc32c_py(a + b)
    # spec vector through the big path: 9-byte vector tiled past _NP_MIN
    big = (b"123456789" * 120)[:1024]
    assert tfr.crc32c(big) == tfr._crc32c_py(big)
