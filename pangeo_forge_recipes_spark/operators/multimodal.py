"""Multimodal columns: opaque binary payloads + typed metadata, with
decode / feature-extract / resize stages as Arrow batch
steps on :func:`..parallel.map_batches`, so a chain of them (e.g.
``resize_images(attach_png_media(docs))``) runs as ONE ``mapInArrow`` —
one Python worker per task, not one per stage.

PNG, JPEG and WAV payloads all decode for REAL with no external
library: :mod:`..pngio` (zlib inflate + per-row unfilter),
:mod:`..jpegio` (baseline Huffman-DCT decode), and :mod:`..audioio`
(RIFF/PCM/float parse). Unknown payload formats fall through to a
clearly-marked deterministic sha256 fake decoder so the Spark-side
plumbing (schemas, batching, partitioning) stays exercised end-to-end
for any corpus.

Scale notes: binary payloads stay opaque to Catalyst (no row explosion
until feature extraction); per-batch memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``; feature vectors come
back as fixed-width ``array<float>`` columns ready for the similarity
operators.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Optional, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..parallel import arrow_batch, map_batches

MEDIA_SCHEMA = (
    "doc_id long, media binary, format string, width int, height int, n_frames int"
)


def _ids(batch: pa.RecordBatch, name: str = "doc_id") -> np.ndarray:
    """``batch``'s id column ``name`` as int64."""
    return batch.column(name).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def _blobs(batch: pa.RecordBatch) -> list:
    """``batch``'s ``media`` payloads as ``bytes`` values."""
    return batch.column("media").to_pylist()


def _media_batch(ids, blobs, fmt: str, width, height, n_frames) -> pa.RecordBatch:
    n = len(ids)
    return arrow_batch(
        MEDIA_SCHEMA,
        [ids, blobs, [fmt] * n, [width] * n, [height] * n, [n_frames] * n],
    )


def attach_fake_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Synthesize a deterministic binary 'media' column (utf-8 payload of
    the text) with typed metadata — the canonical multimodal row shape."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("media"),
        F.lit("fake/raw").alias("format"),
        (F.length(text_col) % 64 + 1).cast("int").alias("width"),
        (F.length(text_col) % 48 + 1).cast("int").alias("height"),
        (F.length(text_col) % 8 + 1).cast("int").alias("n_frames"),
    )


def attach_png_media(
    df: DataFrame,
    id_col: str = "doc_id",
    width: int = 16,
    height: int = 8,
) -> DataFrame:
    """Synthesize REAL PNG payloads (encoded by :mod:`..pngio`): pixel
    ``i`` of doc ``d`` is ``(d*31 + i*7) % 256`` — a closed form a SQL
    oracle can recompute — but the bytes on the wire are genuine
    zlib-compressed, per-row-filtered PNG that ``decode_image`` must
    really decode. Filter types cycle with the row and doc so all five
    unfilter paths are exercised across a corpus."""
    from ..pngio import encode_png_batch

    n = width * height

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        idx = np.arange(n, dtype=np.int64)
        rows_r = np.arange(height, dtype=np.int64)
        for batch in batches:
            # whole-batch pixel + filter synthesis, whole-batch filter
            # prediction (encode_png_batch): per image only the deflate
            # + chunk assembly remain Python-side
            ids = _ids(batch, id_col)
            px = ((ids[:, None] * 31 + idx[None, :] * 7) % 256).astype(
                np.uint8
            )
            filters = ((ids[:, None] + rows_r[None, :]) % 5).astype(np.uint8)
            blobs = encode_png_batch(
                px.reshape(-1, height, width), filters
            )
            yield _media_batch(ids, blobs, "image/png", width, height, 1)

    return map_batches(df, build, MEDIA_SCHEMA, [id_col])


def attach_wav_media(
    df: DataFrame,
    id_col: str = "doc_id",
    n_samples: int = 256,
    sample_rate: int = 8000,
) -> DataFrame:
    """Synthesize REAL 16-bit PCM WAV payloads (encoded by
    :mod:`..audioio`): sample ``i`` of doc ``d`` is a triangle wave with
    doc-dependent period — a closed form tests can recompute — but the
    bytes on the wire are genuine RIFF/WAVE that ``decode_audio`` must
    really parse."""
    from ..audioio import encode_wav_batch

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        idx = np.arange(n_samples, dtype=np.int64)
        for batch in batches:
            # whole-batch synthesis + ONE vectorized encode pass (r13,
            # guide §4.2): same elementwise math per clip as the former
            # per-doc loop, so the bytes on the wire are identical
            ids = _ids(batch, id_col)
            periods = (8 + ids % 23)[:, None]
            tri = (
                np.abs((idx[None, :] % periods) * 2.0 / periods - 1.0) * 2.0 - 1.0
            )
            blobs = encode_wav_batch(tri * 0.5, sample_rate, bits=16)
            yield _media_batch(ids, blobs, "audio/wav", n_samples, 1, n_samples)

    return map_batches(df, build, MEDIA_SCHEMA, [id_col])


def decode_audio(df: DataFrame) -> DataFrame:
    """Decode binary → (doc_id, samples array<float>, sample_rate, channels)
    as one Arrow batch step. RIFF/WAVE blobs (signature-sniffed) decode
    for REAL through :mod:`..audioio`; other payloads take the
    deterministic sha256 fake (keeping non-audio rows flowing through the
    same plan)."""
    schema = "doc_id long, samples array<float>, sample_rate int, channels int"

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..audioio import decode_wav, decode_wav_batch

        for batch in batches:
            blobs = _blobs(batch)
            samples: list = [None] * len(blobs)
            rates = np.zeros(len(blobs), dtype="int32")
            chans = np.zeros(len(blobs), dtype="int32")
            # uniform-layout WAV corpora (the common case) decode as ONE
            # frombuffer/astype pass (r13, guide §4.2); anything ragged
            # falls through to the per-blob scalar decode below
            wav_idx = [
                i
                for i, b in enumerate(blobs)
                if b[:4] == b"RIFF" and b[8:12] == b"WAVE"
            ]
            if wav_idx:
                decoded = decode_wav_batch([blobs[i] for i in wav_idx])
                if decoded is not None:
                    mono, rate, ch = decoded
                    for j, i in enumerate(wav_idx):
                        samples[i] = mono[j]
                        rates[i] = rate
                        chans[i] = ch
            for i, blob in enumerate(blobs):
                if samples[i] is not None:
                    continue
                if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
                    arr, rate = decode_wav(blob)
                    samples[i] = arr.mean(axis=1)  # downmix to mono
                    rates[i] = rate
                    chans[i] = arr.shape[1]
                else:
                    digest = hashlib.sha256(blob).digest()
                    fake = np.frombuffer((digest * 2)[:64], dtype=np.uint8)
                    samples[i] = fake.astype("float32") / 255.0 - 0.5
            yield arrow_batch(schema, [_ids(batch), samples, rates, chans])

    return map_batches(df, decode, schema, ["doc_id", "media"])


def decode_image(df: DataFrame, keep_dims: bool = False) -> DataFrame:
    """Decode binary → (doc_id, pixels array<float>) as one Arrow batch
    step. With ``keep_dims=True`` the grayscale (height, width) ride
    along as int columns so shape-aware consumers (e.g. the pHash DCT in
    :mod:`.imagehash`) can reshape the flat pixels.

    PNG blobs (signature-sniffed) decode for REAL through
    :mod:`..pngio` — zlib inflate + unfilter — JPEG blobs through
    :mod:`..jpegio` (baseline Huffman DCT), and raw JPEG2000
    codestreams through :mod:`..jp2kio` (T.800 subset), all
    grayscale-averaged to normalized floats. Other formats take the
    deterministic sha256 fake so the Spark plumbing (schema, batch
    shape, partition flow) stays testable end-to-end regardless of
    payload type.
    """
    from ..jp2kio import decode_j2k
    from ..jpegio import decode_jpeg
    from ..pngio import PNG_SIGNATURE, decode_png, decode_png_batch

    schema = "doc_id long, pixels array<float>"
    if keep_dims:
        schema += ", height int, width int"

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            blobs = _blobs(batch)
            pixels: list = [None] * len(blobs)
            dims: list = [None] * len(blobs)
            # same-shape plain-8-bit PNGs (the common corpus case) decode
            # as ONE batched unfilter pass; anything else falls through
            # to the scalar decoders below
            png_idx = [
                i for i, b in enumerate(blobs) if b[:8] == PNG_SIGNATURE
            ]
            if png_idx:
                decoded = decode_png_batch([blobs[i] for i in png_idx])
                if decoded is not None:
                    fb = decoded.astype("float32")
                    if fb.ndim == 4:  # channel-average to grayscale
                        fb = fb.mean(axis=3)
                    flat = fb.reshape(len(png_idx), -1) / 255.0
                    for j, i in enumerate(png_idx):
                        pixels[i] = flat[j]
                        dims[i] = fb.shape[1:3]
            for i, blob in enumerate(blobs):
                if pixels[i] is not None:
                    continue
                if blob[:8] == PNG_SIGNATURE:
                    arr = decode_png(blob).astype("float32")
                elif blob[:2] == b"\xff\xd8":
                    arr = decode_jpeg(blob).astype("float32")
                elif blob[:4] == b"\xff\x4f\xff\x51":
                    img, depth, _ = decode_j2k(blob)
                    arr = img.astype("float32") * (255.0 / ((1 << depth) - 1))
                else:
                    # deterministic fake decode: sha256-seeded 8x8 grayscale
                    digest = hashlib.sha256(blob).digest()
                    arr = np.frombuffer((digest * 2)[:64], dtype=np.uint8).astype(
                        "float32"
                    )
                    pixels[i] = arr / 255.0
                    dims[i] = (8, 8)
                    continue
                if arr.ndim == 3:  # channel-average to grayscale
                    arr = arr.mean(axis=2)
                if keep_dims:
                    dims[i] = arr.shape
                pixels[i] = arr.ravel() / 255.0
            cols = [_ids(batch), pixels]
            if keep_dims:
                cols += [[d[0] for d in dims], [d[1] for d in dims]]
            yield arrow_batch(schema, cols)

    return map_batches(df, decode, schema, ["doc_id", "media"])


def extract_features(
    decoded: DataFrame, dim: int = 16, keep_pixels: bool = False
) -> DataFrame:
    """Feature extraction: fold pixels to a fixed-dim embedding (mean-pool
    blocks). Deterministic; output ready for operators.similarity.
    ``keep_pixels=True`` passes the pixel array through so a consumer
    needing both representations gets them from ONE decode pass instead
    of two subtrees re-running the decode."""
    schema = (
        "doc_id long, pixels array<float>, features array<float>"
        if keep_pixels
        else "doc_id long, features array<float>"
    )

    def feats(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            px_list = [
                np.asarray(p, dtype="float32")
                for p in batch.column("pixels").to_numpy(zero_copy_only=False)
            ]
            lens = {p.shape[0] for p in px_list}
            if len(lens) == 1 and next(iter(lens)) % dim == 0:
                # equal-length, evenly divisible: ONE stacked reshape-mean
                # for the whole batch (bit-identical to the per-image
                # array_split path — same float32 8-ish-element sums)
                mat = np.stack(px_list).reshape(len(px_list), dim, -1)
                out = list(mat.mean(axis=2))
            else:
                out = [
                    np.array(
                        [b.mean() for b in np.array_split(arr, dim)],
                        dtype="float32",
                    )
                    for arr in px_list
                ]
            cols = [_ids(batch), px_list, out] if keep_pixels else [_ids(batch), out]
            yield arrow_batch(schema, cols)

    return map_batches(decoded, feats, schema, ["doc_id", "pixels"])


def _resize_plane_batch(
    arr: np.ndarray, out_h: int, out_w: int, method: str
) -> np.ndarray:
    """Resize a (n, h, w) float batch to (n, out_h, out_w) with pure
    numpy — one vectorized gather (nearest) or four gathers + lerp
    (bilinear, the standard align_corners=False pixel-center
    convention). No per-image Python."""
    n, h, w = arr.shape
    if method == "nearest":
        ys = np.minimum(
            ((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1
        )
        xs = np.minimum(
            ((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1
        )
        return arr[:, ys[:, None], xs[None, :]]
    if method != "bilinear":
        raise ValueError(f"resize method {method!r} (nearest | bilinear)")
    fy = np.clip((np.arange(out_h) + 0.5) * h / out_h - 0.5, 0, h - 1)
    fx = np.clip((np.arange(out_w) + 0.5) * w / out_w - 0.5, 0, w - 1)
    y0 = fy.astype(np.int64)
    x0 = fx.astype(np.int64)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = (fy - y0)[None, :, None]
    wx = (fx - x0)[None, None, :]
    top = arr[:, y0[:, None], x0[None, :]] * (1 - wx) + arr[
        :, y0[:, None], x1[None, :]
    ] * wx
    bot = arr[:, y1[:, None], x0[None, :]] * (1 - wx) + arr[
        :, y1[:, None], x1[None, :]
    ] * wx
    return top * (1 - wy) + bot * wy


def resize_images(
    df: DataFrame,
    out_w: int = 8,
    out_h: int = 8,
    method: str = "bilinear",
    methods: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Resize decoded media to a fixed (out_h, out_w) grid — the
    standard pre-embedding normalization stage. Input is the media
    frame (``attach_*_media`` schema); PNG payloads decode through the
    batched codec path and every same-shape group resizes as ONE numpy
    gather/lerp (no per-image Python in the common case); other
    decodable payloads take the scalar decoders. Output:
    ``(doc_id, pixels array<float>, width, height)`` with pixels the
    row-major flattened resized grayscale in [0, 1].

    r12 (guide §1.2): ``methods`` resizes to SEVERAL interpolation
    methods in ONE decode pass — output gains a leading ``method``
    column, one row per (image, method). Callers comparing methods
    previously ran the whole encode+decode chain once per method; the
    decode dominates, the per-method gather/lerp is the cheap tail."""
    from ..jp2kio import decode_j2k
    from ..jpegio import decode_jpeg
    from ..pngio import PNG_SIGNATURE, decode_png, decode_png_batch

    multi = methods is not None
    method_list = list(methods) if multi else [method]
    for m in method_list:
        if m not in ("nearest", "bilinear"):
            raise ValueError(f"resize method {m!r} (nearest | bilinear)")

    schema = "doc_id long, pixels array<float>, width int, height int"
    if multi:
        schema = "method string, " + schema

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = _ids(batch)
            blobs = _blobs(batch)
            # decode once per image into float64 grayscale planes
            grays: list = [None] * len(blobs)
            png_idx = [
                i for i, b in enumerate(blobs) if b[:8] == PNG_SIGNATURE
            ]
            png_batch = None
            if png_idx:
                decoded = decode_png_batch([blobs[i] for i in png_idx])
                if decoded is not None:
                    png_batch = decoded.astype("float64")
                    if png_batch.ndim == 4:
                        png_batch = png_batch.mean(axis=3)
            if png_batch is None:
                png_idx = []
            png_set = set(png_idx)
            for i, blob in enumerate(blobs):
                if i in png_set:
                    continue
                if blob[:8] == PNG_SIGNATURE:
                    arr = decode_png(blob).astype("float64")
                elif blob[:2] == b"\xff\xd8":
                    arr = decode_jpeg(blob).astype("float64")
                elif blob[:4] == b"\xff\x4f\xff\x51":
                    img, depth, _ = decode_j2k(blob)
                    arr = img.astype("float64") * (255.0 / ((1 << depth) - 1))
                else:
                    digest = hashlib.sha256(blob).digest()
                    arr = np.frombuffer((digest * 2)[:64], np.uint8).astype(
                        "float64"
                    ).reshape(8, 8)
                if arr.ndim == 3:
                    arr = arr.mean(axis=2)
                grays[i] = arr

            def resized_planes(m: str) -> list:
                planes: list = [None] * len(blobs)
                if png_idx:
                    rs = _resize_plane_batch(png_batch, out_h, out_w, m)
                    flat = (rs / 255.0).astype("float32").reshape(
                        len(png_idx), -1
                    )
                    for j, i in enumerate(png_idx):
                        planes[i] = flat[j]
                for i, arr in enumerate(grays):
                    if arr is None:
                        continue
                    rs = _resize_plane_batch(arr[None, :, :], out_h, out_w, m)[0]
                    planes[i] = (rs / 255.0).astype("float32").ravel()
                return planes

            n = len(blobs)
            for m in method_list:
                cols = [ids, resized_planes(m), [out_w] * n, [out_h] * n]
                yield arrow_batch(schema, [[m] * n, *cols] if multi else cols)

    return map_batches(df, run, schema, ["doc_id", "media"])


def media_stats(df: DataFrame) -> DataFrame:
    """Per-source binary column statistics — pure built-in functions (the
    SQL-oracle-checkable face of the multimodal surface)."""
    return df.groupBy("format").agg(
        F.count("*").alias("n_blobs"),
        F.sum(F.octet_length("media")).alias("total_bytes"),
        F.countDistinct(F.md5("media")).alias("distinct_blobs"),
    )
