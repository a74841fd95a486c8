"""WAV codec: own RIFF/PCM/float parser cross-checked against the
independent stdlib ``wave`` implementation, plus the Spark-side
decode_audio operator over genuine WAV payloads."""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
import pytest

from pangeo_forge_recipes_spark.audioio import (
    decode_wav,
    decode_wav_batch,
    encode_wav,
    encode_wav_batch,
)


def _stdlib_wav(samples_i16: np.ndarray, rate: int, channels: int) -> bytes:
    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples_i16.astype("<i2").tobytes())
    return bio.getvalue()


def test_decode_matches_stdlib_writer():
    """stdlib wave writes the file; our decoder must read it exactly."""
    rng = np.random.RandomState(0)
    pcm = rng.randint(-32768, 32767, size=500, dtype=np.int64)
    blob = _stdlib_wav(pcm, 8000, 1)
    arr, rate = decode_wav(blob)
    assert rate == 8000
    assert arr.shape == (500, 1)
    np.testing.assert_allclose(arr[:, 0], pcm / 32768.0, atol=1e-7)


def test_stdlib_reads_our_encoder():
    """Our encoder writes the file; stdlib wave must read it exactly."""
    t = np.linspace(0, 1, 200)
    samples = 0.25 * np.sin(2 * np.pi * 5 * t)
    blob = encode_wav(samples, 16000, bits=16)
    with wave.open(io.BytesIO(blob), "rb") as w:
        assert w.getframerate() == 16000
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        back = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    np.testing.assert_array_equal(
        back, np.clip(np.round(samples * 32768.0), -32768, 32767).astype("<i2")
    )


def test_stereo_roundtrip():
    rng = np.random.RandomState(1)
    samples = rng.uniform(-0.9, 0.9, size=(300, 2))
    arr, rate = decode_wav(encode_wav(samples, 44100, bits=16))
    assert arr.shape == (300, 2)
    assert rate == 44100
    np.testing.assert_allclose(arr, samples, atol=1.0 / 32768)


@pytest.mark.parametrize("bits,atol", [(8, 1 / 128), (16, 1 / 32768), (24, 1 / (1 << 23)), (32, 1e-7)])
def test_bit_depths(bits, atol):
    rng = np.random.RandomState(bits)
    samples = rng.uniform(-0.99, 0.99, size=257)
    arr, rate = decode_wav(encode_wav(samples, 22050, bits=bits))
    np.testing.assert_allclose(arr[:, 0], samples, atol=atol * 1.01)


def test_24bit_negative_values_exact():
    samples = np.array([-1.0, -0.5, 0.0, 0.5, 0.999])
    arr, _ = decode_wav(encode_wav(samples, 8000, bits=24))
    hi = ((1 << 23) - 1) / (1 << 23)
    np.testing.assert_allclose(arr[:, 0], np.clip(samples, -1, hi), atol=2 / (1 << 23))


def test_skips_extra_chunks():
    """LIST/fact chunks between fmt and data are walked over."""
    blob = bytearray(encode_wav(np.zeros(10) + 0.5, 8000, bits=16))
    # splice a LIST chunk after fmt (ends at 12+8+16=36)
    extra = b"LIST" + struct.pack("<I", 6) + b"INFOab"
    spliced = bytes(blob[:36]) + extra + bytes(blob[36:])
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    arr, rate = decode_wav(spliced)
    assert arr.shape == (10, 1)
    np.testing.assert_allclose(arr[:, 0], 0.5, atol=1e-4)


def test_gates():
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS" + b"\x00" * 40)
    # unsupported codec (e.g. ADPCM, format code 2) raises clearly
    blob = bytearray(encode_wav(np.zeros(4), 8000, bits=16))
    blob[20:22] = struct.pack("<H", 2)
    with pytest.raises(NotImplementedError, match="format code 2"):
        decode_wav(bytes(blob))


@pytest.mark.parametrize("bits", [8, 16, 24, 32])
def test_encode_wav_batch_matches_scalar(bits):
    """The r13 vectorized batch encoder must emit byte-identical files
    to per-clip encode_wav — including clipping extremes and the 8-bit
    odd-length pad byte."""
    rng = np.random.RandomState(7)
    mat = rng.uniform(-1.2, 1.2, size=(9, 33))  # odd frames: exercises pad
    mat[0, :3] = [-1.5, 0.0, 1.5]
    batch = encode_wav_batch(mat, 22050, bits=bits)
    for i in range(mat.shape[0]):
        assert batch[i] == encode_wav(mat[i], 22050, bits=bits)


@pytest.mark.parametrize("bits", [8, 16, 24, 32])
def test_decode_wav_batch_matches_scalar(bits):
    """The uniform-layout batch decoder must reproduce decode_wav +
    mono downmix bit-exactly for every supported depth."""
    rng = np.random.RandomState(bits)
    mat = rng.uniform(-0.9, 0.9, size=(6, 40))
    blobs = [encode_wav(mat[i], 16000, bits=bits) for i in range(6)]
    out = decode_wav_batch(blobs)
    assert out is not None
    mono, rate, ch = out
    assert (rate, ch) == (16000, 1)
    for i, b in enumerate(blobs):
        arr, _ = decode_wav(b)
        np.testing.assert_array_equal(mono[i], arr.mean(axis=1))


def test_decode_wav_batch_stereo_downmix_matches_scalar():
    rng = np.random.RandomState(3)
    clips = rng.uniform(-0.9, 0.9, size=(4, 25, 2))
    blobs = [encode_wav(c, 44100, bits=16) for c in clips]
    mono, rate, ch = decode_wav_batch(blobs)
    assert (rate, ch) == (44100, 2)
    for i, b in enumerate(blobs):
        arr, _ = decode_wav(b)
        np.testing.assert_array_equal(mono[i], arr.mean(axis=1))


def test_decode_wav_batch_ragged_returns_none():
    """Any layout deviation — different length, different header, a
    spliced extra chunk — must reject the batch (the caller's scalar
    fallback decodes it), never decode inconsistently."""
    a = encode_wav(np.zeros(10) + 0.25, 8000, bits=16)
    b = encode_wav(np.zeros(11) + 0.25, 8000, bits=16)  # length differs
    c = encode_wav(np.zeros(10) + 0.25, 16000, bits=16)  # header differs
    spliced = bytearray(a)
    extra = b"LIST" + struct.pack("<I", 6) + b"INFOab"
    spliced = bytes(spliced[:36]) + extra + bytes(spliced[36:])
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    assert decode_wav_batch([a, b]) is None
    assert decode_wav_batch([a, c]) is None
    assert decode_wav_batch([a, spliced]) is None
    assert decode_wav_batch([]) is None
    # uniform set still batches
    assert decode_wav_batch([a, bytes(a)]) is not None


def test_spark_decode_audio_mixed_corpus(spark):
    """decode_audio over a corpus mixing two WAV layouts + a non-audio
    blob: the batch fast path covers the uniform majority, the scalar
    fallback the rest, and every row must match a straight per-blob
    decode."""
    import pandas as pd

    from pangeo_forge_recipes_spark.operators.multimodal import decode_audio

    long_clip = encode_wav(np.linspace(-0.5, 0.5, 96), 8000, bits=16)
    short_clip = encode_wav(np.linspace(-0.25, 0.25, 32), 8000, bits=16)
    fake = b"not audio at all"
    rows = [(0, long_clip), (1, short_clip), (2, bytearray(long_clip)), (3, fake)]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows], "media": [r[1] for r in rows]})
    )
    got = {r["doc_id"]: r for r in decode_audio(df).collect()}
    assert len(got) == 4
    for d, blob in rows:
        if bytes(blob)[:4] == b"RIFF":
            arr, rate = decode_wav(bytes(blob))
            np.testing.assert_array_equal(
                np.asarray(got[d]["samples"], dtype=np.float32), arr.mean(axis=1)
            )
            assert got[d]["sample_rate"] == rate
            assert got[d]["channels"] == 1
        else:
            assert got[d]["sample_rate"] == 0
            assert got[d]["channels"] == 0
            assert len(got[d]["samples"]) == 64


def test_spark_decode_audio_and_features(spark):
    """End-to-end over Spark: synthesize real WAV payloads and decode
    them; closed-form triangle wave checks the values."""
    from pangeo_forge_recipes_spark.operators.multimodal import (
        attach_wav_media,
        decode_audio,
    )

    base = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    media = attach_wav_media(base, n_samples=64, sample_rate=8000)
    decoded = decode_audio(media)
    rows = {r["doc_id"]: r for r in decoded.collect()}
    assert len(rows) == 8
    idx = np.arange(64)
    for d, row in rows.items():
        assert row["sample_rate"] == 8000
        assert row["channels"] == 1
        period = 8 + d % 23
        tri = (np.abs((idx % period) * 2.0 / period - 1.0) * 2.0 - 1.0) * 0.5
        np.testing.assert_allclose(row["samples"], tri, atol=1.5 / 32768)
