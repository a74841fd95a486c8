"""Baseline JPEG codec: the decoder's matrix IDCT (``_M.T @ F @ _M``)
cross-checked against a spec-literal scalar cosine sum (T.81 A.3.3),
encoder output verified structurally (markers, stuffing, restart
cadence) and numerically (round-trip error bounded by the quantization
step)."""

from __future__ import annotations

import base64

import numpy as np
import pytest

from pangeo_forge_recipes_spark import jpegio as J
from pangeo_forge_recipes_spark.jpegio import (
    ZIGZAG,
    _M,
    decode_jpeg,
    encode_jpeg,
)


def _idct_spec_literal(F: np.ndarray) -> np.ndarray:
    """T.81 A.3.3 verbatim: f(x,y) = 1/4 ΣΣ C(u)C(v) F(u,v) cos·cos."""
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * F[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[x, y] = s / 4.0
    return out


def test_idct_matches_spec_literal():
    rng = np.random.RandomState(0)
    F = rng.uniform(-500, 500, (8, 8))
    np.testing.assert_allclose(_M.T @ F @ _M, _idct_spec_literal(F), atol=1e-9)


def test_dct_orthonormal_and_inverse():
    assert np.allclose(_M @ _M.T, np.eye(8), atol=1e-12)
    rng = np.random.RandomState(1)
    f = rng.uniform(-128, 127, (8, 8))
    np.testing.assert_allclose(_M.T @ (_M @ f @ _M.T) @ _M, f, atol=1e-9)


def test_zigzag_is_permutation():
    assert sorted(ZIGZAG.tolist()) == list(range(64))
    # spec spot-checks: first diagonal and last entries
    assert ZIGZAG[:6].tolist() == [0, 1, 8, 16, 9, 2]
    assert ZIGZAG[-1] == 63


def test_uniform_image_exact():
    for val in (0, 1, 127, 128, 254, 255):
        img = np.full((8, 8), val, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=90))
        assert np.abs(out.astype(int) - val).max() <= 1


def test_gray_roundtrip_psnr():
    y, x = np.mgrid[0:40, 0:56]
    img = (128 + 100 * np.sin(x / 5.0) * np.cos(y / 7.0)).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert dec.shape == img.shape
    mse = np.mean((dec.astype(float) - img.astype(float)) ** 2)
    assert 10 * np.log10(255**2 / max(mse, 1e-12)) > 40


@pytest.mark.parametrize("subsample", [False, True])
def test_rgb_roundtrip(subsample):
    y, x = np.mgrid[0:24, 0:33]  # non-multiple-of-16 dims
    rgb = np.stack(
        [
            128 + 60 * np.sin(x / 6.0),
            128 + 60 * np.cos(y / 8.0),
            128 + 50 * np.sin((x + y) / 9.0),
        ],
        axis=-1,
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(rgb, quality=95, subsample=subsample))
    assert out.shape == rgb.shape
    err = np.abs(out.astype(int) - rgb.astype(int))
    assert err.mean() < 3.0
    assert err.max() <= 16


def test_restart_intervals():
    y, x = np.mgrid[0:32, 0:48]
    img = ((x * 3 + y * 5) % 200 + 20).astype(np.uint8)
    blob = encode_jpeg(img, quality=92, restart_interval=3)
    # DRI segment present and RST markers on the wire
    assert b"\xff\xdd\x00\x04\x00\x03" in blob
    assert any(bytes([0xFF, 0xD0 + i]) in blob for i in range(8))
    out = decode_jpeg(blob)
    base = decode_jpeg(encode_jpeg(img, quality=92))
    np.testing.assert_array_equal(out, base)


def test_byte_stuffing_roundtrip():
    # high-entropy image makes 0xFF bytes in the entropy stream likely
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (24, 24), dtype=np.uint8)
    blob = encode_jpeg(img, quality=50)
    out = decode_jpeg(blob)
    assert out.shape == img.shape  # lossy, but structurally sound
    # re-encode of decode stays close (codec is stable)
    out2 = decode_jpeg(encode_jpeg(out, quality=50))
    assert np.abs(out2.astype(int) - out.astype(int)).mean() < 20


@pytest.mark.parametrize("subsample", [False, True])
def test_progressive_decodes_identically_to_baseline(subsample):
    """The strongest entropy-layer check: a progressive encoding of the
    same coefficients must decode bit-identically to the baseline one —
    any DC/AC first-pass, refinement, EOB-run, or ZRL bug breaks it."""
    rng = np.random.RandomState(3)
    y, x = np.mgrid[0:40, 0:56]
    rgb = np.stack(
        [
            128 + 60 * np.sin(x / 6.0),
            128 + 60 * np.cos(y / 8.0),
            rng.randint(0, 256, (40, 56)),  # noisy channel → dense AC
        ],
        axis=-1,
    ).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(rgb, quality=85, subsample=subsample))
    prog = decode_jpeg(encode_jpeg(rgb, quality=85, subsample=subsample, progressive=True))
    np.testing.assert_array_equal(base, prog)


def test_progressive_structure():
    blob = encode_jpeg(np.arange(64, dtype=np.uint8).reshape(8, 8), progressive=True)
    assert b"\xff\xc2" in blob  # SOF2
    assert blob.count(b"\xff\xda") == 4  # DC first + DC refine + AC first + AC refine
    assert b"\xff\xc0" not in blob


def test_progressive_noise_and_odd_sizes():
    rng = np.random.RandomState(9)
    for shape in [(8, 8), (17, 13), (24, 33)]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        b = decode_jpeg(encode_jpeg(img, quality=50))
        p = decode_jpeg(encode_jpeg(img, quality=50, progressive=True))
        np.testing.assert_array_equal(b, p)


def test_gates():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")
    # a differential frame OUTSIDE hierarchical mode (no DHP) is a
    # stream error, not a missing feature (SOF5 decodes natively now)
    blob = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
    idx = blob.find(b"\xff\xc0")
    blob[idx + 1] = 0xC5
    with pytest.raises(ValueError, match="SOF5.*no DHP"):
        decode_jpeg(bytes(blob))
    # differential progressive (SOF6) keeps a declared gate
    blob[idx + 1] = 0xC6
    with pytest.raises(NotImplementedError, match="SOF6"):
        decode_jpeg(bytes(blob))


def test_odd_sizes():
    for shape in [(1, 1), (7, 9), (17, 13), (8, 1)]:
        img = np.arange(np.prod(shape), dtype=np.uint8).reshape(shape) % 200
        out = decode_jpeg(encode_jpeg(img, quality=95))
        assert out.shape == shape


# ---------------------------------------------------------------------------
# 12-bit precision + lossless (SOF3)
# ---------------------------------------------------------------------------


def test_12bit_sequential_round_trip():
    rng = np.random.RandomState(0)
    img = (np.cumsum(np.cumsum(rng.randint(-9, 10, (33, 41)), 0), 1) + 2048
           ).clip(0, 4095).astype(np.uint16)
    enc = J.encode_jpeg(img, quality=95, precision=12)
    dec = J.decode_jpeg(enc)
    assert dec.dtype == np.uint16 and dec.shape == img.shape
    # quantization-bounded error, scaled like the 8-bit case
    assert np.abs(dec.astype(int) - img.astype(int)).max() < 64
    # the stream is extended-sequential SOF1
    assert b"\xff\xc1" in enc and b"\xff\xc0" not in enc


def test_12bit_progressive_equals_sequential():
    rng = np.random.RandomState(1)
    img = (np.cumsum(rng.randint(-5, 6, (16, 24)), 1) + 2048
           ).clip(0, 4095).astype(np.uint16)
    seq = J.decode_jpeg(J.encode_jpeg(img, quality=90, precision=12))
    prog = J.decode_jpeg(
        J.encode_jpeg(img, quality=90, precision=12, progressive=True)
    )
    np.testing.assert_array_equal(seq, prog)


def test_12bit_color_round_trip():
    rng = np.random.RandomState(2)
    base = (np.cumsum(rng.randint(-4, 5, (20, 20)), 0) + 2048
            ).clip(0, 4095).astype(np.uint16)
    rgb = np.stack([base, 4095 - base, base // 2], axis=-1).astype(np.uint16)
    dec = J.decode_jpeg(J.encode_jpeg(rgb, quality=95, precision=12))
    assert dec.dtype == np.uint16 and dec.shape == rgb.shape
    assert np.abs(dec.astype(int) - rgb.astype(int)).mean() < 64


def test_baseline_rejects_12bit():
    with pytest.raises(ValueError, match="12-bit|uint16"):
        J.encode_jpeg(np.zeros((8, 8), np.uint8), precision=12)


@pytest.mark.parametrize("pred", list(range(1, 8)))
def test_lossless_every_predictor_exact(pred):
    rng = np.random.RandomState(pred)
    img = rng.randint(0, 256, (21, 17), dtype=np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg_lossless(img, predictor=pred))
    np.testing.assert_array_equal(dec, img)


def test_lossless_16bit_and_12bit():
    rng = np.random.RandomState(9)
    img16 = rng.randint(0, 65536, (15, 23), dtype=np.uint16)
    np.testing.assert_array_equal(
        J.decode_jpeg(J.encode_jpeg_lossless(img16, predictor=4)), img16
    )
    img12 = rng.randint(0, 4096, (9, 9)).astype(np.uint16)
    np.testing.assert_array_equal(
        J.decode_jpeg(J.encode_jpeg_lossless(img12, precision=12, predictor=7)),
        img12,
    )


def test_lossless_multi_component_and_point_transform():
    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, (11, 13, 3), dtype=np.uint8)
    np.testing.assert_array_equal(
        J.decode_jpeg(J.encode_jpeg_lossless(rgb)), rgb
    )
    img = rng.randint(0, 256, (8, 8), dtype=np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg_lossless(img, point_transform=2))
    np.testing.assert_array_equal(dec, (img >> 2) << 2)


def test_lossless_hand_built_stream():
    """Hand-assembled SOF3 stream (T.81 Annex H semantics, independent
    of the encoder): 2x2 8-bit plane, predictor 1, Huffman DC table with
    1-bit code for category 0 and 2-bit codes up to category 2.

    Samples [[130, 131], [128, 130]]:
      (0,0): default pred 128, diff +2  -> cat 2, bits '10'
      (0,1): first line, pred Ra=130, diff +1 -> cat 1, bit '1'
      (1,0): first column, pred Rb=130, diff -2 -> cat 2, bits '01'
      (1,1): pred Ra=128, diff +2 -> cat 2, bits '10'
    """
    import struct as _struct

    def seg(marker, payload):
        return bytes([0xFF, marker]) + _struct.pack(">H", len(payload) + 2) + payload

    # canonical table: bits=[1,2,0,...] huffval=[0,1,2]
    # -> cat0='0', cat1='10', cat2='11'
    dht = bytes([0x00]) + bytes([1, 2] + [0] * 14) + bytes([0, 1, 2])
    sof = _struct.pack(">BHHB", 8, 2, 2, 1) + bytes([1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 1, 0, 0])  # 1 comp, predictor 1, pt 0
    # entropy bits: cat2 '11' + '10', cat1 '10' + '1', cat2 '11'+'01',
    # cat2 '11'+'10' -> 1110 1011 1011 110(pad 1)
    entropy = bytes([0b11101011, 0b10111101])
    stream = (
        b"\xff\xd8" + seg(0xC3, sof) + seg(0xC4, dht) + seg(0xDA, sos)
        + entropy + b"\xff\xd9"
    )
    dec = J.decode_jpeg(stream)
    np.testing.assert_array_equal(
        dec, np.array([[130, 131], [128, 130]], dtype=np.uint8)
    )


# ---------------------------------------------------------------------------
# arithmetic coding (SOF9/SOF10, T.81 Annex D QM-coder)
# ---------------------------------------------------------------------------
#
# The fixture pairs below were produced with libjpeg (jpeg_mem_dest with
# arith_code=TRUE, then a lossless jpeg_read_coefficients /
# jpeg_write_coefficients transcode to Huffman), so each arithmetic file
# carries EXACTLY the same DCT coefficients as its Huffman twin: decoding
# both through this module must give pixel-identical output. This pins the
# arithmetic entropy layer against an independent, interoperable encoder.

_GRAY_ARITH = base64.b64decode(
    "/9j/4AAQSkZJRgABAQAAAQABAAD/2wBDAAMCAgMCAgMDAwMEAwMEBQgFBQQEBQoHBwYIDAoMDAsK"
    "CwsNDhIQDQ4RDgsLEBYQERMUFRUVDA8XGBYUGBIUFRT/yQALCAAdACUBAREA/8wABgAQEAX/2gAI"
    "AQEAAD8A/wDdsYKqKAzV8R7cMIi3G0o1fd2pefZQNkIhFtr0ev8Azf5NA4/9Z2TyRfJ0p4kUv4dp"
    "s1+vYHLt8GcWBSaRamsjT8syTfO15LoY2geLpomLSpOUuTyl+DFz+q8xsZ92o3cmFVRzZ/QyIQb0"
    "8SpHSAWcZTMq3WSVaQrOGajgZF/zhW/ZVQIdVxuHJXSecJZCserTQm5+EQjjm8mXqQ+iOutxBdI7"
    "gPgAdWRwNjEAP6Ls5r5R+Fq/hFgcdvdd9xpnbiZEH7QlplcVByThyU221q8jMyvCqzm72JMEX5sP"
    "gl/PVFnoZJ1O0vX5YPYi1Np2Dc6EJ7BPN/6/D797XSD2TJimSOXza5xJAejfAIGjq/rpCPUdTvux"
    "lLQQvhKkxJjyrCkopNmM1GM/w9bPG1JG+q8/glAafxr7jAAGjcy7cN0Mkj0cyYj9yq5GwbNTok8t"
    "AOqlwlWGAmKkD30qMsR+3umfiCKK9O8vO7iwnfV6VicuhiDqcZVvYCq7gvm0aRG6vEw/VIz6V0Dc"
    "/mfAl2cusZpdelwXe9iRCtrISc/nplhrO1SG3iZTHYN7gMSNVYE429t1O34nPOrOYXSIo1+iFh+5"
    "0gjMLYvwZuFNp2P9nXIIvSHCcMK5omJFuDjx/g2wUzK29nY9D5dubmyzhp7o0eojZgau3b/9KJsz"
    "LSJe0mZicPgguL+Db91TyEi4skiRKeWQv67Qjc9t6tuwelnLTqJKviqLmcKpCc08/rdVN1IDF8jX"
    "mlgHTzqDX6IO69/EMsdHtCPernpXW1lvQHXU3CjFb5WTNafJIzajuhnjnb9gX3GiFHpfS22sQquo"
    "+ONCljWbF1K7U1w1axYoWT/dhWtvDfnRq2hrSEO9JPVsJyTbc+SOjvpjlk0bu9b8PQ45GeGcjThV"
    "aP2N2B8noOzBAsKy8K021aLEA543RO4zU1Zl+3HEdt8pmbTw/9k="
)

_GRAY_HUFF = base64.b64decode(
    "/9j/4AAQSkZJRgABAQAAAQABAAD/2wBDAAMCAgMCAgMDAwMEAwMEBQgFBQQEBQoHBwYIDAoMDAsK"
    "CwsNDhIQDQ4RDgsLEBYQERMUFRUVDA8XGBYUGBIUFRT/wAALCAAdACUBAREA/8QAHwAAAQUBAQEB"
    "AQEAAAAAAAAAAAECAwQFBgcICQoL/8QAtRAAAgEDAwIEAwUFBAQAAAF9AQIDAAQRBRIhMUEGE1Fh"
    "ByJxFDKBkaEII0KxwRVS0fAkM2JyggkKFhcYGRolJicoKSo0NTY3ODk6Q0RFRkdISUpTVFVWV1hZ"
    "WmNkZWZnaGlqc3R1dnd4eXqDhIWGh4iJipKTlJWWl5iZmqKjpKWmp6ipqrKztLW2t7i5usLDxMXG"
    "x8jJytLT1NXW19jZ2uHi4+Tl5ufo6erx8vP09fb3+Pn6/9oACAEBAAA/APljwD4GVJ7Ypb+aHKtg"
    "gDCk/dwOTySfwB57fSXw58CxI6KsK/KUaMDgHrnkc9QBxgAgfj9N+AfAkdgUjb5MMFba5BIAJGOf"
    "oAT2HSqn7Tn7S/hT9mfwbdaZPqU8Hja/itobCxtIIZZ9NS48+NdQENwVSdYTbzkxZ+Z1hSQokwkH"
    "5Wape+L/AItiSfxXr99qZjvbu/jilum+zxT3cpnuXhhA8uLzJDuYRqqk9uK+xPh54BDT2qgAIrkk"
    "4CsDwBjGCRwRgenboPpHwB8NYDLGIYW2qCTztCAHknv35AxkMO4zVv8Aah+M+j/AX4N6heWPiVNN"
    "8Uvex6eh0ebTZb6wJ8h5ZhZ3TYuCkMsLtCoLslxH80SP58f5ZeK9d8WfHLx7qPi/xhf3Gp3t/M/l"
    "28k0skNnE8zypbwK7OyQI0jbEzhQGGCTk+q+GfAcKWsjXVuI2yEVd20AD0BI457E/hX3n8Pfh8ZY"
    "rWFYFZ4gu5tgc9Mkc+hB4H681sfGv9pHwV+y9o+nw61eWEniW7tLm+s9CM06zTRpDII1UxQTCNZZ"
    "wkQaUxoAZXDEwlG/KvxVr8/xc+JfjDX4LGXw5p3irWTrUmg2dzLNAlxmQrKzOx8yX99Md+AAZpNi"
    "oh8seq/Dn4clrqNmhfa6EmdRu6DAyMnsQfxJ9MfRXhf4fxw6coljCPgH5XYkjnrtYdTk/ia+rPEm"
    "pt8NPhd4v8X6fa2t1caDpz6t9lukYpNFBEZ5IAQwKM8aPGr8hGZXKOFMbfjP47+Kus/H7xvq3iHV"
    "J5bbSLnULy+0vw+XV7XSUuHMkiQqqogZsL5kgRWlcGSTc7MT6l4I8IWkyHBOIVDYcbt3yh/X2x+J"
    "r6W8B6DbzsRIAxBVSdo7uFbHpnrnr7njH0N4R8M2UmjJJErwjOzaGzwAD/U/ma//2Q=="
)

_RGB_ARITH = base64.b64decode(
    "/9j/4AAQSkZJRgABAQAAAQABAAD/2wBDAAUDBAQEAwUEBAQFBQUGBwwIBwcHBw8LCwkMEQ8SEhEP"
    "ERETFhwXExQaFRERGCEYGh0dHx8fExciJCIeJBweHx7/2wBDAQUFBQcGBw4ICA4eFBEUHh4eHh4e"
    "Hh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh7/yQARCAAiAC0DASIA"
    "AhEBAxEB/8wACgAQEAUBEBEF/90ABAAC/9oADAMBAAIRAxEAPwD/ANtSoJ7rHHaeBJhJpBmsWcwp"
    "2Z4Sf+jg7wvLDg2UKFOqCbJ8HF9FCJjrnCjsDMkbETCrlh++cVNGTDleV0B5LdDAlM+h+iN0Q70c"
    "u6pS+mf8uczGD67T3lXzXyNPG12SCjDVRitII/XX/wBWRxQvzvEZVFW4hQtK3Zf8dnReYwy1cE7U"
    "RkqHreQDO3u4J+dKf4tMMHzfXTdqi+9Igg26cFjwygmWpi9sSKiUYztUUt5lA9Sm9n4mdYDhOuw5"
    "oBUpKU2X4zj/0P8AoagL3C5cz5cE/wAmCK/0nXOqEPsVHcO9grg7nEThH9SbKJGn21gSMZ8MnJpu"
    "zqIWzJ6ffEqmIS9c3J/HncFx6tBRDJnK6rWD7si26Q0N1x0IRZoYssMxouz25cl594bShh3iDpXh"
    "dgxwQ9muWmWM32SOkrTvRbOT4azNdiuESbNTNgCi6RIRhzXA3NJw3a8g+ydMoV0FF0d1vQIwnUSv"
    "z4jf3riVyzKVHd9Caq1Qf6wy4KndPk76DLYU56CTkYoHgP/R0Mh2IRgZ7UpRpfGTtMdpXqDcrG5q"
    "qK0Swxd/iXcVaPkzNgRBHFPYMAHAbePL7LWtEcizCzIbxkbpT97XIc/ZKpGLHhOUA3koPRK+SUqe"
    "mF57sf8Aq5r7tPeqdk73h32V13Be4aWqYYrSYMcK5ZbOa/Zk/c4PnOlGeNHUlBcwo1fBK51SV3jd"
    "m/3RKcmEkayHgDB/sykqmZKCW+cLcDmsL5ySQtRbh4TOn7EBDyPvvgfAQek3i0DBzOA+1py2NVzc"
    "2EFpTlNCKZ6R4g7ED6jCTED/0tKCWdYfU9bxre8s3s5sIU5ihGZ4gbevKrxp/Wze+ehs4Mq6XPEI"
    "OH1oKKOid7BR5lX3VDgkiZawU0hZgzVUBT4xXVJqI5/0YJpCp673tZJbgcB0IkmYsP/T0svEL847"
    "q3KeW5SY8N6L8Rpb5rdPELMiVESR3Ay7rnRgxqiFnS2K5AzWttnWqP/Z"
)

_RGB_HUFF = base64.b64decode(
    "/9j/4AAQSkZJRgABAQAAAQABAAD/2wBDAAUDBAQEAwUEBAQFBQUGBwwIBwcHBw8LCwkMEQ8SEhEP"
    "ERETFhwXExQaFRERGCEYGh0dHx8fExciJCIeJBweHx7/2wBDAQUFBQcGBw4ICA4eFBEUHh4eHh4e"
    "Hh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh7/wAARCAAiAC0DASIA"
    "AhEBAxEB/8QAHwAAAQUBAQEBAQEAAAAAAAAAAAECAwQFBgcICQoL/8QAtRAAAgEDAwIEAwUFBAQA"
    "AAF9AQIDAAQRBRIhMUEGE1FhByJxFDKBkaEII0KxwRVS0fAkM2JyggkKFhcYGRolJicoKSo0NTY3"
    "ODk6Q0RFRkdISUpTVFVWV1hZWmNkZWZnaGlqc3R1dnd4eXqDhIWGh4iJipKTlJWWl5iZmqKjpKWm"
    "p6ipqrKztLW2t7i5usLDxMXGx8jJytLT1NXW19jZ2uHi4+Tl5ufo6erx8vP09fb3+Pn6/8QAHwEA"
    "AwEBAQEBAQEBAQAAAAAAAAECAwQFBgcICQoL/8QAtREAAgECBAQDBAcFBAQAAQJ3AAECAxEEBSEx"
    "BhJBUQdhcRMiMoEIFEKRobHBCSMzUvAVYnLRChYkNOEl8RcYGRomJygpKjU2Nzg5OkNERUZHSElK"
    "U1RVVldYWVpjZGVmZ2hpanN0dXZ3eHl6goOEhYaHiImKkpOUlZaXmJmaoqOkpaanqKmqsrO0tba3"
    "uLm6wsPExcbHyMnK0tPU1dbX2Nna4uPk5ebn6Onq8vP09fb3+Pn6/9oADAMBAAIRAxEAPwD5rtdJ"
    "LkEhXVDnGONvUZ+nP5+9a9lpKucIdxbLAKDwR7966e10pCpwqg7MqBzjj+Yz/wDrrVstKQyH5GDf"
    "KCqrtxnnBHpz16/1/QK+MSkrtO+7v62S1v8ACtmmre93PJyrOdtTl4dLG6MCJiGY4G3sRx/+r2rX"
    "s9IZnIdD94jaQWIH+e+feupg0uQ8ABDk7QRgjr1PYf4GtSDR9pVBlm4GdoOTnHP45xXh4vE2lKer"
    "V9tF0Wm9+l916J2P0vKc52VznINJjmfeqsAcEHIx14OQeue5rWsdMPlHeTGMnHzAZ5//AFV0VtpL"
    "GPdhjggnf1UZzg+/HWtSHTNkS7Vgyckl168/jXmzzlUq3tnppdvRXu7beu2tl66H6RlubXja5xcG"
    "kDywgQKc4UELhjg49efyrZsdIAkdcglsYCkZPU59P8j8eitNJUzAKB8oLKU53njr3rXs9KXAOF+V"
    "SQCM7eh5z6c8fX8PJnmCVTm7ab9lZ22XV9LPR2abP4ayrONFqcxYaYQoXKLGvXJycEdsfT0HUd62"
    "rXTmC7mVR0HTPPGMLnIPT9K6W30oBVeKNsZ+Zs9c/wAyD25rRs9NQtub74zkFenHPGMdvTvXi4nM"
    "3hkqTnq7eSt5N222SVtnqkfpeVZvezOct9IVxjgBgMkdMAZx3xz/ADrattL2RtiMDLkkc4HA6EA5"
    "H5V0ljpOduw7Sy5wBggkAE59OhrRtdFBUljuYYHERbp0PHrXk1MxqUZc1NK7e90lbfq/NtLTdtq+"
    "36RlucJx1Z5vp6r5sRwMs75OOvBrR0/ny2PLYc5PXof8B+VFFctb+FH/AK+L/wBsP5Byrf5HQqiL"
    "91VHDdB6EY/ma1IFUwSkgEqFAyOny5oornx38Or6fpI/R8p3RrWoG25bA3LjB7jpVy8RA6gKoG0d"
    "vYUUV8nxH/uFT/G//SpH6Zk+69D/2Q=="
)

_RGB_PARITH = base64.b64decode(
    "/9j/4AAQSkZJRgABAQAAAQABAAD/2wBDAAUDBAQEAwUEBAQFBQUGBwwIBwcHBw8LCwkMEQ8SEhEP"
    "ERETFhwXExQaFRERGCEYGh0dHx8fExciJCIeJBweHx7/2wBDAQUFBQcGBw4ICA4eFBEUHh4eHh4e"
    "Hh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh7/ygARCAAiAC0DASIA"
    "AhEBAxEB/8wABgAQARD/2gAMAwEAAhADEAAAAf8Aton5CuKiIZroGf3i5JCNeHArkwaeu4advYFm"
    "jsrRxMTtiXKq4YU1prxHt/mlL8OwSNoQ/8wABBAF/9oACAEBAAEFAh6N0Eufa0iZbiTiX89D08UQ"
    "77rqNLMsyd/W6CspfB3ebmk4jdC/vcF+/8wABBEF/9oACAEDAQE/ARWYfppW3DH4Lh5KPHN+/8wA"
    "BBEF/9oACAECAQE/AT3VS31AAABDldoSE5rvO9pi18JP3Evigo5izHakMnelxgbSPpT+ZtbXiODG"
    "/8wABBAF/9oACAEBAAY/At9PYsHcOUUPuWLFzv8AIMD/zAAEEAX/2gAIAQEAAT8h2Jyc9lI83MKb"
    "DYUCl/T5uOUWj9ZXAgIn/wDVK8POsDPZ4sOeNrvXWmFVpuVoh8TdlOjTJijXt/q3t4JmtbyQJWeA"
    "Xapvm9eVd2Aoj68zc3BKWiomnDHPniU18ZdkbZOU4lliygyoajIlBg/Q/9oADAMBAAIAAwAAABA5"
    "NQNS3KfM/8wABBEF/9oACAEDAQE/ENUeh7XOaA7WQ1exahj651lp/8wABBEF/9oACAECAQE/ENFN"
    "mpIW6Vtfayv98Ioi/Yh9z1lr3ZvCr28rIxi3pQI3v5gE5DG+6bnzggXgQY8OkgKNL3FC/WJHnxDO"
    "qXbVbrz5ZTMHkL+iTopPpWuqYtHFW12g4z38cPkhu59ZTX5Y/8wABBAF/9oACAEBAAE/EIxQsDHI"
    "Hm3d/JUuvnu3x9JHcQ7tgmr2mS96zv2QirdQngqSlMl3ESh0jPzWQpoqnzlEkqhTFswG9+i2yf25"
    "X83kRHQ64G5ORbL02giRBfMUDxmei0cyj3MVSkaKD0AQMKT0WfFVC1abiUbH9SSU1YUy6p9U3GYo"
    "OPXhSpUR8rAzE1qt1hrgR76WyjV8sVryim4sf07ktVWG7a0p/Jr73PNULgCPrlfksGsoWraCX7qk"
    "RKZL1SfENKuz3Q84BMBPyDtX396f+vhPPXGXusyGzSTn3Rj9K3cf2slwGjXywnC6SSiHnozwfuwm"
    "9STPPGV0ltJY4UufytfZoP/Z"
)

_RGB_PARITH_HUFF = base64.b64decode(
    "/9j/4AAQSkZJRgABAQAAAQABAAD/2wBDAAUDBAQEAwUEBAQFBQUGBwwIBwcHBw8LCwkMEQ8SEhEP"
    "ERETFhwXExQaFRERGCEYGh0dHx8fExciJCIeJBweHx7/2wBDAQUFBQcGBw4ICA4eFBEUHh4eHh4e"
    "Hh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh4eHh7/wAARCAAiAC0DASIA"
    "AhEBAxEB/8QAHwAAAQUBAQEBAQEAAAAAAAAAAAECAwQFBgcICQoL/8QAtRAAAgEDAwIEAwUFBAQA"
    "AAF9AQIDAAQRBRIhMUEGE1FhByJxFDKBkaEII0KxwRVS0fAkM2JyggkKFhcYGRolJicoKSo0NTY3"
    "ODk6Q0RFRkdISUpTVFVWV1hZWmNkZWZnaGlqc3R1dnd4eXqDhIWGh4iJipKTlJWWl5iZmqKjpKWm"
    "p6ipqrKztLW2t7i5usLDxMXGx8jJytLT1NXW19jZ2uHi4+Tl5ufo6erx8vP09fb3+Pn6/8QAHwEA"
    "AwEBAQEBAQEBAQAAAAAAAAECAwQFBgcICQoL/8QAtREAAgECBAQDBAcFBAQAAQJ3AAECAxEEBSEx"
    "BhJBUQdhcRMiMoEIFEKRobHBCSMzUvAVYnLRChYkNOEl8RcYGRomJygpKjU2Nzg5OkNERUZHSElK"
    "U1RVVldYWVpjZGVmZ2hpanN0dXZ3eHl6goOEhYaHiImKkpOUlZaXmJmaoqOkpaanqKmqsrO0tba3"
    "uLm6wsPExcbHyMnK0tPU1dbX2Nna4uPk5ebn6Onq8vP09fb3+Pn6/9oADAMBAAIRAxEAPwD5rtdJ"
    "LkEhXVDnGONvUZ+nP5+9a9lpKucIdxbLAKDwR7966e10pCpwqg7MqBzjj+Yz/wDrrVstKQyH5GDf"
    "KCqrtxnnBHpz16/1/QK+MSkrtO+7v62S1v8ACtmmre93PJyrOdtTl4dLG6MCJiGY4G3sRx/+r2rX"
    "s9IZnIdD94jaQWIH+e+feupg0uQ8ABDk7QRgjr1PYf4GtSDR9pVBlm4GdoOTnHP45xXh4vE2lKer"
    "V9tF0Wm9+l916J2P0vKc52VznINJjmfeqsAcEHIx14OQeue5rWsdMPlHeTGMnHzAZ5//AFV0VtpL"
    "GPdhjggnf1UZzg+/HWtSHTNkS7Vgyckl168/jXmzzlUq3tnppdvRXu7beu2tl66H6RlubXja5xcG"
    "kDywgQKc4UELhjg49efyrZsdIAkdcglsYCkZPU59P8j8eitNJUzAKB8oLKU53njr3rXs9KXAOF+V"
    "SQCM7eh5z6c8fX8PJnmCVTm7ab9lZ22XV9LPR2abP4ayrONFqcxYaYQoXKLGvXJycEdsfT0HUd62"
    "rXTmC7mVR0HTPPGMLnIPT9K6W30oBVeKNsZ+Zs9c/wAyD25rRs9NQtub74zkFenHPGMdvTvXi4nM"
    "3hkqTnq7eSt5N222SVtnqkfpeVZvezOct9IVxjgBgMkdMAZx3xz/ADrattL2RtiMDLkkc4HA6EA5"
    "H5V0ljpOduw7Sy5wBggkAE59OhrRtdFBUljuYYHERbp0PHrXk1MxqUZc1NK7e90lbfq/NtLTdtq+"
    "36RlucJx1Z5vp6r5sRwMs75OOvBrR0/ny2PLYc5PXof8B+VFFctb+FH/AK+L/wBsP5Byrf5HQqiL"
    "91VHDdB6EY/ma1IFUwSkgEqFAyOny5oornx38Or6fpI/R8p3RrWoG25bA3LjB7jpVy8RA6gKoG0d"
    "vYUUV8nxH/uFT/G//SpH6Zk+69D/2Q=="
)


def test_arith_sequential_gray_matches_huffman_twin():
    a = decode_jpeg(_GRAY_ARITH)
    h = decode_jpeg(_GRAY_HUFF)
    assert a.shape == (29, 37)
    np.testing.assert_array_equal(a, h)


def test_arith_sequential_color_restart_matches_huffman_twin():
    # 3-component 4:2:0 with DRI=2 and RST markers in the arithmetic scan
    assert b"\xff\xdd" in _RGB_ARITH.split(b"\xff\xda")[0]
    a = decode_jpeg(_RGB_ARITH)
    h = decode_jpeg(_RGB_HUFF)
    assert a.shape == (34, 45, 3)
    np.testing.assert_array_equal(a, h)


def test_arith_progressive_matches_huffman_twin():
    # SOF10: multi-scan progressive arithmetic (DC first/refine, AC
    # first/refine with per-scan DAC segments)
    assert _RGB_PARITH[_RGB_PARITH.find(b"\xff\xca") + 1] == 0xCA
    a = decode_jpeg(_RGB_PARITH)
    h = decode_jpeg(_RGB_PARITH_HUFF)
    np.testing.assert_array_equal(a, h)


@pytest.mark.parametrize(
    "shape,kwargs",
    [
        ((41, 53), {}),
        ((35, 47, 3), {}),
        ((40, 48, 3), {"subsample": True}),
        ((33, 70), {"restart_interval": 3}),
    ],
)
def test_arith_encode_decodes_identically_to_huffman(shape, kwargs):
    """encode_jpeg(arithmetic=True) writes the same coefficients through
    the QM-coder; decoding must match the Huffman encoding bit-exactly.
    (The encoder was additionally cross-validated against libjpeg's
    decoder: jpeg_read_coefficients on our SOF9 output returns the same
    coefficients as on our Huffman output.)"""
    rng = np.random.RandomState(3)
    img = (rng.rand(*shape) * 255).astype(np.uint8)
    a = encode_jpeg(img, quality=85, arithmetic=True, **kwargs)
    hf = encode_jpeg(img, quality=85, **kwargs)
    assert a[3] == 0xC9 or b"\xff\xc9" in a  # SOF9 frame
    assert b"\xff\xcc" in a  # DAC conditioning
    assert b"\xff\xc4" not in a.split(b"\xff\xda")[0]  # no DHT
    np.testing.assert_array_equal(decode_jpeg(a), decode_jpeg(hf))
    assert len(a) < len(hf)  # adaptive coding beats our canonical Huffman


def test_arith_entropy_is_byte_stuffed():
    rng = np.random.RandomState(9)
    img = (rng.rand(64, 64) * 255).astype(np.uint8)
    blob = encode_jpeg(img, quality=95, arithmetic=True)
    body = blob.split(b"\xff\xda", 1)[1][8:]
    i = 0
    while i < len(body) - 2:
        if body[i] == 0xFF:
            assert body[i + 1] in (0x00,) or body[i + 1] == 0xD9
            i += 2
        else:
            i += 1


@pytest.mark.parametrize(
    "shape,kwargs",
    [((41, 53), {}), ((35, 47, 3), {}), ((40, 48, 3), {"subsample": True})],
)
def test_arith_progressive_encode_decodes_identically(shape, kwargs):
    """Progressive arithmetic encoding (SOF10 scan script: DC first/
    refine + per-component AC first/refine through the QM-coder) carries
    the same coefficients as the baseline encoding. (Cross-validated
    against libjpeg during development: jpeg_read_coefficients on our
    SOF10 output equals our baseline output, all three shapes.)"""
    rng = np.random.RandomState(5)
    img = (rng.rand(*shape) * 255).astype(np.uint8)
    pa = encode_jpeg(img, quality=85, arithmetic=True, progressive=True, **kwargs)
    assert b"\xff\xca" in pa.split(b"\xff\xda")[0]  # SOF10
    base = encode_jpeg(img, quality=85, **kwargs)
    np.testing.assert_array_equal(decode_jpeg(pa), decode_jpeg(base))
    assert len(pa) < len(
        encode_jpeg(img, quality=85, progressive=True, **kwargs)
    )


def test_arith_progressive_restart_gated():
    img = np.zeros((8, 8), np.uint8)
    with pytest.raises(NotImplementedError):
        encode_jpeg(img, arithmetic=True, progressive=True, restart_interval=2)


def test_qm_table_invariants():
    # 113 adaptive states + the fixed ~0.5 bin; transitions stay in range;
    # the fixed bin never escapes itself (AC signs / DC refinement bits)
    assert len(J._QM_TABLE) == 114
    for qe, nmps, nlps, switch in J._QM_TABLE:
        assert 0 < qe <= 0x5B12
        assert 0 <= nmps < 114 and 0 <= nlps < 114
    assert J._QM_TABLE[113][1:] == (113, 113, 0)
    assert J._QM_TABLE[0][:2] == (0x5A1D, 1)


def test_hierarchical_lossless_pyramid_exact():
    """T.81 Annex J: DHP + SOF3 first frame + EXP + SOF7 differential
    refinements decode to the EXACT input (all-lossless pyramid),
    including odd dimensions where the expanded reference is trimmed."""
    from pangeo_forge_recipes_spark.jpegio import encode_jpeg_hierarchical

    rng = np.random.RandomState(6)
    for shape in [(16, 16), (17, 13), (8, 8), (33, 9)]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        blob = encode_jpeg_hierarchical(img, levels=3)
        assert b"\xff\xde" in blob  # DHP present
        assert b"\xff\xc7" in blob  # differential lossless frames
        np.testing.assert_array_equal(decode_jpeg(blob), img)


def test_hierarchical_dct_to_lossless_exact():
    """The classic progressive-to-lossless use: SOF0 first frame, SOF5
    differential-DCT refinement, final SOF7 lossless refinement — lossy
    intermediate stages, exact final reconstruction."""
    from pangeo_forge_recipes_spark.jpegio import encode_jpeg_hierarchical

    rng = np.random.RandomState(7)
    for shape in [(32, 32), (24, 17)]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        blob = encode_jpeg_hierarchical(img, levels=3, dct_quality=75)
        assert b"\xff\xc5" in blob  # differential sequential DCT frame
        assert b"\xff\xc7" in blob  # final lossless differential frame
        np.testing.assert_array_equal(decode_jpeg(blob), img)


def test_hierarchical_stream_errors():
    from pangeo_forge_recipes_spark.jpegio import encode_jpeg_hierarchical

    img = np.zeros((8, 8), np.uint8)
    blob = bytearray(encode_jpeg_hierarchical(img, levels=2))
    # EXP before any reference frame
    dhp_end = blob.find(b"\xff\xc3")
    bad = bytes(blob[:dhp_end]) + b"\xff\xdf\x00\x03\x11" + bytes(blob[dhp_end:])
    with pytest.raises(ValueError, match="EXP before any reference"):
        decode_jpeg(bad)


def test_fast_scan_paths_match_generic_decoder():
    """The inlined fast scan decoders (baseline + progressive) must be
    bit-identical to the generic reader-object path across every encode
    shape that reaches them: gray/RGB, 4:2:0, restart intervals,
    progressive scan scripts, 12-bit precision, odd dimensions."""
    import numpy as np

    from pangeo_forge_recipes_spark import jpegio as J

    rng = np.random.RandomState(11)
    cases = []
    for shape in [(8, 8), (17, 23), (41, 67, 3)]:
        img = (rng.rand(*shape) * 255).astype(np.uint8)
        for prog in (False, True):
            for sub in (False, True):
                if sub and len(shape) == 2:
                    continue
                for ri in (0, 3):
                    if prog and ri:
                        continue  # encoder limits DRI to baseline
                    cases.append(
                        (img, dict(progressive=prog, subsample=sub,
                                   restart_interval=ri))
                    )
    img12 = (rng.rand(24, 40) * 4095).astype(np.uint16)
    cases.append((img12, dict(precision=12)))
    cases.append((img12, dict(precision=12, progressive=True)))

    J._NATIVE_ENTROPY = False  # this test pins the PURE decoders
    try:
        for img, kw in cases:
            buf = J.encode_jpeg(img, **kw)
            fast = J.decode_jpeg(buf)
            J._FAST_SCAN = False
            try:
                slow = J.decode_jpeg(buf)
            finally:
                J._FAST_SCAN = True
            assert fast.shape == slow.shape and (fast == slow).all(), kw
    finally:
        J._NATIVE_ENTROPY = True


def test_fast_scan_matches_generic_on_corrupt_streams():
    """The fast/generic equality invariant must hold on MALFORMED input
    too (same pixels or the same failure), incl. baseline EOBn symbols
    that a corrupt stream can produce: flip bytes inside the entropy
    region and compare both paths."""
    import numpy as np

    from pangeo_forge_recipes_spark import jpegio as J

    rng = np.random.RandomState(3)
    img = (rng.rand(32, 48) * 255).astype(np.uint8)
    J._NATIVE_ENTROPY = False  # the invariant under test is pure-vs-pure
    try:
        for prog in (False, True):
            buf = bytearray(J.encode_jpeg(img, progressive=prog))
            sos = bytes(buf).find(b"\xff\xda")
            lo = sos + 40  # inside entropy data
            for seed in range(15):
                r = np.random.RandomState(seed)
                mut = bytearray(buf)
                for _ in range(2):
                    i = r.randint(lo, len(mut) - 4)
                    mut[i] ^= 1 << r.randint(8)
                mb = bytes(mut)

                def run():
                    try:
                        return ("ok", J.decode_jpeg(mb))
                    except Exception as e:  # noqa: BLE001
                        return ("err", type(e).__name__, str(e)[:60])

                fast = run()
                J._FAST_SCAN = False
                try:
                    slow = run()
                finally:
                    J._FAST_SCAN = True
                if fast[0] == "ok" and slow[0] == "ok":
                    assert (fast[1] == slow[1]).all(), (prog, seed)
                else:
                    assert fast[0] == slow[0] == "err", (prog, seed, fast[0], slow[0])
    finally:
        J._NATIVE_ENTROPY = True


def test_native_entropy_path_matches_pure():
    """When the libjpeg coefficient shim is available, the native path's
    pixels must equal the pure decoders' BIT-FOR-BIT (coefficients are a
    lossless product of entropy decoding; dequant+IDCT is shared code).
    Unsupported frames (12-bit, arithmetic, lossless, hierarchical) must
    fall back to the pure path transparently."""
    import numpy as np

    from pangeo_forge_recipes_spark import jpegio as J
    from pangeo_forge_recipes_spark import nativejpeg

    if not nativejpeg.available():
        import pytest

        pytest.skip("no C toolchain / jpeglib.h on this machine")

    rng = np.random.RandomState(5)
    img = (rng.rand(41, 67) * 255).astype(np.uint8)
    img3 = (rng.rand(41, 67, 3) * 255).astype(np.uint8)
    cases = [
        J.encode_jpeg(img),
        J.encode_jpeg(img3),
        J.encode_jpeg(img3, progressive=True),
        J.encode_jpeg(img3, subsample=True, restart_interval=4),
        J.encode_jpeg(img, progressive=True),
    ]
    for buf in cases:
        a = J.decode_jpeg(buf)  # native
        J._NATIVE_ENTROPY = False
        try:
            b = J.decode_jpeg(buf)  # pure
        finally:
            J._NATIVE_ENTROPY = True
        assert a.shape == b.shape and (a == b).all()
    # fallback matrix: native cannot serve these; results still correct
    img12 = (rng.rand(24, 40) * 4095).astype(np.uint16)
    for buf in (
        J.encode_jpeg(img12, precision=12),
        J.encode_jpeg(img, arithmetic=True),
        J.encode_jpeg_lossless(img),
        J.encode_jpeg_hierarchical(img),
    ):
        a = J.decode_jpeg(buf)
        J._NATIVE_ENTROPY = False
        try:
            b = J.decode_jpeg(buf)
        finally:
            J._NATIVE_ENTROPY = True
        assert (np.asarray(a) == np.asarray(b)).all()


def test_native_entropy_rejects_corrupt_streams():
    """Corrupt-but-recoverable streams (libjpeg patches them over with
    warnings) must NOT decode to garbage on the native path: the shim
    fails on any warning and decode_jpeg falls back to the strict pure
    decoders, which raise."""
    import numpy as np
    import pytest

    from pangeo_forge_recipes_spark import jpegio as J
    from pangeo_forge_recipes_spark import nativejpeg

    if not nativejpeg.available():
        pytest.skip("no C toolchain / jpeglib.h on this machine")
    rng = np.random.RandomState(9)
    img = (rng.rand(32, 48) * 255).astype(np.uint8)
    buf = J.encode_jpeg(img)
    with pytest.raises(Exception):
        J.decode_jpeg(buf[: len(buf) // 2])  # truncated entropy data
