"""Pure-stdlib media decoders: PNG (all 5 filters), BMP, WAV, resize kernel.
No Spark needed — the decode core is plain numpy."""

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from libpostal_spark import media as M


def encode_png(img: np.ndarray) -> bytes:
    """Minimal PNG writer (filter 0 rows) — test fixture generator."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    scan = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (
        M.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )


def _rand_img(h, w, ch, seed=0):
    return np.random.default_rng(seed).integers(0, 256, (h, w, ch), dtype=np.uint8)


def test_png_roundtrip_filter0():
    img = _rand_img(13, 7, 3)
    assert np.array_equal(M.decode_png(encode_png(img)), img)
    gray = _rand_img(5, 9, 1, seed=1)
    assert np.array_equal(M.decode_png(encode_png(gray)), gray)
    rgba = _rand_img(6, 6, 4, seed=2)
    assert np.array_equal(M.decode_png(encode_png(rgba)), rgba)


def _png_with_filters(img, filters):
    """Encode applying the PNG spec's forward filters row-by-row."""
    h, w, ch = img.shape
    prev = np.zeros(w * ch, dtype=np.int32)
    scan = b""
    for y in range(h):
        row = img[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        if f == 0:
            filt = row
        elif f == 1:
            left = np.concatenate([np.zeros(ch, np.int32), row[:-ch]])
            filt = (row - left) % 256
        elif f == 2:
            filt = (row - prev) % 256
        elif f == 3:
            left = np.concatenate([np.zeros(ch, np.int32), row[:-ch]])
            filt = (row - (left + prev) // 2) % 256
        else:  # 4 Paeth
            filt = np.empty(w * ch, dtype=np.int32)
            for x in range(w * ch):
                a = row[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[x] = (row[x] - pred) % 256
        scan += bytes([f]) + bytes(filt.astype(np.uint8))
        prev = row

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}[ch], 0, 0, 0)
    return (M.PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b""))


@pytest.mark.parametrize("filters", [[1], [2], [3], [4], [0, 1, 2, 3, 4]])
def test_png_all_filter_types(filters):
    img = _rand_img(10, 6, 3, seed=7)
    assert np.array_equal(M.decode_png(_png_with_filters(img, filters)), img)


def test_bmp_roundtrip_24bpp():
    img = _rand_img(5, 3, 3, seed=3)          # RGB
    h, w, _ = img.shape
    row_bytes = (w * 3 + 3) & ~3
    body = b""
    for y in range(h - 1, -1, -1):            # bottom-up
        bgr = img[y][:, ::-1].tobytes()
        body += bgr + b"\x00" * (row_bytes - len(bgr))
    header = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                            2835, 2835, 0, 0))
    assert np.array_equal(M.decode_bmp(header + body), img)


def test_wav_decode_pcm16():
    rate, n = 8000, 800
    t = np.arange(n) / rate
    sig = (np.sin(2 * np.pi * 440 * t) * 20000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(sig.tobytes())
    samples, got_rate = M.decode_wav(buf.getvalue())
    assert got_rate == rate and samples.shape == (n, 1)
    assert np.allclose(samples[:, 0], sig / 32768.0)


def test_block_mean_matches_naive():
    img = _rand_img(17, 11, 1, seed=5)[:, :, 0].astype(np.float64)
    got = M.block_mean_2d(img, 4, 3)
    ys = (np.arange(5) * 17) // 4
    xs = (np.arange(4) * 11) // 3
    for i in range(4):
        for j in range(3):
            want = img[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean()
            assert abs(got[i, j] - want) < 1e-4


def test_decode_payload_features_and_boundary():
    img = np.full((8, 8, 3), 255, dtype=np.uint8)
    fmt, vec = M.decode_payload(encode_png(img), dim=16)
    assert fmt == "png" and len(vec) == 16
    assert np.allclose(vec, 1.0)              # white image → luma grid = +1
    with pytest.raises(NotImplementedError):
        M.decode_payload(b"\xff\xd8\xff jpeg-ish", dim=16)


def test_decode_media_features_spark(spark):
    """Spark-level: real BMP/PNG/WAV payloads decode through mapInPandas;
    an unsupported payload falls back to the sha-fake with provenance."""
    import pandas as pd

    from libpostal_spark.operators import multimodal

    img = _rand_img(8, 8, 3, seed=9)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes((np.zeros(100, dtype="<i2")).tobytes())
    rows = pd.DataFrame(
        {
            "media_id": [0, 1, 2],
            "kind": ["image", "audio", "video"],
            "payload": [encode_png(img), buf.getvalue(), b"\x00\x01notaformat"],
            "width": [8, 0, 0],
            "height": [8, 0, 0],
            "duration_ms": [0, 0, 1000],
        }
    )
    media = spark.createDataFrame(rows)
    got = {
        r["media_id"]: r
        for r in multimodal.decode_media_features(media, dim=16).collect()
    }
    assert got[0]["decoded"] == "png"
    want = M.image_feature(img, 16)
    assert np.allclose(got[0]["feature"], want, atol=1e-6)
    assert got[1]["decoded"] == "wav"
    assert np.allclose(got[1]["feature"], np.zeros(16))   # silent audio
    assert got[2]["decoded"] == "fake:video"              # honest fallback

    import pytest as _pytest

    with _pytest.raises(Exception):
        multimodal.decode_media_features(
            media, dim=16, on_unsupported="error"
        ).collect()


def test_gray_alpha_luma_excludes_alpha():
    """Code-review r3: a fully-opaque black gray+alpha PNG must featurize
    as -1 (black), not as mid-gray (alpha averaged into luma)."""
    ga = np.zeros((8, 8, 2), dtype=np.uint8)
    ga[:, :, 1] = 255                         # opaque alpha
    fmt, vec = M.decode_payload(encode_png(ga), dim=16)
    assert fmt == "png"
    assert np.allclose(vec, -1.0), vec


def test_corrupt_payload_falls_back_not_crashes(spark):
    """Code-review r3: one corrupt payload of a RECOGNIZED format must not
    kill the job in fake mode — it degrades to the sha vector."""
    import pandas as pd

    from libpostal_spark.operators import multimodal

    corrupt_png = M.PNG_MAGIC + b"\x00\x00\x00\x0dIHDRgarbage!!" + b"\xde\xad" * 30
    rows = pd.DataFrame(
        {
            "media_id": [0, 1],
            "kind": ["image", "image"],
            "payload": [corrupt_png, encode_png(_rand_img(4, 4, 3))],
            "width": [4, 4],
            "height": [4, 4],
            "duration_ms": [0, 0],
        }
    )
    got = {
        r["media_id"]: r
        for r in multimodal.decode_media_features(
            spark.createDataFrame(rows), dim=16
        ).collect()
    }
    assert got[0]["decoded"] == "fake:image"
    assert got[1]["decoded"] == "png"


def test_block_mean_tiny_image_no_nan():
    """Images smaller than the output grid must produce finite features
    (zero-area blocks previously divided 0/0 into NaN)."""
    img = np.array([[10.0, 20.0], [30.0, 40.0]])
    out = M.block_mean_2d(img, 4, 4)
    assert out.shape == (4, 4)
    assert np.isfinite(out).all()
    # nearest-neighbor repeat: corners keep the source values
    assert out[0, 0] == 10.0 and out[3, 3] == 40.0
    # one-pixel image
    one = M.block_mean_2d(np.array([[7.0]]), 4, 4)
    assert np.isfinite(one).all() and (one == 7.0).all()
    # normal-size path unchanged: exact block means
    big = np.arange(16, dtype=np.float64).reshape(4, 4)
    same = M.block_mean_2d(big, 2, 2)
    assert np.allclose(same, [[2.5, 4.5], [10.5, 12.5]])
