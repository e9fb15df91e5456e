"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a typed
metadata struct; decode / feature-extract run as Arrow-batched
``mapInPandas`` operators.

Decode is REAL for stdlib-decodable formats — PNG (zlib inflate + scanline
unfilter), BMP, WAV PCM (``decode_media_features`` →
``libpostal_spark.media``) — and falls back per-format for payloads that
need codec libraries (JPEG/MP4), either to a sha256-derived deterministic
vector (oracle-replayable) or to ``NotImplementedError``. The legacy
``decode_image_features(fake=True)`` entry point keeps the all-fake
behavior the harness oracle replays in SQL.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, width int, height int, "
    "duration_ms long"
)

FEATURE_SCHEMA = "media_id long, kind string, n_bytes long, feature array<float>"


def _fake_feature(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in for a real decoder: sha256-derived vector.

    feature[i] = (digest_byte[i] - 128) / 128 over chained sha256 blocks —
    chosen over an RNG draw because sha256 is replicable in ANSI SQL, so the
    harness oracle can verify the full plumbing value-for-value.
    """
    out = np.empty(dim, dtype=np.float32)
    blob = payload or b""
    filled = 0
    digest = hashlib.sha256(blob).digest()
    while filled < dim:
        take = min(32, dim - filled)
        arr = np.frombuffer(digest[:take], dtype=np.uint8).astype(np.float32)
        out[filled : filled + take] = (arr - 128.0) / 128.0
        filled += take
        if filled < dim:
            digest = hashlib.sha256(digest).digest()
    return out


def decode_image_features(
    media: DataFrame, dim: int = 16, fake: bool = True
) -> DataFrame:
    """binary payload → feature vector via mapInPandas (Arrow batches).

    Real decode (PIL/libav) is not available in this container — the
    ``fake=False`` path raises, documenting exactly where a real decoder
    plugs in. Batch shape, schema, and partition behavior are identical
    either way, which is what the tests pin down.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real image/audio decode requires PIL/libav; not shipped here"
                )
            feats = [ _fake_feature(p, dim).tolist() for p in pdf["payload"] ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda b: len(b or b"")).astype("int64"),
                    "feature": feats,
                }
            )

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


def decode_media_features(
    media: DataFrame, dim: int = 16, on_unsupported: str = "fake"
) -> DataFrame:
    """REAL decode + feature extraction for stdlib-decodable formats.

    PNG/BMP payloads decode to pixels (libpostal_spark.media: zlib inflate +
    scanline unfilter / BITMAPINFOHEADER) and featurize as a √dim×√dim
    area-averaged luma grid; WAV payloads decode to PCM and featurize as a
    dim-bin RMS envelope. Formats needing codec libraries (JPEG/MP4/...)
    follow ``on_unsupported``: "fake" → the sha256-derived deterministic
    vector (oracle-replayable), "error" → NotImplementedError — the honest
    boundary, per-format instead of a blanket stub.

    Output adds ``decoded`` (the sniffed format, or "fake:<kind>").
    """
    from .. import media as M

    schema = (
        "media_id long, kind string, decoded string, n_bytes long, "
        "feature array<float>"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded, feats = [], []
            for p, kind in zip(pdf["payload"], pdf["kind"]):
                try:
                    fmt, vec = M.decode_payload(p or b"", dim)
                    decoded.append(fmt)
                except Exception:
                    # NotImplementedError = format needs codec libs; any
                    # other exception = corrupt payload of a recognized
                    # format (bad zlib stream, truncated header, …). Either
                    # way ONE bad row must not kill the whole job in fake
                    # mode — it degrades to the deterministic sha vector
                    # with provenance; "error" mode surfaces it.
                    if on_unsupported == "error":
                        raise
                    vec = _fake_feature(p or b"", dim)
                    decoded.append(f"fake:{kind}")
                feats.append([float(x) for x in vec])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "decoded": decoded,
                    "n_bytes": pdf["payload"].map(
                        lambda b: len(b or b"")
                    ).astype("int64"),
                    "feature": feats,
                }
            )

    return media.mapInPandas(op, schema=schema)


