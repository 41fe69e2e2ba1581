"""Multimodal column plumbing: image/audio/video as opaque binary payload
columns tagged with their media type, decoded by Arrow-batched mapInPandas
stages.

The decode is a dependency-free REAL image decode for PPM (P6) and
uncompressed 24-bit BMP payloads (header parse + numpy pixel stats; no
image library needed), so the production path runs end to end on genuine
bytes. Anything else (JPEG/PNG/audio/video codecs) raises
NotImplementedError — those decoders need libraries absent from this
environment. The reference routes media properties out of fusion
(generate_buckets.py:81-133); here they become first-class columns instead
of being dropped.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def decode_ppm_p6(buf: bytes) -> tuple[int, int, "np.ndarray"] | None:
    """Parse a binary PPM (P6) payload -> (width, height, HxWx3 uint8 RGB),
    or None when the magic doesn't match. Handles '#' header comments and
    maxval 255; pure bytes + numpy."""
    if not buf.startswith(b"P6"):
        return None
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(buf):
        while i < len(buf) and buf[i : i + 1].isspace():
            i += 1
        if buf[i : i + 1] == b"#":
            while i < len(buf) and buf[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(buf) and not buf[j : j + 1].isspace():
            j += 1
        tokens.append(buf[i:j])
        i = j
    w, h, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise NotImplementedError("PPM maxval != 255 not supported")
    i += 1  # exactly one whitespace byte separates the header from pixels
    px = np.frombuffer(buf, dtype=np.uint8, count=w * h * 3, offset=i)
    return w, h, px.reshape(h, w, 3)


def decode_bmp_24(buf: bytes) -> tuple[int, int, "np.ndarray"] | None:
    """Parse an uncompressed 24-bit BMP payload -> (width, height, HxWx3
    uint8 RGB), or None when the magic doesn't match. Handles 4-byte row
    padding, bottom-up and top-down rows, BGR->RGB."""
    if buf[:2] != b"BM":
        return None
    data_off = int.from_bytes(buf[10:14], "little")
    w = int.from_bytes(buf[18:22], "little", signed=True)
    h = int.from_bytes(buf[22:26], "little", signed=True)
    bpp = int.from_bytes(buf[28:30], "little")
    comp = int.from_bytes(buf[30:34], "little")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={comp} not supported")
    top_down = h < 0
    height = abs(h)
    row_size = (w * 3 + 3) // 4 * 4
    arr = np.frombuffer(buf, dtype=np.uint8, count=row_size * height, offset=data_off)
    px = arr.reshape(height, row_size)[:, : w * 3].reshape(height, w, 3)[..., ::-1]
    if not top_down:
        px = px[::-1]
    return w, height, px


def _image_feature(buf: bytes, dim: int) -> tuple[list[float], int, int, int] | None:
    """Real decode -> fixed-dim feature [w, h, channels, mean RGB/255,
    std gray/255, ...zero-pad]; None when no known magic matches."""
    decoded = decode_ppm_p6(buf) or decode_bmp_24(buf)
    if decoded is None:
        return None
    w, h, px = decoded
    pxf = px.astype(np.float32) / 255.0
    feat = [
        float(w),
        float(h),
        3.0,
        float(pxf[..., 0].mean()),
        float(pxf[..., 1].mean()),
        float(pxf[..., 2].mean()),
        float(pxf.mean(axis=2).std()),
    ]
    feat = (feat + [0.0] * dim)[:dim]
    return feat, w, h, 1


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Decode + feature-extract via mapInPandas over (media_ref,
    media_type, payload) rows: REAL decode for PPM (P6) and uncompressed
    24-bit BMP image payloads (dependency-free, tested on planted bytes);
    payloads in any other format raise NotImplementedError (their codecs
    need libraries absent from this environment).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, frames = [], []
            for payload, mtype in zip(pdf["payload"], pdf["media_type"]):
                decoded = _image_feature(bytes(payload), dim) if mtype == "image" else None
                if decoded is None:
                    raise NotImplementedError(
                        f"no dependency-free decoder for media_type={mtype!r} "
                        "payload (PPM P6 / 24-bit BMP images are supported; "
                        "other codecs need libs absent from this environment)"
                    )
                feat, _w, _h, nf = decoded
                feats.append(feat)
                frames.append(nf)
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                    "n_frames": frames,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)
