"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched kernels.

Audio is the fully-real modality in this engine (see
:mod:`quichash_spark.functions.audio` — pcm/wav/G.711/ADPCM/FLAC real,
lossy opus/mp3 unregistered, so they decode to ``None``).  Images follow the identical pattern —
``binary`` payload column + metadata struct + ``mapInPandas`` kernel —
with REAL png/bmp/jpeg/webp-lossless decoders
(:mod:`quichash_spark.functions.imaging`, :mod:`~.jpeg`,
:mod:`~.vp8l` — public specs over stdlib + numpy) plus the
deterministic fake codec; only lossy VP8 inside webp (a full
intra-frame DCT decoder) still raises ``NotImplementedError``, hitting
the kernel's decode_ok=False path.

Fake codec ``raw_rgb8``: header ``width:int32 | height:int32`` followed by
``width*height*3`` bytes — decodable with numpy alone, exercising the full
decode -> feature-extract -> resize path deterministically.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


def _decode_raw_rgb8(data: bytes) -> np.ndarray:
    w, h = np.frombuffer(data[:8], dtype="<i4")
    return np.frombuffer(data[8 : 8 + w * h * 3], dtype=np.uint8).reshape(int(h), int(w), 3)


def encode_raw_rgb8(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return np.array([w, h], dtype="<i4").tobytes() + np.ascontiguousarray(img, np.uint8).tobytes()


from quichash_spark.functions.imaging import decode_bmp, decode_png  # noqa: E402
from quichash_spark.functions.jpeg import decode_jpeg  # noqa: E402
from quichash_spark.functions.vp8l import decode_webp  # noqa: E402


def decode_webp_auto(data: bytes) -> np.ndarray:
    """WebP decode: the from-spec VP8L decoder (deterministic, always
    present, conformance-tested against libwebp) first; payloads it
    cannot handle — lossy VP8 needs a full intra-frame DSP decoder —
    fall through to a system libwebp when one is loadable, else the
    NotImplementedError surfaces into the kernel's decode_ok=false
    path as before."""
    try:
        return decode_webp(data)
    except NotImplementedError:
        from quichash_spark.functions import webp_sys

        if webp_sys.available() is not None:
            return webp_sys.decode_rgba(data)[..., :3]
        raise


def _decode_tiff(data: bytes) -> np.ndarray:
    """Baseline TIFF (functions/tiff.py — strips, none/PackBits/LZW,
    gray/RGB/palette, both byte orders)."""
    from quichash_spark.functions.tiff import decode_tiff

    return decode_tiff(data)


def _decode_gif_frame(data: bytes) -> np.ndarray:
    """First frame of a GIF (functions/gif.py — LZW, interlace,
    transparency; frame count/duration are codec-level features the
    media probe path reports)."""
    from quichash_spark.functions.gif import decode_gif

    return decode_gif(data)[0]


IMAGE_CODECS: dict[str, Callable[[bytes], np.ndarray]] = {
    "raw_rgb8": _decode_raw_rgb8,
    # REAL decoders (public specs, stdlib + numpy — functions/imaging.py
    # for PNG/BMP, functions/jpeg.py for baseline JPEG incl. its own
    # Huffman entropy decode + iDCT, functions/vp8l.py for the COMPLETE
    # WebP-lossless format: prefix-code/LZ77(raw+2D)/color-cache entropy
    # layer + all four transforms, libwebp-conformance-tested; lossy VP8
    # routes to a system libwebp when present, else NotImplementedError
    # -> the kernel's decode_ok=False path)
    "png": decode_png,
    "bmp": decode_bmp,
    "jpeg": decode_jpeg,
    "webp": decode_webp_auto,
    "gif": _decode_gif_frame,
    "tiff": _decode_tiff,
}

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("item_id", StringType()),
        StructField("decode_ok", BooleanType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("phash", StringType()),
    ]
)


def _phash8(img: np.ndarray) -> str:
    """Tiny perceptual hash: 8x8 average-pool of luma, threshold at mean.

    Pure numpy (block mean, not interpolation) — deterministic stand-in
    for a real pHash; the bucketing/join machinery downstream is identical.
    """
    luma = img.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = luma.shape
    ys = np.linspace(0, h, 9, dtype=int)
    xs = np.linspace(0, w, 9, dtype=int)
    pooled = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            pooled[i, j] = luma[ys[i] : max(ys[i + 1], ys[i] + 1),
                                xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
    bits = (pooled > pooled.mean()).flatten()
    return "".join("1" if b else "0" for b in bits)


def image_features(items: DataFrame, id_col: str = "item_id",
                   bytes_col: str = "payload", codec_col: str = "codec") -> DataFrame:
    """Decode + feature-extract over Arrow batches (mapInPandas)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for iid, data, codec in zip(pdf[id_col], pdf[bytes_col], pdf[codec_col]):
                dec = IMAGE_CODECS.get(codec)
                row = {"item_id": iid, "decode_ok": False, "width": None,
                       "height": None, "mean_r": None, "mean_g": None,
                       "mean_b": None, "phash": None}
                if dec is not None and data is not None:
                    # malformed-input contract (same as audio.decode_pcm):
                    # truncated/corrupt payloads (ValueError, struct.error,
                    # zlib.error, CRC mismatch) yield decode_ok=False, never
                    # a failed job; only the honest codec stubs re-raise
                    try:
                        img = dec(bytes(data))
                    except NotImplementedError:
                        raise
                    except Exception:
                        img = None
                    if img is not None:
                        row.update(
                            decode_ok=True,
                            width=int(img.shape[1]),
                            height=int(img.shape[0]),
                            mean_r=float(img[..., 0].mean()),
                            mean_g=float(img[..., 1].mean()),
                            mean_b=float(img[..., 2].mean()),
                            phash=_phash8(img),
                        )
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields])

    return items.mapInPandas(batches, IMAGE_FEATURES_SCHEMA)


def frame_sample_indices(n_frames: int, k: int) -> list[int]:
    """Deterministic uniform frame sampling for video payloads (the
    video-modality analog of pcm frame shingles); pure arithmetic so
    driver and executors agree."""
    if n_frames <= 0 or k <= 0:
        return []
    if n_frames <= k:
        return list(range(n_frames))
    return [int(i * n_frames / k) for i in range(k)]
