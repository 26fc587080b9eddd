"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/video/arbitrary audio are carried as ``binary`` columns with a
``media_type``/``codec`` tag, exactly like the clip table. The Spark
side — schema, partition sizing, Arrow batch shape, UDF signatures —
is real and tested; only decoders that need external libraries
(Pillow/ffmpeg are not in this container) are stubbed behind
:class:`sparkfp.codec.UnsupportedCodec` with a deterministic fake
available for plumbing tests.

Real, fully-implemented feature extraction that needs no external
decoder: byte-level statistics (size, mean, entropy, chunk
histogram) — useful as-is for corruption screening / dedup at scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .codec import UnsupportedCodec

MEDIA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("media_type", T.StringType(), False),  # image/audio/video
        T.StructField("codec", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
    ]
)

BYTE_FEATURES = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_mean", T.DoubleType(), False),
        T.StructField("byte_entropy", T.DoubleType(), False),
        T.StructField("zero_ratio", T.DoubleType(), False),
    ]
)

_DECODABLE = {
    "pcm_s16le", "ulaw", "alaw", "wav", "adpcm", "aiff", "au",
    "mp1", "mp2", "flac",
}  # sparkfp.codec


def byte_features(media: DataFrame) -> DataFrame:
    """Vectorized byte-statistics extraction (real, no decoder needed).

    mapInPandas keeps batches columnar; numpy does the per-blob math.
    A null blob gets the empty blob's row (``n_bytes`` 0).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf["media_id"], pdf["bytes"]):
                arr = np.frombuffer(b"" if raw is None else bytes(raw), dtype=np.uint8)
                if len(arr) == 0:
                    rows.append((mid, 0, 0.0, 0.0, 0.0))
                    continue
                counts = np.bincount(arr, minlength=256).astype(np.float64)
                p = counts / counts.sum()
                nz = p[p > 0]
                entropy = float(-(nz * np.log2(nz)).sum())
                rows.append(
                    (
                        mid,
                        int(len(arr)),
                        float(arr.mean()),
                        entropy,
                        float((arr == 0).mean()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_bytes", "byte_mean", "byte_entropy", "zero_ratio"],
            )

    return media.select("media_id", "bytes").mapInPandas(extract, BYTE_FEATURES)


def decode_media(raw: bytes, codec: str, deterministic_fake: bool = False) -> np.ndarray:
    """Decode a media blob to a numpy array.

    Audio codecs (pcm/ulaw/alaw/wav + IMA ADPCM as prefix scans
    across blocks, + MPEG-1 Layers I and II in sparkfp/mpeg_audio.py), library-free image codecs (bmp/ppm/png/jpeg/gif — PNG
    via stdlib zlib + numpy unfiltering, baseline+progressive JPEG via
    pure-numpy huffman + IDCT in sparkfp/jpeg.py, GIF via LZW in
    sparkfp/gif.py),
    and MJPEG video (AVI/raw container walk + per-frame JPEG decode,
    sparkfp/video.py) decode for REAL. h264 raises UnsupportedCodec unless
    ``deterministic_fake=True``, which returns a seeded fake frame so
    downstream plumbing (resize, feature UDF shapes, batch
    partitioning) is testable without decoder libraries. STUB: swap in
    ffmpeg for video on a real cluster.
    """
    from . import codec as _codec

    if codec in _DECODABLE:
        return _codec.decode(raw, codec)
    if codec in _codec.IMAGE_CODECS:
        return _codec.decode_image(raw, codec)
    if codec == "mjpeg":
        # REAL video decode: AVI/raw Motion-JPEG via the pure-numpy
        # JPEG decoder (sparkfp/video.py) -> (T,H,W,3) frames
        from . import video as _video

        return _video.decode_mjpeg(raw)
    if deterministic_fake:
        h = np.frombuffer(raw[:8].ljust(8, b"\0"), dtype=np.uint64)[0]
        # key dtype explicit: list-of-mixed-ints promotes to float64 and
        # rounds the key (verified equal to the previous uint64-list form)
        rng = np.random.Generator(
            np.random.Philox(key=np.array([h, 0], dtype=np.uint64))
        )
        return rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8).astype(np.uint8)
    raise UnsupportedCodec(codec)


def frame_sample_features(
    media: DataFrame, deterministic_fake: bool = True
) -> DataFrame:
    """Decode -> per-frame mean/std features. The decode call is the
    stubbed boundary; everything around it (Arrow batching, schema,
    null handling for failed decodes) is the real production shape.
    A null, corrupt or undecodable blob is one row with
    ``decoded=false``, never a task failure."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("frame_mean", T.DoubleType(), True),
            T.StructField("frame_std", T.DoubleType(), True),
            T.StructField("decoded", T.BooleanType(), False),
        ]
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw, cod in zip(pdf["media_id"], pdf["bytes"], pdf["codec"]):
                try:
                    if raw is None:
                        raise ValueError("null media bytes")
                    arr = decode_media(bytes(raw), cod, deterministic_fake)
                    rows.append((mid, float(arr.mean()), float(arr.std()), True))
                except (UnsupportedCodec, ValueError):
                    # ValueError: decode_image raises it on truncated /
                    # malformed BMP/PPM/PNG bytes — a corrupt row must
                    # surface as decoded=false, not fail the whole task
                    rows.append((mid, None, None, False))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_mean", "frame_std", "decoded"]
            )

    return media.select("media_id", "bytes", "codec").mapInPandas(extract, out_schema)
