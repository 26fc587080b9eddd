"""Deterministic, distributed synthetic-data generators.

Two payloads:

1. **Sensor events** — replicates the reference's synthetic generator
   semantics (5 equipment x 5 sensors, 1 Hz, ~15% literal "null"
   values, uniform(0,100) rounded to 3 dp — reference:
   src/generator/data_generator.py:20-69) but seeded and
   *distributed*: one generation task per equipment, counter-based
   RNG, so the same (seed, equip, t) always yields the same value on
   any cluster size or partition layout.

2. **Audio clips + tracks** — the graft payload (BASELINE.json
   input_hint). A fixed set of synthetic "tracks" (note sequences ->
   PCM); clips are either excerpts of a track (with low additive
   noise) or pure noise. Deterministic per clip_id, generated
   distributed via mapInPandas over a range of ids.

Nothing here touches the driver beyond tiny dimension lists; all PCM
synthesis runs inside Arrow-batched tasks, which is exactly how a
100 TB backfill of this table would be produced on a real cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codec, schema

# ---------------------------------------------------------------- sensors

DEFAULT_EQUIPMENT = ["110", "111", "112", "113", "114"]
DEFAULT_SENSORS = ["0001", "0002", "0003", "0004", "0005"]
NULL_PROB = 0.15


def _equip_rng(seed: int, equip: str) -> np.random.Generator:
    # Philox is counter-based: keying on (seed, equip) gives an
    # independent, reproducible stream per equipment regardless of
    # which task generates it.
    key = np.frombuffer(equip.encode().ljust(8, b"\0")[:8], dtype=np.uint64)[0]
    return np.random.Generator(np.random.Philox(key=[np.uint64(seed), key]))


def sensor_events_pdf(
    seed: int,
    equip: str,
    n_seconds: int,
    start_ms: int,
    sensors: list[str],
) -> pd.DataFrame:
    """One equipment's full event series as a pandas frame (one task's work).

    Event times are contiguous 1 Hz; arrival-order skew (what the
    watermark absorbs) is injected by the streaming tests, not here.
    """
    rng = _equip_rng(seed, equip)
    ts = start_ms + np.arange(n_seconds, dtype=np.int64) * 1000
    vals = rng.uniform(0, 100, size=(n_seconds, len(sensors)))
    nulls = rng.random((n_seconds, len(sensors))) < NULL_PROB
    rows = []
    for i in range(n_seconds):
        data = {
            s: ("null" if nulls[i, j] else str(round(float(vals[i, j]), 3)))
            for j, s in enumerate(sensors)
        }
        rows.append((equip, int(ts[i]), data))
    return pd.DataFrame(rows, columns=["equip_id", "ts_ms", "data"])


def sensor_events(
    spark: SparkSession,
    n_seconds: int = 600,
    start_ms: int = 1_700_000_000_000,
) -> DataFrame:
    """Distributed sensor-event table (seed 42, DEFAULT_EQUIPMENT x
    DEFAULT_SENSORS): one generation task per equipment."""
    seeds = spark.createDataFrame(
        [(e,) for e in DEFAULT_EQUIPMENT], "equip_id string"
    ).repartition(len(DEFAULT_EQUIPMENT), "equip_id")

    def gen(batches):
        for pdf in batches:
            for equip in pdf["equip_id"]:
                yield sensor_events_pdf(42, equip, n_seconds, start_ms, DEFAULT_SENSORS)

    return seeds.mapInPandas(gen, schema.SENSOR_EVENT)


# ---------------------------------------------------------------- audio

SR_HZ = 8000  # one fixed rate for tracks; clips carry their own sr_hz column
_NOTE_MS = 250

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu"
).split()


def _id_rng(seed: int, ident: str) -> np.random.Generator:
    h = np.uint64(abs(hash_str(ident)))
    return np.random.Generator(np.random.Philox(key=[np.uint64(seed), h]))


def hash_str(s: str) -> int:
    """Stable 63-bit string hash (FNV-1a); Python's hash() is salted per process."""
    h = 0xCBF29CE484222325
    for b in s.encode():
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h & 0x7FFFFFFFFFFFFFFF


def track_pcm(
    track_id: str, dur_ms: int = 20_000, seed: int = 42,
    sr_hz: int = SR_HZ,
) -> np.ndarray:
    """Deterministic 'song': a note every _NOTE_MS, two simultaneous
    voices, float32 PCM in [-1, 1] at ``sr_hz`` (default SR_HZ).

    Note frequencies are drawn from a continuous range (not a 12-tone
    scale): quantizing to a scale collapses the landmark-hash space to
    a few thousand values, which makes the match join combinatorially
    heavier (every probe hash hits most tracks) and unrepresentative —
    real audio spreads peaks over the full bin range.

    The rng draws are independent of ``sr_hz``, so the SAME music
    evaluated at another rate is the closed-form ground truth for
    mixed-sample-rate tests (no resampler involved in constructing it).
    """
    rng = _id_rng(seed, track_id)
    n = int(sr_hz * dur_ms / 1000)
    t = np.arange(n, dtype=np.float64) / sr_hz
    pcm = np.zeros(n, dtype=np.float64)
    n_notes = dur_ms // _NOTE_MS
    note_len = int(sr_hz * _NOTE_MS / 1000)
    for v in range(2):  # two voices
        lo, hi = (100.0, 1200.0) if v == 0 else (1200.0, 3500.0)
        freqs = rng.uniform(lo, hi, size=n_notes)
        for i, f in enumerate(freqs):
            s = i * note_len
            e = min(s + note_len, n)
            seg = t[s:e]
            env = np.hanning(2 * (e - s))[: e - s]  # attack/decay
            pcm[s:e] += 0.35 * env * np.sin(2 * np.pi * f * seg)
    return pcm.astype(np.float32)


def transcript_for(clip_id: str) -> str:
    rng = _id_rng(42, "tx:" + clip_id)
    return " ".join(rng.choice(np.array(_WORDS), size=8))


def clip_row(
    clip_id: str,
    track_ids: list[str],
    codec_name: str = "pcm_s16le",
) -> tuple:
    """Deterministic clip (seed 42): excerpt of a track (70%) or pure
    noise (30%)."""
    rng = _id_rng(42, clip_id)
    dur_ms = int(rng.integers(3000, 8001))
    n = int(SR_HZ * dur_ms / 1000)
    is_noise = rng.random() < 0.3
    if is_noise:
        pcm = (0.1 * rng.standard_normal(n)).astype(np.float32)
    else:
        tid = track_ids[int(rng.integers(0, len(track_ids)))]
        track = track_pcm(tid)
        max_off = max(len(track) - n, 1)
        off = int(rng.integers(0, max_off))
        pcm = track[off : off + n].copy()
        pcm += (0.01 * rng.standard_normal(len(pcm))).astype(np.float32)
    raw = codec.encode(np.clip(pcm, -1.0, 1.0), codec_name)
    event_ms = 1_700_000_000_000 + hash_str(clip_id) % 600_000  # 10-min spread
    return (
        clip_id,
        raw,
        SR_HZ,
        dur_ms,
        codec_name,
        transcript_for(clip_id),
        int(event_ms),
    )


def default_track_ids(n_tracks: int = 8) -> list[str]:
    return [f"track_{i:04d}" for i in range(n_tracks)]


def clips(
    spark: SparkSession,
    n_clips: int = 64,
    n_tracks: int = 8,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed clip table (seed 42, pcm_s16le): ids fan out over
    tasks, PCM synthesized in-task."""
    track_ids = default_track_ids(n_tracks)
    parts = partitions or max(spark.sparkContext.defaultParallelism, 4)
    ids = spark.range(n_clips).repartition(parts)

    def gen(batches):
        for pdf in batches:
            rows = [
                clip_row(f"clip_{int(i):08d}", track_ids) for i in pdf["id"]
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "clip_id",
                    "bytes",
                    "sr_hz",
                    "dur_ms",
                    "codec",
                    "transcript",
                    "event_ms",
                ],
            )

    return ids.mapInPandas(gen, schema.CLIP)


def tracks(spark: SparkSession, n_tracks: int = 8) -> DataFrame:
    """Reference 'song' table (index build side), seed 42."""
    track_ids = default_track_ids(n_tracks)
    ids = spark.createDataFrame([(t,) for t in track_ids], "track_id string").repartition(
        min(n_tracks, 8)
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for tid in pdf["track_id"]:
                pcm = track_pcm(tid)
                rows.append(
                    (
                        tid,
                        codec.encode(pcm, "pcm_s16le"),
                        SR_HZ,
                        int(len(pcm) * 1000 / SR_HZ),
                        "pcm_s16le",
                        "",
                        0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "clip_id",
                    "bytes",
                    "sr_hz",
                    "dur_ms",
                    "codec",
                    "transcript",
                    "event_ms",
                ],
            )

    return ids.mapInPandas(gen, schema.CLIP).withColumnRenamed("clip_id", "track_id")


def image_pixels(image_id: str, h: int = 24, w: int = 17, seed: int = 42) -> np.ndarray:
    """Deterministic HxWx3 uint8 RGB test image, keyed like every other
    synth row (Philox on (seed, fnv(image_id))). Default width 17 is
    deliberately not a multiple of 4 so BMP row padding is exercised."""
    return _id_rng(seed, image_id).integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def image_bytes(
    image_id: str, image_codec: str = "bmp", png_filter: int = 0,
    png_interlace: bool = False, **kw
) -> bytes:
    """Encoded deterministic test image (input construction, shared by
    the entry query and the fixture generator — the oracle decodes it
    with its own independent scalar parser). png_filter selects the PNG
    scanline filter so fixtures exercise each reconstruction path;
    png_interlace emits Adam7."""
    return codec.encode_image(
        image_pixels(image_id, **kw), image_codec, png_filter=png_filter,
        png_interlace=png_interlace,
    )


def png_foreign_bytes(image_id: str, kind: str, h: int = 16, w: int = 11) -> bytes:
    """Deterministic PNG shapes our encoder does not emit but a web
    corpus does: 16-bit grayscale (``gray16``, color type 0) and 8-bit
    gray+alpha (``ga``, color type 4). Built chunk-by-chunk with
    filter 1 (Sub) on every row, so the decoder's byte-distance
    unfilter (bytes-per-pixel 2 in both cases) is exercised, not just
    the trivial filter-0 path. Input construction shared by the entry
    query and the fixture generator; the oracle decodes with its own
    scalar walk."""
    import struct
    import zlib

    from .codec import _PNG_SIG, _png_chunk

    rng = _id_rng(42, image_id)
    if kind == "gray16":
        img = rng.integers(0, 65536, size=(h, w), dtype=np.uint16)
        rows = np.frombuffer(
            img.astype(">u2").tobytes(), np.uint8
        ).reshape(h, 2 * w)
        depth, color = 16, 0
    elif kind == "ga":
        img = rng.integers(0, 256, size=(h, 2 * w), dtype=np.uint8)
        rows, depth, color = img, 8, 4
    else:
        raise ValueError(f"unknown foreign png kind {kind!r}")
    bypp = 2
    scan = bytearray()
    for r in rows:
        prev = np.concatenate([np.zeros(bypp, np.uint8), r[:-bypp]])
        scan += b"\x01" + (
            (r.astype(np.int16) - prev) % 256
        ).astype(np.uint8).tobytes()

    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes(scan)))
        + _png_chunk(b"IEND", b"")
    )


def mixed_rate_clip_rows(track_ids: list[str]) -> list[tuple]:
    """Foreign-sample-rate 5-second probe clips, synthesized
    ANALYTICALLY at the foreign rate (same closed-form music, no
    resampler in the input path). Input construction shared by the entry
    query and the fixture generator — the oracle matches them through
    its own scalar-sinc resampler, so the engine's rate normalization
    sits behind the oracle's hash check. One clip per (sr_hz, track
    index, offset_ms, codec_name) row below — the 32 kHz probe rides the
    MPEG-1 Layer I codec, gating lossy decode + rate normalization +
    match in one row (both sides decode the same mp1 bytes; the oracle
    with its scalar frame walk + triple-loop filterbank), and the 24 kHz
    probe rides FLAC (lossless, sparkfp/flac.py vs the oracle's scalar
    bit-reader + binomial predictor recurrences)."""
    rows, dur_ms = [], 5000
    for sr, ti, off_ms, cname in (
        (16000, 0, 3000, "pcm_s16le"),
        (22050, 1, 4500, "pcm_s16le"),
        (32000, 2, 2000, "mp1"),
        (24000, 3, 1500, "flac"),
    ):
        tid = track_ids[ti % len(track_ids)]
        track = track_pcm(tid, sr_hz=sr)
        s = int(sr * off_ms / 1000)
        pcm = track[s: s + int(sr * dur_ms / 1000)]
        cid = f"mix{sr}_{tid}"
        rows.append(
            (
                cid,
                codec.encode(pcm, cname, sr_hz=sr),
                sr,
                dur_ms,
                cname,
                transcript_for(cid),
                1_700_000_000_000,
            )
        )
    return rows


def paletted_pixels(
    image_id: str, h: int = 24, w: int = 17, n_colors: int = 32
) -> np.ndarray:
    """Deterministic HxWx3 uint8 image drawn from a <=256-color
    palette — the input shape GIF's indexed-color model requires."""
    rng = _id_rng(42, image_id)
    palette = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
    return palette[rng.integers(0, n_colors, size=(h, w))]


def video_frames(
    video_id: str, n_frames: int = 3, h: int = 24, w: int = 17, seed: int = 42
) -> np.ndarray:
    """Deterministic (T,H,W,3) uint8 frames: per-frame noise keyed on
    (video_id, frame index) plus a moving bright bar so consecutive
    frames differ in a structured way (temporal variation is what a
    video fixture must exercise that a single image cannot)."""
    frames = np.stack(
        [
            _id_rng(seed, f"{video_id}:f{t}").integers(
                0, 256, size=(h, w, 3), dtype=np.uint8
            )
            for t in range(n_frames)
        ]
    )
    for t in range(n_frames):
        frames[t, :, (3 * t) % w, :] = 255
    return frames


def mjpeg_bytes(
    video_id: str,
    n_frames: int = 3,
    container: str = "avi",
    quality: int = 90,
    subsample: bool = False,
    **kw,
) -> bytes:
    """Encoded deterministic MJPEG test video (input construction,
    shared by the entry query and the fixture generator — the oracle
    decodes it with its own scalar RIFF walk + scalar JPEG decoder)."""
    from . import video as _video

    return _video.encode_mjpeg(
        video_frames(video_id, n_frames, **kw),
        container=container,
        quality=quality,
        subsample=subsample,
    )
