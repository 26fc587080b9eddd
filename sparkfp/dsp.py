"""Audio DSP: STFT, constellation peaks, combinatorial landmark hashes.

This is the graft analog of the reference's flatMap unnest
(src/flink_job/job.py:63-75): 1 clip -> N landmark hashes. All math
is numpy (vectorized per clip, batched per Arrow batch); the Spark
boundary is `mapInPandas`, so the JVM<->Python transfer is columnar
Arrow, never per-row pickling (the reference's per-record Beam
round-trip is the throughput ceiling we remove).

Every clip consumer — `landmarks`, `quarantine_clips`, and in
sparkfp/matching.py the fused matcher and `clip_signatures` — goes
through one batch kernel, `clip_landmarks_batch`: one per-row loop,
one error contract (a per-row ``reason``), CSR output the consumers
slice.

The landmark scheme follows the published Shazam constellation
approach (Wang 2003, "An Industrial-Strength Audio Search Algorithm"):
spectrogram -> per-band spectral peaks -> anchor/target pairs ->
hash = (f_anchor, f_target, dt) packed into an int64.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from . import codec, schema

# fixed analysis parameters — must be identical for index build and probe
N_FFT = 512
HOP = 256
N_BANDS = 6
PEAK_FACTOR = 2.0  # band peak must exceed PEAK_FACTOR * frame-set mean magnitude
FAN_OUT = 5  # targets per anchor
MAX_DT_FRAMES = 32  # pairing window
SR_REF = 8000  # canonical analysis rate: clips at any sr_hz normalize here
RESAMPLE_HALF_TAPS = 16  # windowed-sinc kernel half-width at the wider band


def resample(pcm: np.ndarray, sr_in: int, sr_out: int) -> np.ndarray:
    """Windowed-sinc fractional resampler, fully vectorized.

    The input-table contract carries a per-clip ``sr_hz`` column — a
    web-scale corpus is mixed-rate, so probe clips must be normalized
    to SR_REF before the STFT or their landmark hashes live in a
    different bin space than the index. Kernel: Hann-windowed sinc at
    cutoff min(1, sr_out/sr_in) (anti-aliasing when downsampling, with
    the kernel widened by 1/cutoff to keep the transition band
    proportional), edge-hold padding, per-output-sample DC
    normalization; the kernel's half-width is RESAMPLE_HALF_TAPS input
    samples at the wider band. Output time axis is preserved
    (t_out = t_in), so match offsets stay in source-track milliseconds.

    The kernel depends on an output sample only through its phase
    ``frac = t - floor(t)``, so each chunk evaluates it once per
    distinct phase (at most a few thousand rows) and gathers rows of
    that phase table. When ``sr_out`` divides ``sr_in`` there is one
    phase and the input windows are a strided view of the edge-padded
    signal, with no gather at all. Output chunks are bounded (65,536
    samples) to keep per-clip memory flat inside Arrow workers."""
    if sr_in == sr_out:
        return np.asarray(pcm, dtype=np.float32)
    if sr_in <= 0 or sr_out <= 0:
        raise ValueError(f"bad sample rates {sr_in} -> {sr_out}")
    x = np.asarray(pcm, dtype=np.float64)
    n_in = len(x)
    n_out = int(round(n_in * sr_out / sr_in))
    if n_in == 0 or n_out == 0:
        return np.zeros(0, dtype=np.float32)
    ratio = sr_in / sr_out
    cutoff = min(1.0, sr_out / sr_in)
    h_taps = int(np.ceil(RESAMPLE_HALF_TAPS / cutoff))
    k = np.arange(-h_taps + 1, h_taps + 1, dtype=np.float64)
    # row j of `windows` is x[clip(j + k, 0, n_in - 1)]: edge-hold padding
    last = int(np.floor((n_out - 1) * ratio))
    xp = np.pad(x, (h_taps - 1, h_taps + max(0, last - n_in + 1)), mode="edge")
    windows = np.lib.stride_tricks.sliding_window_view(xp, len(k))
    step = sr_in // sr_out if sr_in % sr_out == 0 else 0
    out = np.empty(n_out, dtype=np.float64)
    for lo in range(0, n_out, 65536):
        hi = min(lo + 65536, n_out)
        t = np.arange(lo, hi, dtype=np.float64) * ratio
        i0 = np.floor(t).astype(np.int64)
        phases, which = np.unique(t - i0, return_inverse=True)
        d = k[None, :] - phases[:, None]
        kern = cutoff * np.sinc(cutoff * d)
        kern *= np.where(
            np.abs(d) < h_taps, 0.5 + 0.5 * np.cos(np.pi * d / h_taps), 0.0
        )
        kern /= kern.sum(axis=1, keepdims=True)
        # cache-sized blocks: each row is independent, so the block
        # size changes the speed, never a bit of the output
        for b in range(lo, hi, 1024):
            e = min(b + 1024, hi)
            if step:
                rows, kb = windows[b * step:e * step:step], kern
            else:
                rows, kb = windows[i0[b - lo:e - lo]], kern[which[b - lo:e - lo]]
            out[b:e] = (rows * kb).sum(axis=1)
    return out.astype(np.float32)


def stft_mag(pcm: np.ndarray) -> np.ndarray:
    """Magnitude spectrogram, frames x (N_FFT//2+1), one frame per HOP
    samples. Pure numpy (strided)."""
    if len(pcm) < N_FFT:
        pcm = np.pad(pcm, (0, N_FFT - len(pcm)))
    n_frames = 1 + (len(pcm) - N_FFT) // HOP
    strides = (pcm.strides[0] * HOP, pcm.strides[0])
    frames = np.lib.stride_tricks.as_strided(
        pcm, shape=(n_frames, N_FFT), strides=strides
    )
    win = np.hanning(N_FFT).astype(np.float32)
    return np.abs(np.fft.rfft(frames * win, axis=1)).astype(np.float32)


_BAND_EDGES = np.unique(
    np.round(np.geomspace(2, N_FFT // 2 + 1, N_BANDS + 1)).astype(int)
)


def constellation_peaks(mag: np.ndarray) -> np.ndarray:
    """Per-frame, per-log-band spectral maxima above an adaptive threshold.

    Returns int32 array of (frame, bin) pairs, frame-ordered. Band
    maxima are robust to the sub-hop frame misalignment between an
    excerpt and its source track: a steady tone peaks in the same bin
    either way, which is what makes the hashes reproducible.
    """
    if mag.size == 0:
        return np.empty((0, 2), dtype=np.int32)
    thresh = PEAK_FACTOR * float(mag.mean())
    out_frames, out_bins = [], []
    for b in range(len(_BAND_EDGES) - 1):
        lo, hi = _BAND_EDGES[b], _BAND_EDGES[b + 1]
        band = mag[:, lo:hi]
        if band.shape[1] == 0:
            continue
        idx = band.argmax(axis=1)
        val = band[np.arange(band.shape[0]), idx]
        keep = val > thresh
        out_frames.append(np.nonzero(keep)[0])
        out_bins.append(idx[keep] + lo)
    if not out_frames:
        return np.empty((0, 2), dtype=np.int32)
    frames = np.concatenate(out_frames)
    bins = np.concatenate(out_bins)
    order = np.lexsort((bins, frames))
    return np.stack([frames[order], bins[order]], axis=1).astype(np.int32)


def landmark_hashes(peaks: np.ndarray, sr_hz: int) -> tuple[np.ndarray, np.ndarray]:
    """Anchor-target combinatorial hashes.

    hash = (f_anchor << 19) | (f_target << 10) | dt_frames  (fits int64;
    bins < 512 -> 9 bits each, dt <= MAX_DT_FRAMES -> 10 bits)
    Returns (hashes int64, t_ms int32 anchor offsets).
    """
    n = len(peaks)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int32)
    frames = peaks[:, 0].astype(np.int64)
    bins = peaks[:, 1].astype(np.int64)
    hashes, t_out = [], []
    # vectorized per fan-out step: pair peak i with peaks i+1 .. i+FAN_OUT
    for k in range(1, FAN_OUT + 1):
        if n <= k:
            break
        fa, ft = bins[:-k], bins[k:]
        dt = frames[k:] - frames[:-k]
        ok = (dt > 0) & (dt <= MAX_DT_FRAMES)
        h = (fa[ok] << 19) | (ft[ok] << 10) | dt[ok]
        hashes.append(h)
        t_out.append(frames[:-k][ok])
    if not hashes:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int32)
    h = np.concatenate(hashes)
    t_frames = np.concatenate(t_out)
    t_ms = (t_frames * HOP * 1000 // sr_hz).astype(np.int32)
    return h.astype(np.int64), t_ms


def extract_clip_landmarks(
    raw: bytes, codec_name: str, sr_hz: int
) -> tuple[np.ndarray, np.ndarray]:
    """bytes -> (hashes, t_ms). The full per-clip DSP chain; clips at
    any sample rate normalize to SR_REF first (mixed-rate corpus
    support — hashes must share one STFT bin space with the index)."""
    pcm = codec.decode(raw, codec_name)
    if sr_hz != SR_REF:
        pcm = resample(pcm, sr_hz, SR_REF)
    mag = stft_mag(pcm)
    peaks = constellation_peaks(mag)
    return landmark_hashes(peaks, SR_REF)


def clip_landmarks_batch(
    pdf: pd.DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[str | None]]:
    """One Arrow batch's ``bytes``/``codec``/``sr_hz`` columns -> CSR
    landmarks ``(row_offsets, hashes, t_ms, reason)``: row i's hashes
    and anchor offsets are ``hashes[row_offsets[i]:row_offsets[i+1]]``.

    The one per-row loop and the one error contract of every clip
    consumer. One corrupt blob or unknown codec among 10^12 clips must
    surface for THAT row, never as a task failure that kills the
    batch: a row the chain cannot decode gets no landmarks and
    ``reason[i] = "<ExceptionType>: <message>"`` (``None`` when it
    decoded; ``"ValueError: null clip bytes"`` for a null blob).
    Decoders are fuzz-tested to raise exactly ValueError/UnsupportedCodec,
    the same contract the media path pins in
    multimodal.frame_sample_features. Arrays are typed even for an
    empty batch (int64 offsets and hashes, int32 t_ms)."""
    hs, ts, reason = [], [], []
    for raw, cname, sr in zip(
        pdf["bytes"].tolist(), pdf["codec"].tolist(), pdf["sr_hz"].tolist()
    ):
        try:
            if raw is None:  # a null blob is one bad row, like a corrupt one
                raise ValueError("null clip bytes")
            h, t = extract_clip_landmarks(bytes(raw), cname, int(sr))
            reason.append(None)
        except (ValueError, codec.UnsupportedCodec) as e:
            h, t = np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int32)
            reason.append(f"{type(e).__name__}: {e}")
        hs.append(h)
        ts.append(t)
    offsets = np.zeros(len(hs) + 1, dtype=np.int64)
    np.cumsum([len(h) for h in hs], out=offsets[1:])
    return (
        offsets,
        np.concatenate([np.empty(0, dtype=np.int64), *hs]),
        np.concatenate([np.empty(0, dtype=np.int32), *ts]),
        reason,
    )


def quarantine_clips(clips: DataFrame) -> DataFrame:
    """(clip_id, reason) for every row the landmark chain cannot
    decode — the accounting side of the skip policy, so dropped rows
    are observable instead of silently vanishing from the corpus."""
    out_schema = "clip_id string, reason string"
    cols = ["clip_id", "bytes", "sr_hz", "codec"]

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            reason = clip_landmarks_batch(pdf)[3]
            out = pd.DataFrame({"clip_id": pdf["clip_id"].to_numpy(), "reason": reason})
            yield out.dropna(subset=["reason"])

    return clips.select(*cols).mapInPandas(scan, out_schema)


# ---------------------------------------------------------------- Spark plumbing


def landmarks(clips: DataFrame) -> DataFrame:
    """clips(clip_id, bytes, sr_hz, codec, event_ms) -> landmark rows.

    Arrow-batched mapInPandas: the stage is stateless and embarrassingly
    parallel, so it scales linearly with cores/executors — the property
    the N-vs-4N scaling criterion leans on. Corrupt rows emit no
    landmarks (skip-with-accounting: quarantine_clips lists them).
    """
    cols = ["clip_id", "bytes", "sr_hz", "codec", "event_ms"]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            offsets, h, t, _ = clip_landmarks_batch(pdf)
            n = np.diff(offsets)
            yield pd.DataFrame(
                {
                    "clip_id": np.repeat(pdf["clip_id"].to_numpy(object), n),
                    "hash": h,
                    "t_ms": t,
                    "event_ms": np.repeat(pdf["event_ms"].to_numpy(np.int64), n),
                }
            )

    return clips.select(*cols).mapInPandas(extract, schema.LANDMARK)
