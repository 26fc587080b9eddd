"""Fingerprint the decoders' output on good and damaged streams.

For each of ulaw, adpcm, flac, mp1 and mp2 this makes seeded encodes
at two sample rates and several lengths and signals (tones with noise,
a full-scale square wave that drives the adaptive coders into their
clamps, near-silence). Each encode is decoded as is and as damaged
variants: cut at seeded points, extended by seeded bytes or by a copy
of its own head, and with one to four bits flipped. adpcm also gets
garbage block payloads and re-declared block sizes (5, 36, 2048
bytes) so that its step index and predictor hit both clamps. mp1 and
mp2 also get frames whose header declares another bitrate (a shorter
or longer frame: a payload cut short, then lost sync) or a CRC word,
in one frame or in every frame; mp2 also gets streams that switch
bitrate, and so allocation table, mid-stream. flac also gets every
byte cut of a near-silent stream whose Rice partitions have k = 0.

Prints one ``codec NAME  cases N  sha256 HEX`` line per codec. The
digest covers, case by case, the decoded PCM bytes plus the sample
rate the decoder reports, or the exception type plus its message.
Two checkouts that print equal lines decode every case to the same
bytes and fail every failing case with the same error: the error-path
half of bit-identity, which ``landmark_digest.py`` (decodable staged
clips only) cannot see.

Spark-free and single-threaded; no flags, a few seconds.

Usage: python tools/codec_digest.py
"""

from __future__ import annotations

import os

for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import hashlib  # noqa: E402
import sys  # noqa: E402

import numpy as np  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sparkfp import codec, flac, mpeg_audio  # noqa: E402

RATES = {
    "ulaw": (8000, 16000),
    "adpcm": (11025, 16000),
    "flac": (22050, 44100),
    "mp1": (32000, 48000),
    "mp2": (32000, 48000),
}
LENGTHS = (1, 777, 6000, 20000)
N_CUTS, N_FLIPS = 3, 24


def _signal(rng: np.random.Generator, n: int, sr: int, kind: int) -> np.ndarray:
    t = np.arange(n) / sr
    if kind == 0:  # two tones with noise
        f0, f1 = rng.uniform(200, 900), rng.uniform(1000, 3000)
        x = 0.4 * np.sin(2 * np.pi * f0 * t) + 0.2 * np.sin(2 * np.pi * f1 * t)
        return x + 0.05 * rng.standard_normal(n)
    if kind == 1:  # full scale: saturates predictors, maxes step sizes
        return np.sign(np.sin(2 * np.pi * rng.uniform(50, 400) * t) + 1e-9)
    return 1e-4 * rng.standard_normal(n)  # near silence: minimal steps


def _decode(name: str, raw: bytes) -> tuple[np.ndarray, int | None]:
    if name == "mp1":
        return mpeg_audio.decode_mp1(raw)
    if name == "mp2":
        return mpeg_audio.decode_mp2(raw)
    if name == "flac":
        return flac.decode_flac(raw)
    return codec.decode(raw, name), None


def _variants(rng: np.random.Generator, raw: bytes) -> list[bytes]:
    out = [raw]
    n = len(raw)
    for _ in range(N_CUTS):
        out.append(raw[: int(rng.integers(0, n))] if n else raw)
    out.append(raw + rng.integers(0, 256, int(rng.integers(1, 64)), np.uint8).tobytes())
    out.append(raw + raw[: max(1, n // 3)])
    out.append(raw + raw[: int(rng.integers(1, 8))])
    for i in range(N_FLIPS):
        if not n:
            break
        buf = bytearray(raw)
        for pos in rng.integers(0, 8 * n, 1 + i % 4):  # one to four flips
            buf[pos >> 3] ^= 0x80 >> (pos & 7)
        out.append(bytes(buf))
    return out


def _adpcm_variants(rng: np.random.Generator, raw: bytes) -> list[bytes]:
    """Damage inside a well-formed RIFF container: the chunk walk passes
    and the block decoder sees the damage."""
    fmt_at = raw.index(b"fmt ") + 8
    data_at = raw.index(b"data") + 8
    out = []
    for block_align in (5, 36, 2048):
        buf = bytearray(raw)
        buf[fmt_at + 12: fmt_at + 14] = block_align.to_bytes(2, "little")
        out.append(bytes(buf))
    if len(raw) > data_at:
        garbage = rng.integers(0, 256, len(raw) - data_at, np.uint8)
        out.append(raw[:data_at] + garbage.tobytes())
        garbage[2::256] %= 89  # valid step index in every block header
        out.append(raw[:data_at] + garbage.tobytes())
    return out


def _mpeg_variants(rng: np.random.Generator, raw: bytes) -> list[bytes]:
    """Header rewrites: the encoders emit equal-size frames, so frame f
    starts at f times the offset of the second sync word."""
    size = raw.find(raw[:4], 1)
    starts = range(0, len(raw), size) if size > 0 else [0]
    out = []
    for every in (False, False, False, True):
        buf = bytearray(raw)
        frames = starts if every else [int(rng.choice(starts))]
        br_idx = int(rng.integers(1, 15))
        for f in frames:
            buf[f + 2] = (buf[f + 2] & 0x0F) | (br_idx << 4)
        out.append(bytes(buf))
        buf = bytearray(raw)
        for f in frames:
            buf[f + 1] &= 0xFE  # protection bit 0: a CRC word follows
        out.append(bytes(buf))
    return out


def _encodes(name: str, rng: np.random.Generator) -> list[bytes]:
    raws = []
    for sr in RATES[name]:
        for i, n in enumerate(LENGTHS):
            x = _signal(rng, n, sr, i % 3).astype(np.float32)
            raws.append(codec.encode(x, name, sr_hz=sr))
    if name == "mp2":
        # 80 and 192 kbps at 32 kHz select Tables B.2a and B.2b
        x = _signal(rng, 6000, 32000, 0)
        lo = mpeg_audio.encode_mp2(x, 32000, 80)
        hi = mpeg_audio.encode_mp2(x, 32000, 192)
        raws += [lo + hi, hi + lo + hi]
    return raws


def _flac_cuts() -> list[bytes]:
    """Every byte cut of a slow sine three steps high: its residuals
    code as k = 0 Rice partitions of all ones, so some cuts end right
    after such a partition, on its last bit."""
    x = np.round(3 * np.sin(0.004 * np.arange(12288))) / 32768
    raw = flac.encode_flac(x.astype(np.float32), 22050)
    return [raw[:cut] for cut in range(len(raw))]


def _cases(name: str, rng: np.random.Generator):
    for raw in _encodes(name, rng):
        yield from _variants(rng, raw)
        if name == "adpcm":
            yield from _adpcm_variants(rng, raw)
        if name in ("mp1", "mp2"):
            yield from _mpeg_variants(rng, raw)
    if name == "flac":
        yield from _flac_cuts()


def main() -> None:
    for seed, name in enumerate(RATES):
        rng = np.random.default_rng(1000 + seed)
        digest, cases = hashlib.sha256(), 0
        for var in _cases(name, rng):
            try:
                pcm, sr = _decode(name, var)
                digest.update(np.ascontiguousarray(pcm).tobytes())
                digest.update(repr(sr).encode())
            except Exception as e:  # noqa: BLE001 - the error text is the result
                digest.update(f"{type(e).__name__}: {e}".encode())
            cases += 1
        print(f"codec {name}  cases {cases}  sha256 {digest.hexdigest()}")


if __name__ == "__main__":
    main()
