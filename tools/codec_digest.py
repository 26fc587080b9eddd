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

The PCM codecs follow: bare pcm_s16le and alaw, then the wav, aiff
and au containers. wav covers all eight ``encode_wav_variant``
formats, plain and extensible, at one to three channels; au all five
encodings; aiff mono and stereo. Besides the damage above, each
container encode also gets rewritten header fields (format tag, bit
depth, channel count, encoding, offsets and sizes, random header
bytes) and a data chunk declared one to seven bytes short, so its
last sample or frame is partial.

Prints one ``codec NAME  cases N  sha256 HEX`` line per codec. The
digest covers, case by case, the decoded PCM bytes plus the sample
rate the decoder reports, or the exception type plus its message;
for the PCM codecs it also covers the bytes of every encode.
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
import struct  # noqa: E402
import sys  # noqa: E402
import warnings  # noqa: E402

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
    "pcm_s16le": (8000, 16000),
    "alaw": (8000, 16000),
    "wav": (8000, 44100),
    "aiff": (22050, 44100),
    "au": (8000, 16000),
}
CONTAINERS = ("wav", "aiff", "au")
WAV_FORMATS = (
    ("pcm", 8), ("pcm", 16), ("pcm", 24), ("pcm", 32),
    ("float", 32), ("float", 64), ("alaw", 8), ("ulaw", 8),
)
AU_ENCODINGS = (1, 2, 3, 6, 27)
N_HEADER = 6
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


def _container_encodes(name: str, rng: np.random.Generator) -> list[bytes]:
    """Every sample format of the container at one to three channels;
    every other signal is scaled past full scale so the quantizers
    clip."""
    if name == "wav":
        layouts = [(f, b, e, c) for f, b in WAV_FORMATS
                   for e in (False, True) for c in (1, 2, 3)]
    elif name == "aiff":
        layouts = [(c,) for c in (1, 2)]
    else:
        layouts = [(e, c) for e in AU_ENCODINGS for c in (1, 2)]
    raws = []
    for layout in layouts:
        nch = layout[-1]
        for sr in RATES[name]:
            for i, n in enumerate(LENGTHS):
                gain = 1.25 if (i + nch) % 2 else 1.0
                x = gain * np.stack([_signal(rng, n, sr, (i + c) % 3)
                                     for c in range(nch)], axis=1)
                if nch == 1:
                    x = x[:, 0]
                if name == "wav":
                    fmt, bits, ext, _ = layout
                    raws.append(codec.encode_wav_variant(
                        x, sr, bits=bits, sample_format=fmt, extensible=ext))
                elif name == "aiff":
                    raws.append(codec.encode_aiff(x, sr))
                else:
                    raws.append(codec.encode_au(x, sr, encoding=layout[0]))
    return raws


def _put(raw: bytes, at: int, fmt: str, value: int) -> bytes:
    buf = bytearray(raw)
    struct.pack_into(fmt, buf, at, value)
    return bytes(buf)


def _header_variants(rng: np.random.Generator, name: str, raw: bytes) -> list[bytes]:
    """Rewritten header fields, random header bytes and a data chunk
    declared 1-7 bytes short (its tail then holds a partial sample)."""
    out = []
    pick = lambda *vals: int(rng.choice(vals))  # noqa: E731
    if name == "wav":
        fmt_at = raw.index(b"fmt ") + 8
        size_at = raw.index(b"data") + 4
        head = size_at + 4
        for _ in range(N_HEADER):
            buf = _put(raw, fmt_at, "<H", pick(1, 2, 3, 6, 7, 0x11, 0xFFFE))
            buf = _put(buf, fmt_at + 14, "<H", pick(4, 8, 12, 16, 24, 32, 64))
            out.append(_put(buf, fmt_at + 2, "<H", pick(0, 1, 2, 3, 7)))
        order = "<"
    elif name == "aiff":
        comm_at = raw.index(b"COMM") + 8
        size_at = raw.index(b"SSND") + 4
        head = size_at + 12
        n_frames = struct.unpack_from(">I", raw, comm_at + 2)[0]
        for _ in range(N_HEADER):
            buf = _put(raw, comm_at, ">h", pick(-1, 0, 1, 2, 3))
            buf = _put(buf, comm_at + 6, ">h", pick(8, 16, 16, 24))
            buf = _put(buf, comm_at + 2, ">I", pick(0, n_frames // 2, n_frames, 2**32 - 1))
            out.append(_put(buf, size_at + 4, ">I", pick(0, 0, 1, 2, 7, 2**20)))
        order = ">"
    else:
        size_at, head = 8, 24
        dsize = struct.unpack_from(">I", raw, 8)[0]
        for _ in range(N_HEADER):
            buf = _put(raw, 12, ">I", pick(*AU_ENCODINGS, 0, 4, 5, 23))
            buf = _put(buf, 20, ">I", pick(0, 1, 2, 3))
            buf = _put(buf, 4, ">I", pick(0, 23, 24, 24, 25, 28, len(raw) + 1))
            out.append(_put(buf, 8, ">I", pick(0, 1, dsize - 1, dsize, dsize + 1, 2**32 - 1)))
        order = ">"
    for _ in range(2):
        buf = bytearray(raw)
        buf[int(rng.integers(0, head))] = int(rng.integers(0, 256))
        out.append(bytes(buf))
    declared = struct.unpack_from(order + "I", raw, size_at)[0]
    for short in range(1, 8):
        out.append(_put(raw, size_at, order + "I", max(declared - short, 0)))
    return out


def _flac_cuts() -> list[bytes]:
    """Every byte cut of a slow sine three steps high: its residuals
    code as k = 0 Rice partitions of all ones, so some cuts end right
    after such a partition, on its last bit."""
    x = np.round(3 * np.sin(0.004 * np.arange(12288))) / 32768
    raw = flac.encode_flac(x.astype(np.float32), 22050)
    return [raw[:cut] for cut in range(len(raw))]


def _cases(name: str, rng: np.random.Generator):
    """Yield ("encode", bytes) for each PCM codec encode and
    ("decode", bytes) for each stream to decode."""
    if name in CONTAINERS:
        for raw in _container_encodes(name, rng):
            yield "encode", raw
            for var in _variants(rng, raw) + _header_variants(rng, name, raw):
                yield "decode", var
        return
    for raw in _encodes(name, rng):
        if name in ("pcm_s16le", "alaw"):
            yield "encode", raw
        for var in _variants(rng, raw):
            yield "decode", var
        if name == "adpcm":
            for var in _adpcm_variants(rng, raw):
                yield "decode", var
        if name in ("mp1", "mp2"):
            for var in _mpeg_variants(rng, raw):
                yield "decode", var
    if name == "flac":
        for var in _flac_cuts():
            yield "decode", var


def main() -> None:
    # bit flips make NaN and huge float samples; their cast warnings
    # are expected noise, the digest covers the values
    warnings.simplefilter("ignore", RuntimeWarning)
    for seed, name in enumerate(RATES):
        rng = np.random.default_rng(1000 + seed)
        digest, cases = hashlib.sha256(), 0
        for kind, var in _cases(name, rng):
            if kind == "encode":
                digest.update(var)
                cases += 1
                continue
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
