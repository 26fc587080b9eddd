"""Independent oracle for the audio fingerprint chain.

This module is a from-scratch second implementation of the landmark
DSP + matcher semantics, used ONLY to generate the committed
`fixtures/*_expected.parquet` oracles and to verify the engine in
pytest. It deliberately shares **no code** with `sparkfp/`:

- decode: `struct` loop for PCM, a table built from the ITU-T G.711
  expansion formula for mu-law (vs the engine's vectorized
  `np.frombuffer` / bit-twiddling paths in sparkfp/codec.py);
- spectrogram: direct DFT (explicit complex-exponential matrix, no
  `np.fft`), float64 end-to-end (vs the engine's strided float32
  `rfft` in sparkfp/dsp.py);
- peaks / landmark pairs: naive O(frames x bands x bins) and
  O(n_peaks x fan_out) Python loops (vs the engine's vectorized
  argmax / shifted-slice pairing);
- matcher: plain-dict offset-histogram voting (vs the engine's
  groupBy/window plan and the fused searchsorted matcher).

The analysis parameters are restated here from the published scheme
(Wang 2003 constellation hashing) — they are the *contract*, so both
implementations declare them independently; a test cross-checks they
agree. Reference parity anchor: the reference's flatMap->window->probe
semantics (src/flink_job/job.py:63-82,
src/postprocess/save_fingerprints.py:140-153).

If this oracle and the engine ever disagree, the engine is wrong (or
the contract changed intentionally — then update BOTH and regenerate
fixtures via tools/gen_audio_fixtures.py).
"""

from __future__ import annotations

import math
import struct
import zlib
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# ---- contract constants (restated, not imported) ----
N_FFT = 512
HOP = 256
N_BANDS = 6
PEAK_FACTOR = 2.0
FAN_OUT = 5
MAX_DT_FRAMES = 32
SR_REF = 8000
RESAMPLE_HALF_TAPS = 16
OFFSET_BIN_MS = 100
MIN_VOTES = 200
MIN_SCORE = 50.0


def round_half_up(x: float, digits: int) -> float:
    """Spark's ROUND(col, n): HALF_UP on the shortest decimal repr of
    the double (BigDecimal.valueOf semantics)."""
    q = Decimal(1).scaleb(-digits)
    # `+ 0.0` normalizes IEEE -0.0 -> +0.0: Java BigDecimal (Spark ROUND)
    # has no negative zero, while Python Decimal preserves the sign bit on
    # values like -0.00002 rounded to 3 dp. The driver's value hash is
    # sign-bit sensitive, so the oracle must match Spark here.
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP)) + 0.0


# ------------------------------------------------------------- decode


def _ulaw_expand_table() -> list[int]:
    """ITU-T G.711 mu-law expansion, one byte at a time from the spec
    formula: magnitude = ((mantissa << 3) + 132) << exponent, minus the
    132 bias, sign from the top bit (byte stored complemented)."""
    table = []
    for byte in range(256):
        u = (~byte) & 0xFF
        exponent = (u >> 4) & 0x07
        mantissa = u & 0x0F
        magnitude = (((mantissa << 3) + 132) << exponent) - 132
        table.append(-magnitude if (u & 0x80) else magnitude)
    return table


_ULAW_TABLE = _ulaw_expand_table()


def _alaw_expand_table() -> list[int]:
    """ITU-T G.711 A-law expansion, byte at a time from the spec
    formula (even bits stored inverted; sign bit SET is positive)."""
    table = []
    for byte in range(256):
        v = byte ^ 0x55
        seg = (v >> 4) & 0x07
        t = (v & 0x0F) << 4
        if seg == 0:
            t += 8
        else:
            t = (t + 0x108) << (seg - 1)
        table.append(t if (v & 0x80) else -t)
    return table


_ALAW_TABLE = _alaw_expand_table()


# IMA ADPCM reference-algorithm tables, restated from the spec (they
# are the format contract, declared independently of sparkfp/codec.py)
_IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
_IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]


def _decode_ima_scalar(
    data: bytes, block_align: int, fact: int | None
) -> list[float]:
    """Literal per-sample IMA ADPCM loop: one nibble at a time, pure
    Python ints and if/else step updates — vs the engine's
    clamped prefix scans across blocks (sparkfp/codec.py)."""
    if block_align < 5:
        raise ValueError("oracle: bad adpcm block align")
    out = []
    n_blocks = len(data) // block_align
    for b in range(n_blocks):
        blk = data[b * block_align: (b + 1) * block_align]
        pred = struct.unpack_from("<h", blk, 0)[0]
        index = blk[2]
        if index > 88:
            raise ValueError("oracle: adpcm step index out of range")
        out.append(pred)
        for byte in blk[4:]:
            for code in (byte & 0x0F, byte >> 4):
                step = _IMA_STEP_TABLE[index]
                diff = step >> 3
                if code & 4:
                    diff += step
                if code & 2:
                    diff += step >> 1
                if code & 1:
                    diff += step >> 2
                if code & 8:
                    pred -= diff
                else:
                    pred += diff
                if pred > 32767:
                    pred = 32767
                if pred < -32768:
                    pred = -32768
                index += _IMA_INDEX_TABLE[code & 7]
                if index < 0:
                    index = 0
                if index > 88:
                    index = 88
                out.append(pred)
    if fact is not None:
        if fact > len(out):
            raise ValueError("oracle: adpcm data shorter than fact")
        out = out[:fact]
    return [s / 32768.0 for s in out]


def _decode_wav_scalar(raw: bytes) -> list[float]:
    """Scalar RIFF/WAVE walk: struct reads, per-sample loop, channel
    mean in float64 — independent of the engine's frombuffer path."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("oracle: not RIFF/WAVE")
    pos, fmt, data, fact = 12, None, None, None
    while pos + 8 <= len(raw):
        cid = raw[pos: pos + 4]
        size = struct.unpack_from("<I", raw, pos + 4)[0]
        body = raw[pos + 8: pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        elif cid == b"fact" and size >= 4:
            fact = struct.unpack_from("<I", body, 0)[0]
        pos += 8 + size + (size % 2)
    if fmt is None or data is None:
        raise ValueError("oracle: missing fmt/data")
    tag, nch = struct.unpack_from("<HH", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if tag == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE: effective tag = first 2 bytes of the
        # SubFormat GUID at fmt[24:40]
        if len(fmt) < 40:
            raise ValueError("oracle: short extensible fmt")
        tag = struct.unpack_from("<H", fmt, 24)[0]
    if tag == 0x11 and bits == 4 and nch == 1:
        block_align = struct.unpack_from("<H", fmt, 12)[0]
        return _decode_ima_scalar(data, block_align, fact)
    if tag == 1 and bits == 16:
        samples = [
            s[0] / 32768.0
            for s in struct.iter_unpack("<h", data[: len(data) - len(data) % 2])
        ]
        # integer mean first (legacy engine path is (sum s)/nch/32768,
        # identical in float64 since / is exact scaling here)
    elif tag == 1 and bits == 8:
        samples = [(b - 128) / 128.0 for b in data]
    elif tag == 1 and bits == 24:
        samples = []
        for i in range(0, len(data) - len(data) % 3, 3):
            v = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16)
            if v >= 1 << 23:
                v -= 1 << 24
            samples.append(v / float(1 << 23))
    elif tag == 1 and bits == 32:
        samples = [
            s[0] / float(1 << 31)
            for s in struct.iter_unpack("<i", data[: len(data) - len(data) % 4])
        ]
    elif tag == 3 and bits == 32:
        samples = [
            s[0] for s in struct.iter_unpack("<f", data[: len(data) - len(data) % 4])
        ]
    elif tag == 3 and bits == 64:
        samples = [
            s[0] for s in struct.iter_unpack("<d", data[: len(data) - len(data) % 8])
        ]
    elif tag == 6 and bits == 8:
        samples = [_ALAW_TABLE[b] / 32768.0 for b in data]
    elif tag == 7 and bits == 8:
        samples = [_ULAW_TABLE[b] / 32768.0 for b in data]
    else:
        raise ValueError(f"oracle: unsupported wav tag {tag}/{bits}-bit")
    n_frames = len(samples) // nch
    out = []
    for i in range(n_frames):
        frame = samples[i * nch: (i + 1) * nch]
        out.append(sum(frame) / nch)
    return out


def decode(raw: bytes, codec_name: str) -> list[float]:
    """bytes -> PCM floats in [-1, 1]; scalar loops, float64."""
    if codec_name == "pcm_s16le":
        return [s[0] / 32768.0 for s in struct.iter_unpack("<h", raw)]
    if codec_name == "ulaw":
        return [_ULAW_TABLE[b] / 32768.0 for b in raw]
    if codec_name == "alaw":
        return [_ALAW_TABLE[b] / 32768.0 for b in raw]
    if codec_name in ("wav", "adpcm"):
        return _decode_wav_scalar(raw)
    if codec_name == "mp1":
        return _decode_mp1_scalar(raw)
    if codec_name == "mp2":
        return _decode_mp2_scalar(raw)
    if codec_name == "aiff":
        return _decode_aiff_scalar(raw)
    if codec_name == "au":
        return _decode_au_scalar(raw)
    if codec_name == "flac":
        return _decode_flac_scalar(raw)
    raise ValueError(f"oracle cannot decode codec {codec_name!r}")


# --------------------------------------------------------- spectrogram

_DFT = None  # cached (N_FFT x N_FFT//2+1) complex exponential matrix


def _dft_matrix() -> np.ndarray:
    global _DFT
    if _DFT is None:
        n = np.arange(N_FFT, dtype=np.float64)
        k = np.arange(N_FFT // 2 + 1, dtype=np.float64)
        _DFT = np.exp(-2j * math.pi * np.outer(n, k) / N_FFT)
    return _DFT


def spectrogram(pcm: list[float]) -> np.ndarray:
    """Direct-DFT magnitude spectrogram (frames x N_FFT//2+1), float64.

    Hann window from the closed form w[i] = 0.5 - 0.5 cos(2 pi i/(N-1)).
    """
    x = list(pcm)
    if len(x) < N_FFT:
        x = x + [0.0] * (N_FFT - len(x))
    win = [0.5 - 0.5 * math.cos(2.0 * math.pi * i / (N_FFT - 1)) for i in range(N_FFT)]
    n_frames = 1 + (len(x) - N_FFT) // HOP
    dft = _dft_matrix()
    frames = np.empty((n_frames, N_FFT), dtype=np.float64)
    for f in range(n_frames):
        seg = x[f * HOP : f * HOP + N_FFT]
        frames[f, :] = [s * w for s, w in zip(seg, win)]
    return np.abs(frames @ dft)


# --------------------------------------------------------------- peaks


def band_edges() -> list[int]:
    """Geometric band boundaries over bins [2, N_FFT//2+1], rounded
    half-to-even, deduplicated — restated from the contract."""
    lo, hi = 2.0, float(N_FFT // 2 + 1)
    vals = [lo * (hi / lo) ** (i / N_BANDS) for i in range(N_BANDS + 1)]
    out: list[int] = []
    for v in vals:
        r = round(v)
        if r not in out:
            out.append(r)
    return sorted(out)


def peaks(mag: np.ndarray) -> list[tuple[int, int]]:
    """Per-frame, per-band maxima above 2x the global mean magnitude.

    Naive scan; returns (frame, bin) sorted by (frame, bin)."""
    if mag.size == 0:
        return []
    total = 0.0
    for row in mag:
        for v in row:
            total += float(v)
    thresh = PEAK_FACTOR * (total / mag.size)
    edges = band_edges()
    out: list[tuple[int, int]] = []
    for f in range(mag.shape[0]):
        for b in range(len(edges) - 1):
            lo, hi = edges[b], edges[b + 1]
            if hi <= lo:
                continue
            best_bin, best_val = -1, -1.0
            for k in range(lo, min(hi, mag.shape[1])):
                v = float(mag[f, k])
                if v > best_val:
                    best_bin, best_val = k, v
            if best_bin >= 0 and best_val > thresh:
                out.append((f, best_bin))
    out.sort()
    return out


# ----------------------------------------------------------- landmarks


def landmarks(pks: list[tuple[int, int]], sr_hz: int) -> list[tuple[int, int]]:
    """Anchor-target pairs over the next FAN_OUT peaks (by index), dt in
    (0, MAX_DT_FRAMES]; hash = (f_a << 19) | (f_t << 10) | dt.

    Returns [(hash, t_ms)] with t_ms = floor(frame * HOP * 1000 / sr)."""
    out = []
    n = len(pks)
    for i in range(n):
        fr_a, bin_a = pks[i]
        for j in range(i + 1, min(i + FAN_OUT + 1, n)):
            fr_t, bin_t = pks[j]
            dt = fr_t - fr_a
            if dt <= 0 or dt > MAX_DT_FRAMES:
                continue
            h = (bin_a << 19) | (bin_t << 10) | dt
            t_ms = (fr_a * HOP * 1000) // sr_hz
            out.append((h, t_ms))
    return out


def _resample_scalar(
    vals: list[float], sr_in: int, sr_out: int,
    half_taps: int = RESAMPLE_HALF_TAPS,
) -> list[float]:
    """Literal per-output-sample windowed-sinc loop (Hann window,
    cutoff min(1, ratio), kernel widened by 1/cutoff, edge-hold,
    per-sample DC normalization) — the resampling contract restated
    independently of the engine's phase-table form
    (sparkfp/dsp.py resample)."""
    if sr_in == sr_out:
        return list(vals)
    n_in = len(vals)
    n_out = int(round(n_in * sr_out / sr_in))
    cutoff = min(1.0, sr_out / sr_in)
    h_taps = int(math.ceil(half_taps / cutoff))
    out = []
    for n in range(n_out):
        t = n * sr_in / sr_out
        i0 = math.floor(t)
        acc = wsum = 0.0
        for k in range(-h_taps + 1, h_taps + 1):
            d = k - (t - i0)
            if abs(d) >= h_taps:
                continue
            if d == 0.0:
                w = cutoff
            else:
                w = cutoff * math.sin(math.pi * cutoff * d) / (math.pi * cutoff * d)
            w *= 0.5 + 0.5 * math.cos(math.pi * d / h_taps)
            src = min(max(i0 + k, 0), n_in - 1)
            acc += vals[src] * w
            wsum += w
        out.append(acc / wsum)
    return out


def clip_landmarks(raw: bytes, codec_name: str, sr_hz: int) -> list[tuple[int, int]]:
    vals = decode(raw, codec_name)
    if sr_hz != SR_REF:
        vals = _resample_scalar(vals, sr_hz, SR_REF)
    return landmarks(peaks(spectrogram(vals)), SR_REF)


# --------------------------------------------------------------- match


def build_index(
    tracks: list[tuple[str, bytes, str, int]],
) -> dict[int, list[tuple[str, int]]]:
    """[(track_id, bytes, codec, sr)] -> hash -> [(track_id, t_track_ms)]."""
    idx: dict[int, list[tuple[str, int]]] = {}
    for tid, raw, codec_name, sr in tracks:
        for h, t in clip_landmarks(raw, codec_name, sr):
            idx.setdefault(h, []).append((tid, t))
    return idx


def _trunc_div(v: int, d: int) -> int:
    """Truncate-toward-zero division (Spark (x / d).cast(long))."""
    return abs(v) // d * (1 if v >= 0 else -1)


def match_clip(
    lms: list[tuple[int, int]],
    index: dict[int, list[tuple[str, int]]],
    dur_ms: int,
    bin_ms: int = OFFSET_BIN_MS,
    min_votes: int = MIN_VOTES,
    min_score: float = MIN_SCORE,
) -> tuple[str, int, int, float] | None:
    """Offset-histogram vote over a plain dict; best by
    (-votes, track_id, offset_bin); thresholds as in the contract.

    Returns (matched_track, offset_ms, vote_count, score) or None."""
    votes: Counter = Counter()
    for h, t_ms in lms:
        for tid, t_track in index.get(h, ()):
            votes[(tid, _trunc_div(t_track - t_ms, bin_ms))] += 1
    if not votes:
        return None
    best_n = max(votes.values())
    tid, obin = min(k for k, n in votes.items() if n == best_n)
    score = best_n / (dur_ms / 1000.0)
    if best_n < min_votes or score < min_score:
        return None
    return tid, obin * bin_ms, best_n, score


# ------------------------------------------------- multimodal features


def byte_features(raw: bytes) -> tuple[int, float, float, float]:
    """(n_bytes, mean, shannon entropy bits, zero ratio) — scalar math."""
    n = len(raw)
    if n == 0:
        return 0, 0.0, 0.0, 0.0
    counts = Counter(raw)
    mean = sum(b * c for b, c in counts.items()) / n
    entropy = -sum((c / n) * math.log2(c / n) for c in counts.values())
    return n, mean, entropy, counts.get(0, 0) / n


def decode_bmp_pixels(raw: bytes) -> list[float]:
    """Independent scalar BMP parse (24-bit BI_RGB, bottom-up or
    top-down): struct reads + per-pixel loops, nothing shared with the
    engine's strided-numpy decoder. Returns the RGB channel values in
    row-major top-down order as floats."""
    if raw[:2] != b"BM":
        raise ValueError("not BMP")
    off = struct.unpack_from("<I", raw, 10)[0]
    w = struct.unpack_from("<i", raw, 18)[0]
    h_signed = struct.unpack_from("<i", raw, 22)[0]
    bpp = struct.unpack_from("<H", raw, 28)[0]
    comp = struct.unpack_from("<I", raw, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"oracle handles 24bpp BI_RGB only, got {bpp}/{comp}")
    h = abs(h_signed)
    stride = ((3 * w + 3) // 4) * 4
    vals: list[float] = []
    for row in range(h):
        # stored bottom-up unless height is negative
        src_row = row if h_signed < 0 else h - 1 - row
        base = off + src_row * stride
        for x in range(w):
            b, g, r = raw[base + 3 * x : base + 3 * x + 3]
            vals.extend((float(r), float(g), float(b)))
    return vals


def _gif_lzw_scalar(data: bytes, mcs: int, n_pixels: int) -> list[int]:
    """Chain-table LZW: entries are (prefix_code, byte) pairs expanded
    by walking the chain — vs the engine's materialized bytearray
    strings (sparkfp/gif.py). Scalar bit reader, LSB-first."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    bitpos = 0

    def read(width: int) -> int:
        nonlocal bitpos
        v = 0
        for k in range(width):
            byte_i = bitpos >> 3
            if byte_i >= len(data):
                raise ValueError("oracle: gif lzw ran out of bits")
            v |= ((data[byte_i] >> (bitpos & 7)) & 1) << k
            bitpos += 1
        return v

    def expand(code: int, table: dict) -> list[int]:
        seq: list[int] = []
        cur: int | None = code
        while cur is not None:
            pref, byte = table[cur]
            seq.append(byte)
            cur = pref
        return seq[::-1]

    table = {i: (None, i) for i in range(clear)}
    width, nxt, prev = mcs + 1, end + 1, None
    out: list[int] = []
    while len(out) < n_pixels:
        code = read(width)
        if code == clear:
            table = {i: (None, i) for i in range(clear)}
            width, nxt, prev = mcs + 1, end + 1, None
            continue
        if code == end:
            break
        if prev is None:
            if code not in table:
                raise ValueError("oracle: bad first gif code")
            out.extend(expand(code, table))
            prev = code
            continue
        if code in table:
            seq = expand(code, table)
            if nxt < 4096:
                table[nxt] = (prev, seq[0])
                nxt += 1
        elif code == nxt and nxt < 4096:
            first = expand(prev, table)[0]
            table[nxt] = (prev, first)
            nxt += 1
            seq = expand(code, table)
        else:
            raise ValueError("oracle: gif code out of range")
        out.extend(seq)
        prev = code
        if nxt == (1 << width) and width < 12:
            width += 1
    if len(out) < n_pixels:
        raise ValueError("oracle: gif raster short")
    return out[:n_pixels]


def decode_gif_pixels(raw: bytes) -> list[float]:
    """Independent scalar GIF parse: struct reads, per-field block
    walk, chain-table LZW, per-row de-interlace loop. Returns RGB
    values in row-major top-down order."""
    if raw[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("oracle: not a GIF")
    flags = raw[10]
    pos, gct = 13, None
    if flags & 0x80:
        n = 3 * (1 << ((flags & 7) + 1))
        gct = raw[pos: pos + n]
        pos += n
    while pos < len(raw) and raw[pos] == 0x21:
        pos += 2
        while raw[pos] != 0:
            pos += 1 + raw[pos]
        pos += 1
    if pos >= len(raw) or raw[pos] != 0x2C:
        raise ValueError("oracle: no gif image descriptor")
    w = struct.unpack_from("<H", raw, pos + 5)[0]
    h = struct.unpack_from("<H", raw, pos + 7)[0]
    iflags = raw[pos + 9]
    pos += 10
    ct = gct
    if iflags & 0x80:
        n = 3 * (1 << ((iflags & 7) + 1))
        ct = raw[pos: pos + n]
        pos += n
    if ct is None:
        raise ValueError("oracle: gif without color table")
    mcs = raw[pos]
    pos += 1
    chunks = []
    while raw[pos] != 0:
        n = raw[pos]
        chunks.append(raw[pos + 1: pos + 1 + n])
        pos += 1 + n
    indices = _gif_lzw_scalar(b"".join(chunks), mcs, w * h)
    rows = [indices[r * w: (r + 1) * w] for r in range(h)]
    if iflags & 0x40:  # 4-pass interlace: storage order -> display order
        order = []
        for off, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            order.extend(range(off, h, step))
        display = [None] * h
        for stored_row, display_row in enumerate(order):
            display[display_row] = rows[stored_row]
        rows = display
    vals: list[float] = []
    for row in rows:
        for i in row:
            if 3 * i + 2 >= len(ct):
                raise ValueError("oracle: gif index outside palette")
            vals.extend(
                (float(ct[3 * i]), float(ct[3 * i + 1]), float(ct[3 * i + 2]))
            )
    return vals


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor, restated scalar from the PNG spec (RFC 2083)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png_pixels(raw: bytes) -> list[float]:
    """Independent scalar PNG parse (8-bit RGB, non-interlaced): manual
    chunk walk, stdlib zlib inflate (the spec's DEFLATE is the public
    contract, not engine code), then byte-at-a-time unfiltering with a
    scalar Paeth — nothing shared with the engine's vectorized
    cumsum/strided reconstruction. Returns RGB values row-major."""
    if raw[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not PNG")
    pos, idat, hdr, plte = 8, b"", None, None
    while pos + 12 <= len(raw):
        ln = int.from_bytes(raw[pos: pos + 4], "big")
        ctype = raw[pos + 4: pos + 8]
        body = raw[pos + 8: pos + 8 + ln]
        if zlib.crc32(ctype + body) != int.from_bytes(
            raw[pos + 8 + ln: pos + 12 + ln], "big"
        ):
            raise ValueError("png crc mismatch")
        if ctype == b"IHDR":
            hdr = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if hdr is None:
        raise ValueError("png missing IHDR")
    w = int.from_bytes(hdr[0:4], "big")
    h = int.from_bytes(hdr[4:8], "big")
    depth, color, interlace = hdr[8], hdr[9], hdr[12]
    if (depth not in (8, 16) or color not in (0, 2, 3, 4, 6)
            or (depth, color) == (16, 3) or interlace not in (0, 1)):
        raise ValueError("oracle: unsupported png depth/color")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    bpp = channels * (depth // 8)
    dec = zlib.decompress(idat)

    def unfilter(base: int, ph: int, pw: int) -> list[list[int]]:
        stride = bpp * pw
        rows: list[list[int]] = []
        prev = [0] * stride
        for y in range(ph):
            off = base + y * (stride + 1)
            ftype = dec[off]
            cur = [0] * stride
            for i in range(stride):
                x = dec[off + 1 + i]
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ftype == 0:
                    r = x
                elif ftype == 1:
                    r = x + a
                elif ftype == 2:
                    r = x + b
                elif ftype == 3:
                    r = x + (a + b) // 2
                elif ftype == 4:
                    r = x + _paeth(a, b, c)
                else:
                    raise ValueError(f"png filter {ftype}")
                cur[i] = r % 256
            rows.append(cur)
            prev = cur
        return rows

    def expand(row: list[int]) -> list[int]:
        """One unfiltered byte row -> RGB byte triples (scalar)."""
        if depth == 16:
            row = row[0::2]  # big-endian high byte = 16 -> 8 downscale
        if color == 2:
            return row
        if color == 3:
            if plte is None:
                raise ValueError("png palette image missing PLTE")
            out = []
            for idx in row:
                if 3 * idx + 3 > len(plte):
                    raise ValueError("png palette index out of range")
                out.extend(plte[3 * idx:3 * idx + 3])
            return out
        if color == 0:
            return [v for v in row for _ in range(3)]
        if color == 4:  # gray+alpha: replicate gray, drop alpha
            return [v for v in row[0::2] for _ in range(3)]
        out = []  # color 6: RGBA -> drop alpha
        for i in range(0, len(row), 4):
            out.extend(row[i:i + 3])
        return out

    if interlace:
        # Adam7: scalar pass walk mirroring the spec grids, nothing
        # shared with the engine's strided-scatter reconstruction
        grid = [[0] * (3 * w) for _ in range(h)]
        base = 0
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            if len(dec) - base < ph * (bpp * pw + 1):
                raise ValueError("png data length mismatch")
            for j, row in enumerate(unfilter(base, ph, pw)):
                y = y0 + j * dy
                rgb = expand(row)
                for i in range(pw):
                    x = x0 + i * dx
                    grid[y][3 * x:3 * x + 3] = rgb[3 * i:3 * i + 3]
            base += ph * (bpp * pw + 1)
        if base != len(dec):
            raise ValueError("png data length mismatch")
        return [float(v) for row in grid for v in row]
    stride = bpp * w
    if len(dec) != h * (stride + 1):
        raise ValueError("png data length mismatch")
    return [
        float(v) for row in unfilter(0, h, w) for v in expand(row)
    ]


_JPEG_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16.0) for x in range(8)]
    for u in range(8)
]
_JPEG_ALPHA = [1.0 / math.sqrt(2.0)] + [1.0] * 7
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


class _OracleJpegBits:
    """Scalar entropy-segment bit source: byte-at-a-time unstuffing,
    infinite 1-padding once a real marker is reached (T.81 scan end)."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.p = pos
        self.cur = 0
        self.left = 0
        self.at_marker = False

    def next_bit(self) -> int:
        if self.left == 0:
            if self.at_marker:
                return 1
            if self.p >= len(self.d):
                raise ValueError("oracle jpeg: truncated entropy stream")
            b = self.d[self.p]
            self.p += 1
            if b == 0xFF:
                nxt = self.d[self.p] if self.p < len(self.d) else None
                if nxt == 0x00:
                    self.p += 1
                else:
                    self.p -= 1
                    self.at_marker = True
                    return 1
            self.cur, self.left = b, 8
        self.left -= 1
        return (self.cur >> self.left) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.next_bit()
        return v

    def read_code(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.next_bit()
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("oracle jpeg: invalid huffman code")

    def sync_restart(self, idx: int) -> None:
        self.left = 0
        self.at_marker = False
        p = self.p
        while p + 1 < len(self.d) and not (
            self.d[p] == 0xFF and self.d[p + 1] != 0x00
        ):
            p += 1
        if p + 1 >= len(self.d) or self.d[p + 1] != 0xD0 + (idx % 8):
            raise ValueError("oracle jpeg: missing restart marker")
        self.p = p + 2


def _jpeg_extend(v: int, n: int) -> int:
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def _oracle_decode_scan(
    raw, pos, frame, hmax, vmax, mcus_x, mcus_y,
    blocks, huff, scan, ss, se, ah, al, restart,
) -> int:
    """Scalar entropy decode of one scan (sequential, or any of the
    four progressive kinds of T.81 G.2) into the per-component block
    dicts; returns the position of the next marker."""
    fh, fw, comps = frame
    bits = _OracleJpegBits(raw, pos)
    preds = [0] * len(comps)
    state = {"eobrun": 0}
    p1 = 1 << al

    def get_block(ci, by, bx):
        blk = blocks[ci].get((by, bx))
        if blk is None:
            blk = [0] * 64
            blocks[ci][(by, bx)] = blk
        return blk

    def correct(blk, k):
        # append one successive-approximation bit to an already-nonzero
        # coefficient (two's-complement bit test like the engine/libjpeg;
        # equal to the magnitude test on every valid stream)
        if bits.next_bit() and (blk[k] & p1) == 0:
            blk[k] += p1 if blk[k] >= 0 else -p1

    def decode_block(ci, by, bx, dc_tab, ac_tab):
        blk = get_block(ci, by, bx)
        if ss == 0 and ah == 0 and dc_tab is None:
            raise ValueError("oracle jpeg: undefined DC table")
        if se >= 1 and ac_tab is None:
            raise ValueError("oracle jpeg: undefined AC table")
        if ss == 0:
            if ah == 0:
                cat = bits.read_code(dc_tab)
                preds[ci] += _jpeg_extend(bits.receive(cat), cat)
                blk[0] = preds[ci] << al
            elif bits.next_bit():
                blk[0] |= p1
        if se == 0:
            return
        k = max(ss, 1)
        if ah == 0:  # AC first pass / the AC half of a sequential scan
            if state["eobrun"] > 0:
                state["eobrun"] -= 1
                return
            while k <= se:
                sym = bits.read_code(ac_tab)
                run, size = sym >> 4, sym & 0x0F
                if size == 0:
                    if run == 15:
                        k += 16
                        continue
                    state["eobrun"] = (1 << run) - 1
                    if run:
                        state["eobrun"] += bits.receive(run)
                    break
                k += run
                if k > se:
                    raise ValueError("oracle jpeg: AC overflow")
                blk[k] = _jpeg_extend(bits.receive(size), size) << al
                k += 1
            return
        # AC refinement pass (T.81 G.1.2.3)
        if state["eobrun"] == 0:
            while k <= se:
                sym = bits.read_code(ac_tab)
                run, size = sym >> 4, sym & 0x0F
                newval = 0
                if size:
                    if size != 1:
                        raise ValueError("oracle jpeg: bad refinement size")
                    newval = p1 if bits.next_bit() else -p1
                elif run != 15:
                    state["eobrun"] = 1 << run
                    if run:
                        state["eobrun"] += bits.receive(run)
                    break
                while k <= se:
                    if blk[k] != 0:
                        correct(blk, k)
                    else:
                        run -= 1
                        if run < 0:
                            break
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError("oracle jpeg: refinement overflow")
                    blk[k] = newval
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                if blk[k] != 0:
                    correct(blk, k)
                k += 1
            state["eobrun"] -= 1

    rst = 0
    if len(scan) > 1:  # interleaved: walk the MCU grid
        for mcu in range(mcus_x * mcus_y):
            if restart and mcu and mcu % restart == 0:
                bits.sync_restart(rst)
                rst += 1
                preds = [0] * len(comps)
                state["eobrun"] = 0
            my, mx = mcu // mcus_x, mcu % mcus_x
            for ci, dct, act in scan:
                _, hs, vs, _ = comps[ci]
                for by in range(vs):
                    for bx in range(hs):
                        decode_block(
                            ci, my * vs + by, mx * hs + bx,
                            huff.get((0, dct)), huff.get((1, act)),
                        )
    else:  # non-interleaved: the component's own ceiling grid (A.2.2)
        ci, dct, act = scan[0]
        _, hs, vs, _ = comps[ci]
        cw = (fw * hs + hmax - 1) // hmax
        ch = (fh * vs + vmax - 1) // vmax
        nby, nbx = (ch + 7) // 8, (cw + 7) // 8
        for unit in range(nby * nbx):
            if restart and unit and unit % restart == 0:
                bits.sync_restart(rst)
                rst += 1
                preds = [0] * len(comps)
                state["eobrun"] = 0
            decode_block(
                ci, unit // nbx, unit % nbx,
                huff.get((0, dct)), huff.get((1, act)),
            )

    p = bits.p
    while p + 1 < len(raw) and not (
        raw[p] == 0xFF
        and raw[p + 1] != 0x00
        and not 0xD0 <= raw[p + 1] <= 0xD7
    ):
        p += 1
    if p + 1 >= len(raw):
        raise ValueError("oracle jpeg: stream ends inside entropy data")
    return p


def decode_jpeg_pixels(raw: bytes) -> list[float]:
    """Independent scalar JPEG decode (ITU T.81, restated): dict-lookup
    huffman ((length, code) -> symbol, vs the engine's mincode/maxcode/
    valptr arrays), dict-of-blocks coefficient stores accumulated scan
    by scan (vs the engine's dense numpy stores), per-block direct 2-D
    IDCT from the spec formula over a scalar cosine table (vs the
    engine's one-einsum matrix IDCT over all blocks), pixel-sampled
    chroma upsampling (vs np.repeat). Handles sequential (SOF0/1) and
    progressive (SOF2: spectral selection + successive approximation,
    EOB runs) huffman streams. Returns RGB values row-major as floats
    (gray replicated), identical to the engine's uint8 output."""
    if raw[:2] != b"\xff\xd8":
        raise ValueError("oracle jpeg: no SOI")
    i = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    progressive = False
    restart = 0
    blocks: list[dict[tuple[int, int], list[int]]] | None = None
    geom = None
    saw_scan = False
    while i + 4 <= len(raw):
        if raw[i] != 0xFF:
            raise ValueError("oracle jpeg: marker sync lost")
        m = raw[i + 1]
        if m == 0xD9:
            break
        if m == 0xFF:
            i += 1
            continue
        if 0xD0 <= m <= 0xD7 or m == 0x01:
            i += 2
            continue
        ln = int.from_bytes(raw[i + 2: i + 4], "big")
        body = raw[i + 4: i + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError("oracle jpeg: truncated segment")
        if m == 0xDB:
            j = 0
            while j < len(body):
                if body[j] >> 4 != 0:
                    raise ValueError("oracle jpeg: 16-bit DQT unsupported")
                tbl = [0] * 64
                for k in range(64):
                    tbl[_JPEG_ZIGZAG[k]] = body[j + 1 + k]
                qt[body[j] & 0x0F] = tbl
                j += 65
        elif m == 0xC4:
            j = 0
            while j < len(body):
                key = (body[j] >> 4, body[j] & 0x0F)
                counts = list(body[j + 1: j + 17])
                syms = list(body[j + 17: j + 17 + sum(counts)])
                table, code, si = {}, 0, 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = syms[si]
                        si += 1
                        code += 1
                    code <<= 1
                huff[key] = table
                j += 17 + sum(counts)
        elif m in (0xC0, 0xC1, 0xC2):
            if body[0] != 8:
                raise ValueError("oracle jpeg: only 8-bit precision")
            progressive = m == 0xC2
            fh = int.from_bytes(body[1:3], "big")
            fw = int.from_bytes(body[3:5], "big")
            nc = body[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c: 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (fh, fw, comps)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            geom = (
                hmax, vmax,
                (fw + 8 * hmax - 1) // (8 * hmax),
                (fh + 8 * vmax - 1) // (8 * vmax),
            )
            blocks = [{} for _ in comps]
        elif m == 0xDD:
            restart = int.from_bytes(body[:2], "big")
        elif m == 0xDA:
            if frame is None:
                raise ValueError("oracle jpeg: SOS before SOF")
            ns = body[0]
            scan = []
            for s in range(ns):
                cid, tt = body[1 + 2 * s], body[2 + 2 * s]
                idxs = [
                    c for c, comp in enumerate(frame[2]) if comp[0] == cid
                ]
                if not idxs:
                    raise ValueError("oracle jpeg: unknown scan component")
                scan.append((idxs[0], tt >> 4, tt & 0x0F))
            ss, se, ahal = body[1 + 2 * ns: 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            i = _oracle_decode_scan(
                raw, i + 2 + ln, frame, *geom,
                blocks, huff, scan, ss, se, ah, al, restart,
            )
            saw_scan = True
            continue
        i += 2 + ln
    if frame is None or not saw_scan:
        raise ValueError("oracle jpeg: missing SOF/SOS")
    fh, fw, comps = frame
    hmax, vmax, mcus_x, mcus_y = geom

    # per-component plane via the direct IDCT formula (dequantizing the
    # accumulated zigzag coefficients here, after the last scan)
    planes: list[list[list[float]]] = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        ph, pw = mcus_y * vs * 8, mcus_x * hs * 8
        plane = [[128.0] * pw for _ in range(ph)]
        for (by, bx), zz in blocks[ci].items():
            nat = [0] * 64
            for k in range(64):
                nat[_JPEG_ZIGZAG[k]] = zz[k] * qt[tq][_JPEG_ZIGZAG[k]]
            for y in range(8):
                for x in range(8):
                    acc = 0.0
                    for u in range(8):
                        for v in range(8):
                            c = nat[8 * u + v]
                            if c:
                                acc += (
                                    0.25
                                    * _JPEG_ALPHA[u] * _JPEG_ALPHA[v]
                                    * _JPEG_COS[u][y] * _JPEG_COS[v][x]
                                    * c
                                )
                    plane[8 * by + y][8 * bx + x] = acc + 128.0
        planes.append(plane)

    def sample(ci: int, y: int, x: int) -> float:
        _, hs, vs, _ = comps[ci]
        return planes[ci][y // (vmax // vs)][x // (hmax // hs)]

    def clip8(v: float) -> float:
        # round-half-even then clamp, matching np.clip(np.round(...))
        r = round(v)
        return float(0 if r < 0 else (255 if r > 255 else r))

    vals: list[float] = []
    for y in range(fh):
        for x in range(fw):
            if len(comps) == 1:
                g = clip8(sample(0, y, x))
                vals.extend((g, g, g))
            else:
                yv = sample(0, y, x)
                cb = sample(1, y, x) - 128.0
                cr = sample(2, y, x) - 128.0
                vals.append(clip8(yv + 1.402 * cr))
                vals.append(clip8(yv - 0.344136 * cb - 0.714136 * cr))
                vals.append(clip8(yv + 1.772 * cb))
    return vals


def _mjpeg_frame_list(raw: bytes) -> list[bytes]:
    """Scalar MJPEG container walk: RIFF/AVI chunk scan collecting the
    movi list's '##dc'/'##db' payloads, or SOI-to-EOI frame slicing of
    a bare concatenated stream (marker-structure walk — a byte scan
    for FFD9 would false-trigger inside segment payloads)."""
    if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
        frames: list[bytes] = []
        stack = [(12, len(raw), False)]
        while stack:
            pos, end, in_movi = stack.pop()
            while pos + 8 <= end:
                cc = raw[pos: pos + 4]
                size = int.from_bytes(raw[pos + 4: pos + 8], "little")
                if pos + 8 + size > end:
                    raise ValueError("oracle mjpeg: truncated AVI chunk")
                if cc == b"LIST":
                    lt = raw[pos + 8: pos + 12]
                    if lt == b"movi" or (in_movi and lt == b"rec "):
                        stack.append((pos + 12, pos + 8 + size, True))
                elif in_movi and cc[2:4] in (b"dc", b"db"):
                    frames.append(raw[pos + 8: pos + 8 + size])
                pos += 8 + size + (size % 2)
        if not frames:
            raise ValueError("oracle mjpeg: no frames in AVI")
        return frames
    if raw[:2] != b"\xff\xd8":
        raise ValueError("oracle mjpeg: unknown container")
    frames, start = [], 0
    while start < len(raw):
        p = start + 2
        end = None
        while p + 2 <= len(raw):
            if raw[p] != 0xFF:
                raise ValueError("oracle mjpeg: marker sync lost")
            m = raw[p + 1]
            if m == 0xD9:
                end = p + 2
                break
            if m == 0xFF:
                p += 1
                continue
            if 0xD0 <= m <= 0xD7 or m == 0x01:
                p += 2
                continue
            ln = int.from_bytes(raw[p + 2: p + 4], "big")
            p += 2 + ln
            if m == 0xDA:
                while p + 1 < len(raw) and (
                    raw[p] != 0xFF
                    or raw[p + 1] == 0x00
                    or 0xD0 <= raw[p + 1] <= 0xD7
                ):
                    p += 1
        if end is None:
            raise ValueError("oracle mjpeg: truncated frame")
        frames.append(raw[start:end])
        start = end
    return frames


def decode_mjpeg_pixels(raw: bytes) -> list[float]:
    """All RGB values of all MJPEG frames, frame-major — the same
    value multiset the engine's (T,H,W,3) decode feeds its stats."""
    vals: list[float] = []
    for fb in _mjpeg_frame_list(raw):
        vals.extend(decode_jpeg_pixels(fb))
    return vals


def frame_features(
    raw: bytes, codec_name: str
) -> tuple[float, float, bool]:
    """(frame_mean, frame_std, decoded). Audio decodes via the oracle
    decoders; bmp and png via the oracle's scalar parsers (REAL image
    decodes — the engine's numpy BMP/PNG decoders are verified against
    them); h264 (video — the one remaining fake boundary) follows the
    documented deterministic-fake spec (Philox keyed on the first 8
    payload bytes, 16x16x3 uint8) — the fake's *spec* is shared, its
    surrounding code is not. jpeg and mjpeg (AVI/raw Motion-JPEG)
    decode via the oracle's scalar T.81 decoder (dict huffman + direct
    per-block IDCT), a genuine second implementation against the
    engine's vectorized einsum path."""
    if codec_name in (
        "pcm_s16le", "ulaw", "alaw", "wav", "adpcm", "aiff", "au",
        "mp1", "mp2", "flac",
    ):
        vals = decode(raw, codec_name)
    elif codec_name == "bmp":
        vals = decode_bmp_pixels(raw)
    elif codec_name == "gif":
        vals = decode_gif_pixels(raw)
    elif codec_name == "png":
        vals = decode_png_pixels(raw)
    elif codec_name == "jpeg":
        vals = decode_jpeg_pixels(raw)
    elif codec_name == "mjpeg":
        vals = decode_mjpeg_pixels(raw)
    elif codec_name == "h264":
        key = int.from_bytes(raw[:8].ljust(8, b"\0"), "little")
        # explicit uint64 dtype: a plain [int, 0] list detours through
        # float64 inside numpy and silently rounds the key
        rng = np.random.Generator(
            np.random.Philox(key=np.array([key, 0], dtype=np.uint64))
        )
        vals = [
            float(v)
            for v in rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8).ravel()
        ]
    else:
        return float("nan"), float("nan"), False
    n = len(vals)
    mean = sum(vals) / n
    var = sum((v - mean) ** 2 for v in vals) / n
    return mean, math.sqrt(var), True


# ------------------------------------------------ MPEG-1 Layer I (mp1)
# Scalar twin of sparkfp/mpeg_audio.py: bit-at-a-time frame parsing,
# spec closed-form requantization, and a triple-loop synthesis
# filterbank. The near-PR prototype (RRC alpha=1, T=64) and the ISO
# modulation phases are contract constants restated here, like the
# landmark parameters above.

_MP1_BITRATES = (0, 32, 64, 96, 128, 160, 192, 224, 256,
                 288, 320, 352, 384, 416, 448)
_MP1_RATES = (44100, 48000, 32000)
_MP1_DELAY = 481


def _mp1_prototype() -> list[float]:
    h = []
    for n in range(512):
        t = n - 255.5
        num = (4.0 * t / 64.0) * math.cos(math.pi * 2.0 * t / 64.0)
        den = (math.pi * t / 64.0) * (1.0 - (4.0 * t / 64.0) ** 2)
        h.append(num / den)  # alpha=1 RRC; t half-integer: no poles
    s = sum(h)
    return [v / s for v in h]


_MP1_SYN = None   # per-subband synthesis taps (incl. 1/gain), 32 x 512
_MP1_GAIN = None


def _mp1_tables():
    """Precomputed scalar tables (math.cos loops, like the G.711/IMA
    tables above): per-subband synthesis taps scaled by the measured
    pass-through gain."""
    global _MP1_SYN, _MP1_GAIN
    if _MP1_SYN is None:
        h = _mp1_prototype()
        # exact pass-through gain at impulse position p=1024 (p%32==0),
        # same measurement point as the engine's import calibration
        g = 0.0
        p = 1024
        for t in range((p + 481) // 32 + 1):
            i = 32 * t + 31 - p
            n = p + _MP1_DELAY - 32 * t
            if 0 <= i < 512 and 0 <= n < 512:
                for k in range(32):
                    a = h[i] * math.cos((2 * k + 1) * (i - 16) * math.pi / 64)
                    s = h[n] * math.cos((2 * k + 1) * (n + 16) * math.pi / 64)
                    g += a * s
        _MP1_GAIN = g
        _MP1_SYN = [
            [h[n] * math.cos((2 * k + 1) * (n + 16) * math.pi / 64) / g
             for n in range(512)]
            for k in range(32)
        ]
    return _MP1_SYN, _MP1_GAIN


class _Mp1Bits:
    def __init__(self, data: bytes):
        self.d, self.p = data, 0

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.d[self.p >> 3]
            v = (v << 1) | ((byte >> (7 - (self.p & 7))) & 1)
            self.p += 1
        return v


def _decode_mp1_scalar(raw: bytes) -> list[float]:
    if len(raw) < 4:
        raise ValueError("oracle mp1: short stream")
    subbands: list[list[float]] = []  # per granule, 32 floats
    pos = 0
    while pos < len(raw):
        bits = _Mp1Bits(raw[pos:])
        if bits.read(11) != 0x7FF:
            raise ValueError("oracle mp1: lost sync")
        if bits.read(2) != 3 or bits.read(2) != 3:
            raise ValueError("oracle mp1: not MPEG-1 Layer I")
        crc_present = bits.read(1) == 0
        br = _MP1_BITRATES[bits.read(4)]
        sr = _MP1_RATES[bits.read(2)]
        padding = bits.read(1)
        bits.read(1)
        if bits.read(2) != 3:
            raise ValueError("oracle mp1: not mono")
        bits.read(6)  # mode_ext, copyright, original, emphasis
        frame_bytes = (12 * br * 1000 // sr + padding) * 4
        if pos + frame_bytes > len(raw):
            raise ValueError("oracle mp1: truncated frame")
        if crc_present:
            bits.read(16)
        nb = []
        for _ in range(32):
            a = bits.read(4)
            nb.append(a + 1 if a else 0)
        sf = [0.0] * 32
        for sb in range(32):
            if nb[sb]:
                idx = bits.read(6)
                sf[sb] = 2.0 * 2.0 ** (-idx / 3.0)
        for _g in range(12):
            row = [0.0] * 32
            for sb in range(32):
                w = nb[sb]
                if not w:
                    continue
                code = bits.read(w)
                s3 = code / float(1 << (w - 1)) - 1.0
                s2 = ((1 << w) / float((1 << w) - 1)) * (s3 + 2.0 ** (1 - w))
                row[sb] = s2 * sf[sb]
            subbands.append(row)
        pos += frame_bytes
    syn, _ = _mp1_tables()
    n_gran = len(subbands)
    out = [0.0] * (32 * n_gran)
    for t in range(n_gran):
        row = subbands[t]
        base = 32 * t
        span = min(512, len(out) - base)
        for k in range(32):
            s = row[k]
            if s == 0.0:
                continue
            taps = syn[k]
            for n in range(span):
                out[base + n] += s * taps[n]
    return out[_MP1_DELAY:]


# ------------------------------------------------------------- flac

def _flac_crc8_scalar(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1)
    return crc


def _flac_crc16_scalar(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1)
            )
    return crc


class _FlacBits(_Mp1Bits):
    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def read_rice(self, k: int) -> int:
        u = (self.read_unary() << k) | (self.read(k) if k else 0)
        return -(u + 1) // 2 if u & 1 else u // 2


def _decode_flac_scalar(raw: bytes) -> list[float]:
    """Independent scalar FLAC decoder (fixed-predictor subset):
    byte-at-a-time bit reader, per-sample Rice loop, and the explicit
    binomial predictor recurrences — zero code shared with
    sparkfp/flac.py's vectorized ones-scan/cumsum formulation."""
    if raw[:4] != b"fLaC":
        raise ValueError("oracle flac: bad magic")
    pos, si = 4, None
    while True:
        hdr = raw[pos]
        ln = int.from_bytes(raw[pos + 1:pos + 4], "big")
        if (hdr & 0x7F) == 0:
            si = raw[pos + 4:pos + 4 + ln]
        pos += 4 + ln
        if hdr & 0x80:
            break
    bits = _FlacBits(si)
    bits.read(16), bits.read(16), bits.read(24), bits.read(24)
    sr = bits.read(20)
    nch = bits.read(3) + 1
    bps = bits.read(5) + 1
    total = bits.read(36)
    if nch != 1 or sr == 0:
        raise ValueError("oracle flac: outside mono subset")
    out: list[int] = []
    frames = raw[pos:]
    fpos = 0  # byte offset of current frame
    while len(out) < total:
        b = _FlacBits(frames[fpos:])
        if b.read(14) != 0b11111111111110:
            raise ValueError("oracle flac: lost sync")
        b.read(2)  # reserved + blocking strategy
        bs_code = b.read(4)
        if b.read(4) != 0 or b.read(4) != 0 or b.read(3) != 0:
            raise ValueError("oracle flac: frame-local codes unsupported")
        b.read(1)
        # UTF-8 coded frame number: lead byte gives the length
        lead = b.read(8)
        n_cont = 0
        while n_cont < 7 and lead & (0x80 >> n_cont):
            n_cont += 1
        for _ in range(max(0, n_cont - 1)):
            b.read(8)
        if bs_code == 0b0110:
            blocksize = b.read(8) + 1
        elif bs_code == 0b0111:
            blocksize = b.read(16) + 1
        elif bs_code == 0b0001:
            blocksize = 192
        elif 2 <= bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code >= 8:
            blocksize = 256 << (bs_code - 8)
        else:
            raise ValueError("oracle flac: reserved block size")
        hdr_len = b.p // 8
        crc8 = b.read(8)
        if _flac_crc8_scalar(frames[fpos:fpos + hdr_len]) != crc8:
            raise ValueError("oracle flac: header crc8")
        # subframe
        if b.read(1):
            raise ValueError("oracle flac: subframe pad bit")
        stype = b.read(6)
        wasted = 0
        if b.read(1):
            wasted = 1
            while b.read(1) == 0:
                wasted += 1
        ebps = bps - wasted
        if stype == 0:
            x = [b.read_signed(ebps)] * blocksize
        elif stype == 1:
            x = [b.read_signed(ebps) for _ in range(blocksize)]
        elif 8 <= stype <= 12:
            order = stype - 8
            x = [b.read_signed(ebps) for _ in range(order)]
            res: list[int] = []
            method = b.read(2)
            kb = 4 + method
            po = b.read(4)
            for p in range(1 << po):
                cnt = (blocksize >> po) - (order if p == 0 else 0)
                k = b.read(kb)
                if k == (1 << kb) - 1:
                    w = b.read(5)
                    res += [b.read_signed(w) if w else 0 for _ in range(cnt)]
                else:
                    res += [b.read_rice(k) for _ in range(cnt)]
            for n, r in enumerate(res, start=order):
                if order == 0:
                    x.append(r)
                elif order == 1:
                    x.append(r + x[n - 1])
                elif order == 2:
                    x.append(r + 2 * x[n - 1] - x[n - 2])
                elif order == 3:
                    x.append(r + 3 * x[n - 1] - 3 * x[n - 2] + x[n - 3])
                else:
                    x.append(
                        r + 4 * x[n - 1] - 6 * x[n - 2] + 4 * x[n - 3]
                        - x[n - 4]
                    )
        else:
            raise ValueError(f"oracle flac: subframe type {stype}")
        if wasted:
            x = [v << wasted for v in x]
        b.p += (-b.p) % 8
        body_len = b.p // 8
        crc16 = b.read(16)
        if _flac_crc16_scalar(frames[fpos:fpos + body_len]) != crc16:
            raise ValueError("oracle flac: frame crc16")
        out += x
        fpos += body_len + 2
    return [v / float(1 << (bps - 1)) for v in out[:total]]


# ------------------------------------------------------------- mp2
#
# Scalar MPEG-1 Layer II decoder: per-bit reads, per-sample loops, the
# published B.2a/b quantizer menus restated as spec constants, and the
# closed-form requantization lattice s'' = (2c - L + 1)/L (the Table
# B.4 C/D composition — see sparkfp/mpeg_audio.py Layer II section).
# Nothing shared with the engine's vectorized offset-gather decode.

_MP2_BITRATES = (0, 32, 48, 56, 64, 80, 96, 112, 128, 160,
                 192, 224, 256, 320, 384)
_MP2_MENU_LOW = (3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
                 8191, 16383, 32767, 65535)
_MP2_MENU_MID = (3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047,
                 4095, 65535)
_MP2_MENU_HIGH = (3, 5, 7, 9, 15, 31, 65535)
_MP2_MENU_TOP = (3, 5, 65535)


def _mp2_table(sr: int, kbps: int) -> list[tuple]:
    if kbps <= 48:
        raise ValueError("oracle mp2: low-bitrate table class")
    sblimit = 27 if (sr == 48000 or kbps <= 80) else 30
    rows = ([(4, _MP2_MENU_LOW)] * 3 + [(4, _MP2_MENU_MID)] * 8
            + [(3, _MP2_MENU_HIGH)] * 12)
    rows += [(2, _MP2_MENU_TOP)] * (sblimit - 23)
    return rows[:sblimit]


def _decode_mp2_scalar(raw: bytes) -> list[float]:
    if len(raw) < 4:
        raise ValueError("oracle mp2: short stream")
    subbands: list[list[float]] = []  # per time sample, 32 floats
    pos = 0
    while pos < len(raw):
        bits = _Mp1Bits(raw[pos:])
        if bits.read(11) != 0x7FF:
            raise ValueError("oracle mp2: lost sync")
        if bits.read(2) != 3:
            raise ValueError("oracle mp2: not MPEG-1")
        if bits.read(2) != 2:
            raise ValueError("oracle mp2: not Layer II")
        crc_present = bits.read(1) == 0
        kbps = _MP2_BITRATES[bits.read(4)]
        sr = _MP1_RATES[bits.read(2)]
        padding = bits.read(1)
        bits.read(1)
        if bits.read(2) != 3:
            raise ValueError("oracle mp2: not mono")
        bits.read(6)  # mode_ext, copyright, original, emphasis
        frame_bytes = 144 * kbps * 1000 // sr + padding
        if pos + frame_bytes > len(raw):
            raise ValueError("oracle mp2: truncated frame")
        if crc_present:
            bits.read(16)
        table = _mp2_table(sr, kbps)
        sblimit = len(table)
        step = []
        for sb in range(sblimit):
            step.append(bits.read(table[sb][0]))
        scfsi = {}
        for sb in range(sblimit):
            if step[sb]:
                scfsi[sb] = bits.read(2)
        sf = {}  # sb -> [sf_part0, sf_part1, sf_part2]
        for sb in range(sblimit):
            if not step[sb]:
                continue
            pat = scfsi[sb]
            n_sent = 3 if pat == 0 else (1 if pat == 2 else 2)
            sent = [bits.read(6) for _ in range(n_sent)]
            if pat == 0:
                idxs = sent
            elif pat == 2:
                idxs = [sent[0]] * 3
            elif pat == 1:
                idxs = [sent[0], sent[0], sent[1]]
            else:
                idxs = [sent[0], sent[1], sent[1]]
            sf[sb] = [2.0 * 2.0 ** (-i / 3.0) for i in idxs]
        frame = [[0.0] * 32 for _ in range(36)]
        for g in range(12):  # triplet-granules
            for sb in range(sblimit):
                if not step[sb]:
                    continue
                lv = table[sb][1][step[sb] - 1]
                if lv in (3, 5, 9):
                    w = {3: 5, 5: 7, 9: 10}[lv]
                    c = bits.read(w)
                    trip = [c % lv, (c // lv) % lv, c // (lv * lv)]
                else:
                    w1 = (lv + 1).bit_length() - 1
                    trip = [bits.read(w1) for _ in range(3)]
                for j, code in enumerate(trip):
                    t = 3 * g + j
                    s2 = (2.0 * code - lv + 1.0) / lv
                    frame[t][sb] = s2 * sf[sb][t // 12]
        subbands.extend(frame)
        pos += frame_bytes
    syn, _ = _mp1_tables()
    n_t = len(subbands)
    out = [0.0] * (32 * n_t)
    for t in range(n_t):
        row = subbands[t]
        base = 32 * t
        span = min(512, len(out) - base)
        for k in range(32):
            s = row[k]
            if s == 0.0:
                continue
            taps = syn[k]
            for n in range(span):
                out[base + n] += s * taps[n]
    return out[_MP1_DELAY:]


# ----------------------------------------------------- AIFF / Sun AU
#
# Scalar big-endian container walks (struct reads, per-sample loops),
# independent of the engine's frombuffer paths.


def _decode_aiff_scalar(raw: bytes) -> list[float]:
    if raw[:4] != b"FORM" or raw[8:12] != b"AIFF":
        raise ValueError("oracle: not AIFF")
    pos, comm, ssnd = 12, None, None
    while pos + 8 <= len(raw):
        cid = raw[pos: pos + 4]
        size = struct.unpack_from(">I", raw, pos + 4)[0]
        body = raw[pos + 8: pos + 8 + size]
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            ssnd = body
        pos += 8 + size + (size % 2)
    if comm is None or ssnd is None:
        raise ValueError("oracle: missing COMM/SSND")
    nch, n_frames, bits = struct.unpack_from(">hIh", comm, 0)
    if bits != 16:
        raise ValueError("oracle handles 16-bit AIFF only")
    # 80-bit extended sample rate: scalar decode, validation only
    se, mant = struct.unpack(">HQ", comm[8:18])
    if se & 0x8000 or mant == 0:
        raise ValueError("oracle: bad AIFF rate")
    offset = struct.unpack_from(">I", ssnd, 0)[0]
    data = ssnd[8 + offset:]
    samples = [
        s[0] / 32768.0
        for s in struct.iter_unpack(">h", data[: len(data) - len(data) % 2])
    ][: n_frames * nch]
    out = []
    for i in range(len(samples) // nch):
        frame = samples[i * nch: (i + 1) * nch]
        out.append(sum(frame) / nch)
    return out


def _decode_au_scalar(raw: bytes) -> list[float]:
    if raw[:4] != b".snd":
        raise ValueError("oracle: not AU")
    offset, dsize, enc, _sr, nch = struct.unpack_from(">IIIII", raw, 4)
    data = raw[offset:]
    if dsize != 0xFFFFFFFF:
        data = data[:dsize]
    if enc == 1:
        samples = [_ULAW_TABLE[b] / 32768.0 for b in data]
    elif enc == 2:
        samples = [
            (b - 256 if b >= 128 else b) / 128.0 for b in data
        ]
    elif enc == 3:
        samples = [
            s[0] / 32768.0
            for s in struct.iter_unpack(">h", data[: len(data) - len(data) % 2])
        ]
    elif enc == 6:
        samples = [
            s[0]
            for s in struct.iter_unpack(">f", data[: len(data) - len(data) % 4])
        ]
    elif enc == 27:
        samples = [_ALAW_TABLE[b] / 32768.0 for b in data]
    else:
        raise ValueError(f"oracle: AU encoding {enc}")
    out = []
    for i in range(len(samples) // nch):
        frame = samples[i * nch: (i + 1) * nch]
        out.append(sum(frame) / nch)
    return out
