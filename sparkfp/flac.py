"""FLAC (Free Lossless Audio Codec) in pure numpy — fixed-predictor
subset.

Extends the engine's real-audio-codec family (pcm/ulaw/alaw/wav/
adpcm/mp1) with a LOSSLESS member: unlike the SNR-gated lossy codecs,
FLAC's test contract is bit-exactness — ``decode(encode(x)) == x``
at the s16 level, plus the container's own three integrity layers
(per-frame-header CRC-8, per-frame CRC-16, whole-stream MD5), all of
which this decoder verifies. Rides the same opaque-bytes decode
boundary the engine grafts from the reference's pickle
deserialization (src/flink_job/serialization.py:14-20).

Format per the public FLAC specification (RFC 9639 / xiph.org):

- stream = ``fLaC`` magic + metadata blocks (STREAMINFO first:
  block sizes, frame sizes, 20-bit sample rate, channels-1, bps-1,
  36-bit total samples, MD5 of the unencoded samples) + frames;
- frame = 14-bit sync ``11111111111110``, reserved bit, blocking
  strategy, 4-bit block-size code, 4-bit sample-rate code, 4-bit
  channel assignment, 3-bit sample-size code, reserved bit, UTF-8
  coded frame number, trailing block-size/sample-rate fields, CRC-8
  (poly 0x07) of the header bytes; subframes; zero-pad to a byte
  boundary; CRC-16 (poly 0x8005) of the whole frame;
- subframe = pad bit + 6-bit type (``000000`` CONSTANT, ``000001``
  VERBATIM, ``001ooo`` FIXED order o<=4, ``1ppppp`` LPC) + wasted-bits
  flag; FIXED subframes carry ``order`` warmup samples then a Rice
  residual: 2-bit method (4- or 5-bit parameters), 4-bit partition
  order p, and 2^p partitions each led by its Rice parameter
  (all-ones = escape to 5-bit raw-width samples). Rice code = unary
  quotient (q zeros then a 1) + k low bits of the zigzag-mapped
  residual; the FIXED predictors are the binomial differences
  (order-k residual = k-th forward difference of the signal).

Engine-supported subset (everything else raises
:class:`~sparkfp.codec.UnsupportedCodec`, never a garbled decode):
one channel; FIXED/CONSTANT/VERBATIM subframes (no LPC — every
conforming FLAC decoder must accept fixed-only streams); sample-rate
and sample-size taken from STREAMINFO (header codes 0000/000 — the
frame-local rate/size short tables are not implemented, so frames
using them are rejected cleanly). The encoder always emits that
subset with an explicit 16-bit block-size field, so its output
carries no table-coded header fields at all.

Scale shape: decode runs inside the Arrow-batched ``mapInPandas``
decode boundary (sparkfp/multimodal.py) like every other codec here.
The Rice bitstream is inherently sequential per frame — each field's
start depends on the previous field's length — but that recurrence is
exactly the iterated map "next terminator = first one at or after this
terminator + 1 + k", so the hot loop is vectorized with binary
lifting over the stream's ones: a running count of ones over the
partition window gives the map, O(log count) pointer-doubling gathers
materialize every terminator, and quotients/remainders/zigzag are
plain array ops (a scalar twin remains for short partitions and as the
tested reference). The CRCs are byte-at-a-time Python-list table
loops.
Prediction undo is ``order`` cumulative sums and the encoder's
residual is one ``np.diff`` call.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

from .codec import UnsupportedCodec, be_words

_MAGIC = b"fLaC"
_SYNC = 0b11111111111110
_BLOCKSIZE = 4096
# binomial fixed-predictor residual = np.diff(x, n=order); kept as a
# documented fact, the code never needs the coefficient tables
_MAX_FIXED_ORDER = 4


def _make_crc8_table() -> list[int]:
    """Byte-at-a-time CRC-8 (poly 0x07) table. A Python list, not an
    ndarray: the CRC loop indexes it once per byte, and a list index
    with a Python int is several times cheaper than an ndarray index."""
    table = []
    for byte in range(256):
        crc = byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else crc << 1
        table.append(crc)
    return table


_CRC8_TABLE = _make_crc8_table()

# CRC-16 poly 0x8005 = (x + 1)(x^15 + x + 1), and x^15 + x + 1 is
# primitive, so the powers of x modulo it repeat with this period
_CRC16_PERIOD = 32767


def _crc16_column_powers() -> np.ndarray:
    """x^((15 - c) mod _CRC16_PERIOD) mod 0x8005 for every column c of
    a message reshaped to rows of _CRC16_PERIOD bits (see _crc16)."""
    powers, v = [], 1
    for _ in range(_CRC16_PERIOD):
        powers.append(v)
        v = ((v << 1) ^ 0x8005) & 0xFFFF if v & 0x8000 else v << 1
    exponent = (15 - np.arange(_CRC16_PERIOD)) % _CRC16_PERIOD
    return np.array(powers, dtype=np.uint16)[exponent]


_CRC16_COLUMN_POWERS = _crc16_column_powers()


def _crc8(data: bytes) -> int:
    crc = 0
    table = _CRC8_TABLE
    for b in data:
        crc = table[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    """FLAC's CRC-16 (poly 0x8005, init 0, unreflected) in array ops.
    The CRC is linear over GF(2): it is the XOR, over the message's set
    bits, of x^(16 + bits after it) mod the poly. Zero bits in front
    leave a zero-init CRC unchanged, so pad the message to whole rows
    of _CRC16_PERIOD bits: the bits of one column then share one power.
    XOR the rows together, then XOR the powers of the odd columns."""
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
    rows = np.concatenate(
        [np.zeros(-len(bits) % _CRC16_PERIOD, dtype=np.uint8), bits]
    ).reshape(-1, _CRC16_PERIOD)
    odd = np.bitwise_xor.reduce(rows, axis=0)  # 0/1 per column
    return int(np.bitwise_xor.reduce(_CRC16_COLUMN_POWERS * odd))


def _utf8_number(value: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index here; the scheme
    extends plain UTF-8 with 6/7-byte forms for up to 36 bits)."""
    if value < 0x80:
        return bytes([value])
    for n_cont, lead in ((1, 0xC0), (2, 0xE0), (3, 0xF0), (4, 0xF8),
                         (5, 0xFC), (6, 0xFE)):
        if value < (1 << (6 * n_cont + (7 - n_cont - 1) if n_cont < 6 else 36)):
            out = bytearray(n_cont + 1)
            v = value
            for i in range(n_cont, 0, -1):
                out[i] = 0x80 | (v & 0x3F)
                v >>= 6
            out[0] = lead | v
            return bytes(out)
    raise ValueError("flac frame number out of range")


def _read_utf8_number(data: bytes, pos: int) -> tuple[int, int]:
    if pos >= len(data):
        raise ValueError("flac truncated frame number")
    b0 = data[pos]
    if b0 < 0x80:
        return b0, pos + 1
    n_cont = 0
    for n, lead, mask in ((1, 0xC0, 0x1F), (2, 0xE0, 0x0F), (3, 0xF0, 0x07),
                          (4, 0xF8, 0x03), (5, 0xFC, 0x01), (6, 0xFE, 0x00)):
        if (b0 & ~mask & 0xFF) == lead:
            n_cont, value = n, b0 & mask
            break
    else:
        raise ValueError("flac bad coded-number lead byte")
    if pos + 1 + n_cont > len(data):
        raise ValueError("flac truncated frame number")
    for i in range(1, n_cont + 1):
        c = data[pos + i]
        if (c & 0xC0) != 0x80:
            raise ValueError("flac bad coded-number continuation")
        value = (value << 6) | (c & 0x3F)
    return value, pos + 1 + n_cont


class _BitBuf:
    """Append-only bit buffer: scalar writes for headers, bulk numpy
    writes for vectorized residual bitstreams."""

    def __init__(self) -> None:
        self._chunks: list[np.ndarray] = []
        self._nbits = 0

    def write(self, value: int, width: int) -> None:
        bits = np.array(
            [(value >> i) & 1 for i in range(width - 1, -1, -1)], dtype=np.uint8
        )
        self._chunks.append(bits)
        self._nbits += width

    def write_signed(self, value: int, width: int) -> None:
        self.write(value & ((1 << width) - 1), width)

    def write_bits(self, bits: np.ndarray) -> None:
        self._chunks.append(bits.astype(np.uint8, copy=False))
        self._nbits += len(bits)

    def align(self) -> None:
        pad = (-self._nbits) % 8
        if pad:
            self.write(0, pad)

    def tobytes(self) -> bytes:
        if self._nbits % 8:
            raise AssertionError("unaligned bit buffer")
        if not self._chunks:
            return b""
        return np.packbits(np.concatenate(self._chunks)).tobytes()


# ------------------------------------------------------------ encode


def _zigzag(res: np.ndarray) -> np.ndarray:
    r = res.astype(np.int64)
    return np.where(r >= 0, r << 1, (-r << 1) - 1).astype(np.uint64)


def _rice_cost(u: np.ndarray, k: int) -> int:
    return int(np.sum(u >> np.uint64(k))) + len(u) * (k + 1)


def _pick_rice_k(u: np.ndarray) -> int:
    mean = float(np.mean(u)) if len(u) else 0.0
    est = max(0, int(np.log2(mean + 1.0)))
    best_k, best_c = 0, None
    for k in range(max(0, est - 1), min(30, est + 2) + 1):
        c = _rice_cost(u, k)
        if best_c is None or c < best_c:
            best_k, best_c = k, c
    return best_k


def _emit_rice_partition(buf: _BitBuf, u: np.ndarray, k: int) -> None:
    """Vectorized Rice emission: one flat bit array per partition."""
    n = len(u)
    q = (u >> np.uint64(k)).astype(np.int64)
    widths = q + 1 + k
    ends = np.cumsum(widths)
    starts = ends - widths
    bits = np.zeros(int(ends[-1]) if n else 0, dtype=np.uint8)
    term = starts + q  # unary terminator positions
    bits[term] = 1
    if k:
        shifts = np.arange(k - 1, -1, -1, dtype=np.uint64)
        rem = ((u[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
        bits[(term + 1)[:, None] + np.arange(k)] = rem
    buf.write_bits(bits)


def _emit_residual(buf: _BitBuf, res: np.ndarray, blocksize: int,
                   order: int) -> None:
    # partition order: ~1k-sample partitions with per-partition Rice
    # parameters when the frame divides evenly; order 0 otherwise
    po = 0
    if blocksize % 4 == 0 and (blocksize >> 2) > order and blocksize >= 2048:
        po = 2
    n_part = 1 << po
    u = _zigzag(res)
    bounds = [0]
    for p in range(n_part):
        cnt = (blocksize >> po) - (order if p == 0 else 0)
        bounds.append(bounds[-1] + cnt)
    ks = [_pick_rice_k(u[bounds[p]:bounds[p + 1]]) for p in range(n_part)]
    method, k_bits = (0, 4) if max(ks) <= 14 else (1, 5)
    buf.write(method, 2)
    buf.write(po, 4)
    for p in range(n_part):
        buf.write(ks[p], k_bits)
        _emit_rice_partition(buf, u[bounds[p]:bounds[p + 1]], ks[p])


def _encode_frame(x: np.ndarray, frame_idx: int) -> bytes:
    blocksize = len(x)
    hdr = _BitBuf()
    hdr.write(_SYNC, 14)
    hdr.write(0, 1)  # reserved
    hdr.write(0, 1)  # fixed-blocksize strategy: coded number = frame index
    hdr.write(0b0111, 4)  # block size: explicit 16-bit value-1 at header end
    hdr.write(0b0000, 4)  # sample rate: from STREAMINFO
    hdr.write(0b0000, 4)  # channel assignment: 1 channel
    hdr.write(0b000, 3)  # sample size: from STREAMINFO
    hdr.write(0, 1)  # reserved
    for b in _utf8_number(frame_idx):
        hdr.write(b, 8)
    hdr.write(blocksize - 1, 16)
    hbytes = hdr.tobytes()
    hbytes += bytes([_crc8(hbytes)])

    body = _BitBuf()
    xi = x.astype(np.int64)
    if np.all(xi == xi[0]):
        body.write(0, 1)
        body.write(0b000000, 6)  # CONSTANT
        body.write(0, 1)  # no wasted bits
        body.write_signed(int(xi[0]), 16)
    else:
        costs = []
        for o in range(min(_MAX_FIXED_ORDER, blocksize - 1) + 1):
            costs.append(int(np.sum(np.abs(np.diff(xi, n=o)))))
        order = int(np.argmin(costs))
        res = np.diff(xi, n=order)
        # VERBATIM beats a Rice blowup on incompressible frames
        u = _zigzag(res)
        if _rice_cost(u, _pick_rice_k(u)) + 16 * order >= 16 * blocksize:
            body.write(0, 1)
            body.write(0b000001, 6)  # VERBATIM
            body.write(0, 1)
            vb = np.zeros(blocksize * 16, dtype=np.uint8)
            vals = (xi & 0xFFFF).astype(np.uint64)
            shifts = np.arange(15, -1, -1, dtype=np.uint64)
            vb[:] = ((vals[:, None] >> shifts[None, :]) & np.uint64(1)).ravel()
            body.write_bits(vb)
        else:
            body.write(0, 1)
            body.write(0b001000 | order, 6)  # FIXED, order
            body.write(0, 1)
            for w in xi[:order]:
                body.write_signed(int(w), 16)
            _emit_residual(body, res, blocksize, order)
    body.align()
    fbytes = hbytes + body.tobytes()
    return fbytes + _crc16(fbytes).to_bytes(2, "big")


def encode_flac(pcm: np.ndarray, sr_hz: int) -> bytes:
    """float32 PCM in [-1,1] -> FLAC bytes (mono, 16-bit, fixed
    predictors). Lossless at the s16 quantization the engine's other
    codecs share: decode_flac(encode_flac(x)) reproduces
    the s16-quantized x bit-exactly."""
    if not (0 < sr_hz < (1 << 20)):
        raise ValueError(f"flac sample rate {sr_hz} outside 20-bit range")
    x = np.clip(
        np.asarray(pcm, dtype=np.float64) * 32767.0, -32768, 32767
    ).astype(np.int64)
    n = len(x)
    if n == 0:
        raise ValueError("flac: empty pcm")
    blocksize = min(_BLOCKSIZE, n)

    info = _BitBuf()
    info.write(blocksize, 16)  # min block size
    info.write(blocksize, 16)  # max block size
    info.write(0, 24)  # min frame size: unknown
    info.write(0, 24)  # max frame size: unknown
    info.write(sr_hz, 20)
    info.write(0, 3)  # channels - 1
    info.write(15, 5)  # bits per sample - 1
    info.write(n, 36)
    streaminfo = info.tobytes()
    streaminfo += hashlib.md5(x.astype("<i2").tobytes()).digest()

    out = bytearray(_MAGIC)
    out += bytes([0x80])  # last-metadata-block flag | type 0 (STREAMINFO)
    out += len(streaminfo).to_bytes(3, "big")
    out += streaminfo
    for fi, s in enumerate(range(0, n, blocksize)):
        out += _encode_frame(x[s:s + blocksize], fi)
    return bytes(out)


# ------------------------------------------------------------ decode


class _BitReader:
    """Bounds-checked reader over an unpacked bit array; every
    overrun raises ValueError (the per-row decode contract — a corrupt
    blob must surface as decoded=false, never crash the Spark task)."""

    def __init__(self, bits: np.ndarray, data: bytes) -> None:
        self.bits = bits
        self.data = data  # same stream as bytes, for CRC slices
        self.pos = 0
        self.ones = np.flatnonzero(bits.view(np.bool_))
        # the 40-bit big-endian word at every byte offset, one past the
        # end included (a k = 0 partition ending on the stream's last
        # bit gathers there): any field of up to 33 bits is one gather
        # and two shifts (Rice remainders)
        self.words = be_words(data, 5, 5)

    def read(self, width: int) -> int:
        end = self.pos + width
        if end > len(self.bits):
            raise ValueError("flac truncated")
        v = 0
        for b in self.bits[self.pos:end]:
            v = (v << 1) | int(b)
        self.pos = end
        return v

    def read_signed(self, width: int) -> int:
        v = self.read(width)
        return v - (1 << width) if v & (1 << (width - 1)) else v

    def read_unary(self) -> int:
        i = int(np.searchsorted(self.ones, self.pos))
        if i >= len(self.ones):
            raise ValueError("flac truncated unary code")
        q = int(self.ones[i]) - self.pos
        self.pos = int(self.ones[i]) + 1
        return q

    def read_signed_block(self, count: int, width: int) -> np.ndarray:
        """Vectorized fixed-width signed reads (VERBATIM / escape)."""
        end = self.pos + count * width
        if end > len(self.bits):
            raise ValueError("flac truncated")
        if width == 0:
            return np.zeros(count, dtype=np.int64)
        blk = self.bits[self.pos:end].reshape(count, width).astype(np.int64)
        vals = blk @ (1 << np.arange(width - 1, -1, -1, dtype=np.int64))
        self.pos = end
        return np.where(vals & (1 << (width - 1)), vals - (1 << width), vals)


def _rice_decode(rd: _BitReader, count: int, k: int) -> np.ndarray:
    """Vectorized Rice decode via binary lifting. Each field is
    (unary q zeros, a 1, k remainder bits), so a field's terminator is
    the first one at or after its start, and the next field starts
    1 + k bits after that terminator. Over a window of the stream's
    next ones that is the map g(a) = the first one at or after
    ones[a] + 1 + k, read off a running count of ones for every
    candidate terminator at once. Square g O(log count) times (pointer
    doubling) and materialize all `count` terminators with O(log count)
    gathers. Quotients, remainders (one gather from the reader's 40-bit
    words), and the zigzag unmap are then plain array ops.

    The partition consumes exactly `count` terminator ones and at most
    count*k remainder bits, each possibly a one, so its terminators are
    among the next count*(k+1) ones. Remainder bits are about half
    ones, so a window of count*(1 + k/2) ones plus a margin is tried
    first: if the path never leaves the window, every jump on it was
    exact; if it does, the full window decides."""
    if count == 0:
        return np.zeros(0, dtype=np.int64)
    if count < 32:
        return _rice_decode_scalar(rd, count, k)
    base = int(np.searchsorted(rd.ones, rd.pos))
    full = count * (k + 1)
    window = count + count * k // 2 + 2 * math.isqrt(count * k) + 32
    t = None
    if window < full and base + window < len(rd.ones):
        t = _rice_terminators(rd, base, window, count, k)
    if t is None:
        t = _rice_terminators(rd, base, full, count, k)
    if t is None or int(t[-1]) + 1 + k > len(rd.bits):
        raise ValueError("flac truncated rice partition")
    starts = np.empty(count, dtype=np.int64)
    starts[0] = rd.pos
    starts[1:] = t[:-1] + (1 + k)
    rem = t + 1  # each field's first remainder bit
    rem = (rd.words[rem >> 3] >> (40 - (rem & 7) - k)) & ((1 << k) - 1)
    u = ((t - starts) << k) | rem
    rd.pos = int(t[-1]) + 1 + k
    return np.where(u & 1, -((u + 1) >> 1), u >> 1)


def _rice_terminators(
    rd: _BitReader, base: int, window: int, count: int, k: int
) -> np.ndarray | None:
    """The `count` terminator positions of the partition at rd.pos,
    searched among the `window` ones from rd.ones[base] on; None when
    the path runs past the window's last one."""
    bits, p0 = rd.bits, rd.pos
    cand = rd.ones[base:base + window]
    n = len(cand)
    if n == 0:
        return None
    # g over candidate indices, from a running count of ones over the
    # window; index n (no further candidate) is absorbing
    w = min(int(cand[-1]) + 1 + k, len(bits)) - p0
    ones_before = np.zeros(w + 1, dtype=np.int64)
    np.cumsum(bits[p0:p0 + w], dtype=np.int64, out=ones_before[1:])
    jump = np.empty(n + 1, dtype=np.int64)
    np.minimum(ones_before[np.minimum(cand + (1 + k - p0), w)], n, out=jump[:n])
    jump[n] = n
    # pointer doubling: seq_l holds g^0..g^{2^l - 1}(0), jump_l = g^{2^l}
    seq = np.zeros(1, dtype=np.int64)
    while len(seq) < count:
        seq = np.concatenate([seq, jump[seq]])
        if len(seq) >= count:
            break
        jump = jump[jump]
    seq = seq[:count]
    if int(seq[-1]) >= n:
        return None
    return cand[seq]


def _rice_decode_scalar(rd: _BitReader, count: int, k: int) -> np.ndarray:
    out = np.empty(count, dtype=np.int64)
    for i in range(count):
        q = rd.read_unary()
        u = (q << k) | (rd.read(k) if k else 0)
        out[i] = -((u + 1) >> 1) if u & 1 else u >> 1
    return out


def _read_residual(rd: _BitReader, blocksize: int, order: int) -> np.ndarray:
    method = rd.read(2)
    if method > 1:
        raise ValueError(f"flac reserved residual method {method}")
    k_bits = 4 + method
    escape = (1 << k_bits) - 1
    po = rd.read(4)
    if blocksize % (1 << po) or (blocksize >> po) <= order:
        raise ValueError("flac bad partition order")
    parts = []
    for p in range(1 << po):
        cnt = (blocksize >> po) - (order if p == 0 else 0)
        k = rd.read(k_bits)
        if k == escape:
            width = rd.read(5)
            parts.append(rd.read_signed_block(cnt, width))
        else:
            parts.append(_rice_decode(rd, cnt, k))
    return np.concatenate(parts)


def _undo_fixed_prediction(
    warmup: np.ndarray, res: np.ndarray, order: int
) -> np.ndarray:
    """order-o residual = o-th forward difference, so reconstruction
    is o cumulative sums seeded from the warmup's difference tower."""
    sig = res
    for p in range(order):
        seed = np.diff(warmup, n=order - 1 - p)[-1]
        sig = np.cumsum(np.concatenate(([seed], sig)))[1:]
    return np.concatenate((warmup, sig))


def _decode_subframe(rd: _BitReader, blocksize: int, bps: int) -> np.ndarray:
    if rd.read(1):
        raise ValueError("flac bad subframe padding bit")
    stype = rd.read(6)
    wasted = 0
    if rd.read(1):
        wasted = rd.read_unary() + 1
    eff_bps = bps - wasted
    if stype == 0:
        x = np.full(blocksize, rd.read_signed(eff_bps), dtype=np.int64)
    elif stype == 1:
        x = rd.read_signed_block(blocksize, eff_bps)
    elif 8 <= stype <= 12:
        order = stype - 8
        if order > blocksize:
            raise ValueError("flac fixed order exceeds block size")
        warmup = rd.read_signed_block(order, eff_bps)
        res = _read_residual(rd, blocksize, order)
        x = _undo_fixed_prediction(warmup, res, order)
    elif stype >= 32:
        raise UnsupportedCodec("flac LPC subframe (fixed-predictor subset)")
    else:
        raise ValueError(f"flac reserved subframe type {stype}")
    return x << wasted if wasted else x


def _parse_streaminfo(raw: bytes) -> tuple[int, int, int, int, bytes, int]:
    """-> (sr_hz, channels, bps, total_samples, md5, frames_offset)."""
    if len(raw) < 4 or raw[:4] != _MAGIC:
        raise ValueError("flac bad magic")
    pos, seen = 4, None
    while True:
        if pos + 4 > len(raw):
            raise ValueError("flac truncated metadata")
        hdr = raw[pos]
        length = int.from_bytes(raw[pos + 1:pos + 4], "big")
        body = raw[pos + 4:pos + 4 + length]
        if len(body) < length:
            raise ValueError("flac truncated metadata block")
        if (hdr & 0x7F) == 0:
            if length < 34:
                raise ValueError("flac short STREAMINFO")
            seen = body
        pos += 4 + length
        if hdr & 0x80:
            break
    if seen is None:
        raise ValueError("flac missing STREAMINFO")
    b = seen
    sr = (b[10] << 12) | (b[11] << 4) | (b[12] >> 4)
    channels = ((b[12] >> 1) & 0x7) + 1
    bps = (((b[12] & 0x1) << 4) | (b[13] >> 4)) + 1
    total = ((b[13] & 0x0F) << 32) | int.from_bytes(b[14:18], "big")
    if sr == 0:
        raise ValueError("flac zero sample rate")
    return sr, channels, bps, total, bytes(b[18:34]), pos


def decode_flac(raw: bytes) -> tuple[np.ndarray, int]:
    """FLAC bytes -> (float32 PCM in [-1,1], sample rate). Verifies
    every integrity layer the container carries: per-header CRC-8,
    per-frame CRC-16, total-sample count, and the STREAMINFO MD5 of
    the reconstructed samples (when present). Raises ValueError for
    corruption, UnsupportedCodec outside the documented subset."""
    sr, channels, bps, total, md5, fstart = _parse_streaminfo(raw)
    if channels != 1:
        raise UnsupportedCodec(f"flac {channels}-channel")
    if not 4 <= bps <= 32:
        raise ValueError(f"flac bad bits-per-sample {bps}")
    frames = raw[fstart:]
    rd = _BitReader(np.unpackbits(np.frombuffer(frames, dtype=np.uint8)),
                    frames)
    blocks: list[np.ndarray] = []
    got = 0
    while (total and got < total) or (not total and rd.pos < len(rd.bits) - 15):
        if rd.pos % 8:
            raise AssertionError("frame start unaligned")
        fb0 = rd.pos // 8
        if rd.read(14) != _SYNC:
            raise ValueError("flac lost frame sync")
        if rd.read(1):
            raise ValueError("flac bad header reserved bit")
        rd.read(1)  # blocking strategy (coded number checked below)
        bs_code = rd.read(4)
        sr_code = rd.read(4)
        chan = rd.read(4)
        size_code = rd.read(3)
        if rd.read(1):
            raise ValueError("flac bad header reserved bit")
        _, byte_pos = _read_utf8_number(frames, rd.pos // 8)
        rd.pos = byte_pos * 8
        if bs_code == 0:
            raise ValueError("flac reserved block size code")
        elif bs_code == 0b0110:
            blocksize = rd.read(8) + 1
        elif bs_code == 0b0111:
            blocksize = rd.read(16) + 1
        elif bs_code == 0b0001:
            blocksize = 192
        elif 0b0010 <= bs_code <= 0b0101:
            blocksize = 576 << (bs_code - 2)
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code in (0b1100, 0b1101, 0b1110):
            # trailing frame-local sample-rate field: consume it so the
            # CRC-8 (which covers it) is computed over the right bytes;
            # the semantic reject happens after the CRC check below
            rd.read(8 if sr_code == 0b1100 else 16)
        elif sr_code == 0b1111:
            raise ValueError("flac invalid sample rate code")
        hdr_bytes = frames[fb0:rd.pos // 8]
        crc8 = rd.read(8)
        if _crc8(hdr_bytes) != crc8:
            # corruption outranks semantics: a flipped header bit must
            # surface as ValueError, not as a misread subset boundary
            raise ValueError("flac frame header CRC-8 mismatch")
        if sr_code != 0:
            # frame-local sample-rate codes: outside the subset (the
            # engine's own frames always defer to STREAMINFO)
            raise UnsupportedCodec(f"flac sample-rate code {sr_code:#06b}")
        if chan != 0:
            raise UnsupportedCodec("flac non-mono channel assignment")
        if size_code != 0:
            raise UnsupportedCodec(f"flac sample-size code {size_code:#05b}")
        x = _decode_subframe(rd, blocksize, bps)
        rd.pos += (-rd.pos) % 8
        body = frames[fb0:rd.pos // 8]
        crc16 = rd.read(16)
        if _crc16(body) != crc16:
            raise ValueError("flac frame CRC-16 mismatch")
        blocks.append(x)
        got += blocksize
    out = (
        np.concatenate(blocks) if blocks else np.zeros(0, dtype=np.int64)
    )
    if total:
        if len(out) < total:
            raise ValueError("flac short stream")
        out = out[:total]
    if any(md5) and bps == 16:
        if hashlib.md5(out.astype("<i2").tobytes()).digest() != md5:
            raise ValueError("flac stream MD5 mismatch")
    return (out.astype(np.float32) / float(1 << (bps - 1))), sr
