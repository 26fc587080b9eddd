"""JPEG codec in pure numpy + stdlib (public ITU T.81 spec).

Huffman-coded DCT JPEG is decodable with no external libraries:
marker walk, canonical-huffman entropy decode (the only scalar loop —
per symbol, bounded by image size), then vectorized dequantization,
8x8 IDCT (one einsum over all blocks), chroma upsampling and JFIF
YCbCr->RGB. The encoder exists primarily so tests and fixtures can
construct real JPEG bytes: 4:4:4 or 4:2:0, quality-scaled Annex-K
quantization tables, standard huffman tables, optional restart
markers, and (progressive=True) an SOF2 spectral-selection +
successive-approximation scan script that re-orders the same
quantized coefficients, so progressive decode is pixel-identical to
the sequential decode of the same image. Round-trip is lossy by
design — tests gate on PSNR, not equality.

Supported on decode: SOF0/SOF1 (baseline + extended sequential
huffman) and SOF2 (progressive huffman: DC/AC first + refinement
scans, EOB runs, T.81 G.2), 8-bit, grayscale / 4:4:4 / 4:2:0 / any
integer sampling ratio, restart intervals, multiple DQT/DHT segments.
Rejected with UnsupportedCodec: arithmetic coding, lossless/
hierarchical SOFs, 12-bit precision. Malformed streams raise
ValueError (the multimodal layer surfaces those rows as
decoded=false, sparkfp/multimodal.py).

Reference anchor: the reference job treats media bytes as opaque until
its decode boundary (src/flink_job/serialization.py:14-20); this makes
that boundary real for the dominant lossy image codec.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec import UnsupportedCodec

# Annex K luminance/chrominance quantization tables, natural order.
_QT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)
_QT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

# zigzag scan: ZIGZAG[i] = natural (row-major) index of the i-th
# zigzag-ordered element
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# standard huffman tables (Annex K): (bits-per-length[1..16], symbols)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

_DCT = None


def _dct_matrix() -> np.ndarray:
    global _DCT
    if _DCT is None:
        k = np.arange(8, dtype=np.float64)[:, None]
        x = np.arange(8, dtype=np.float64)[None, :]
        d = 0.5 * np.cos((2 * x + 1) * k * np.pi / 16)
        d[0, :] *= 1.0 / np.sqrt(2.0)
        _DCT = d
    return _DCT


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 1..100 -> scaled table clipped to [1,255]."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1-100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


# ---------------------------------------------------------------- huffman


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for the encoder."""
    out, code = {}, 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


class _HuffDecoder:
    """Canonical huffman decode per T.81 F.2.2.3 (mincode/maxcode/valptr)."""

    def __init__(self, bits: list[int], vals: list[int]):
        self.vals = vals
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, i = 0, 0
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = i
                self.mincode[length] = code
                code += bits[length - 1]
                i += bits[length - 1]
                self.maxcode[length] = code - 1
            code <<= 1

    def decode(self, br: "_BitReader") -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.bit()
            if self.maxcode[length] >= code >= self.mincode[length]:
                return self.vals[self.valptr[length] + code - self.mincode[length]]
        raise ValueError("invalid huffman code in JPEG stream")


class _BitReader:
    """Entropy-segment reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("JPEG entropy stream truncated at 0xFF")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # a real marker inside entropy data — the scan ended
                    # early; treat missing bits as 1-padding like libjpeg
                    self.pos -= 1
                    b = 0xFF  # consume padding bits
                    self.acc, self.n = 0xFF, 8
                    self.n -= 1
                    return (self.acc >> self.n) & 1
            self.acc, self.n = b, 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def receive(self, length: int) -> int:
        v = 0
        for _ in range(length):
            v = (v << 1) | self.bit()
        return v

    def align_and_expect_rst(self, m: int) -> None:
        self.n = 0  # drop partial byte
        d, p = self.data, self.pos
        # skip any fill bytes to the marker
        while p + 1 < len(d) and not (d[p] == 0xFF and d[p + 1] != 0x00):
            p += 1
        if p + 1 >= len(d) or d[p] != 0xFF or d[p + 1] != 0xD0 + (m % 8):
            raise ValueError("missing JPEG restart marker")
        self.pos = p + 2


def _extend(v: int, cat: int) -> int:
    """T.81 F.2.2.1: map `cat` received bits to the signed amplitude."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


# ---------------------------------------------------------------- encoder


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-pad to byte boundary
        return bytes(self.out)


def _cat(v: int) -> int:
    return int(v).bit_length() if v else 0


def _encode_block(
    zz: np.ndarray, pred: int, dc: dict, ac: dict, bw: _BitWriter
) -> int:
    """One quantized zigzag block -> bitstream; returns the new DC pred."""
    diff = int(zz[0]) - pred
    cat = _cat(abs(diff))
    code, length = dc[cat]
    bw.write(code, length)
    if cat:
        bw.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for i in range(1, 64):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        c = _cat(abs(v))
        code, length = ac[(run << 4) | c]
        bw.write(code, length)
        bw.write(v if v >= 0 else v + (1 << c) - 1, c)
        run = 0
    if last_nz < 63:
        code, length = ac[0x00]  # EOB
        bw.write(code, length)
    return int(zz[0])


def _plane_blocks(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Full plane -> (n_blocks_y, n_blocks_x, 64) quantized zigzag ints."""
    d = _dct_matrix()
    h, w = plane.shape
    blocks = plane.astype(np.float64).reshape(h // 8, 8, w // 8, 8)
    blocks = blocks.transpose(0, 2, 1, 3) - 128.0
    coef = np.einsum("ux,nmxy,vy->nmuv", d, blocks, d)
    q = np.round(coef / qt[None, None]).astype(np.int32)
    # natural-order 64-vector -> zigzag order: element i of the zigzag
    # sequence is natural index ZIGZAG[i]
    return q.reshape(q.shape[0], q.shape[1], 64)[:, :, ZIGZAG]


def _pad_to(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    ph = (mult - h % mult) % mult
    pw = (mult - w % mult) % mult
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """HxWx3 uint8 RGB (or HxW grayscale) -> JFIF bytes.

    subsample=True emits 4:2:0 (2x2 box-mean chroma); otherwise 4:4:4.
    restart_interval>0 emits DRI + RSTn markers every that many MCUs
    (sequential mode only). progressive=True emits SOF2 with a
    standard spectral-selection + successive-approximation scan script
    (DC Al=1 -> band splits -> refinement passes down to Al=0), which
    re-orders the exact same quantized coefficients — so a progressive
    encode decodes pixel-identically to the sequential encode.
    """
    img = np.asarray(img)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError(f"expected HxWx3 RGB or HxW gray, got {img.shape}")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    qt0 = _scaled_qt(_QT_LUMA, quality)
    qt1 = _scaled_qt(_QT_CHROMA, quality)

    if gray:
        planes = [img.astype(np.float64)]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
    two = (not gray) and subsample
    if two:
        yp = _pad_to(planes[0], 16)
        sub = []
        for p in planes[1:]:
            p = _pad_to(p, 16)
            sub.append(
                p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean((1, 3))
            )
        planes = [yp] + sub
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        planes = [_pad_to(p, 8) for p in planes]
        samp = [(1, 1)] * len(planes)
    qts = [qt0] + [qt1] * (len(planes) - 1)
    zz = [_plane_blocks(p, q) for p, q in zip(planes, qts)]

    if progressive:
        if restart_interval:
            raise ValueError(
                "progressive + restart_interval not supported by this encoder"
            )
        return _assemble_progressive(h, w, gray, samp, qt0, qt1, zz)

    dc_tabs = [_canonical_codes(*_DC_LUMA)] + [
        _canonical_codes(*_DC_CHROMA)
    ] * (len(planes) - 1)
    ac_tabs = [_canonical_codes(*_AC_LUMA)] + [
        _canonical_codes(*_AC_CHROMA)
    ] * (len(planes) - 1)

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    bw = _BitWriter()
    preds = [0] * len(planes)
    chunks: list[bytes] = []
    mcu_count = 0
    rst_idx = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                chunks.append(bw.flush())
                chunks.append(bytes([0xFF, 0xD0 + (rst_idx % 8)]))
                rst_idx += 1
                bw = _BitWriter()
                preds = [0] * len(planes)
            for ci, (hs, vs) in enumerate(samp):
                for by in range(vs):
                    for bx in range(hs):
                        blk = zz[ci][my * vs + by, mx * hs + bx]
                        preds[ci] = _encode_block(
                            blk, preds[ci], dc_tabs[ci], ac_tabs[ci], bw
                        )
            mcu_count += 1
    chunks.append(bw.flush())
    entropy = b"".join(chunks)

    huffman = (
        (0, 0, _DC_LUMA), (1, 0, _AC_LUMA), (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA)
    )[: 2 if gray else 4]
    out = _jfif_head(0xFFC0, h, w, gray, samp, qt0, qt1, huffman)
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    ncomp = 1 if gray else 3
    sos = bytes([ncomp])
    for ci in range(ncomp):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (t << 4) | t])
    sos += b"\x00\x3f\x00"
    out += _seg(0xFFDA, sos)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _seg(marker: int, payload: bytes) -> bytes:
    """One marker segment: marker, big-endian length (payload + 2), payload."""
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _jfif_head(sof_marker, h, w, gray, samp, qt0, qt1, huffman) -> bytearray:
    """The encoder's shared stream head: SOI, APP0 (JFIF 1.1, 1:1
    density), one DQT per table in use, the SOF segment under
    ``sof_marker`` (0xFFC0 baseline, 0xFFC2 progressive) and one DHT
    per ``(class, id, (bits, values))`` entry of ``huffman``."""
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + bytes(qt0.ravel()[ZIGZAG].astype(np.uint8)))
    if not gray:
        out += _seg(0xFFDB, b"\x01" + bytes(qt1.ravel()[ZIGZAG].astype(np.uint8)))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
    out += _seg(sof_marker, sof)
    for cls, tid, (bits, vals) in huffman:
        out += _seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))
    return out



# ----------------------------------------------- progressive encoder

# "Flat" huffman tables for progressive scans: every symbol present at
# a fixed length (12 DC categories at 4 bits; all 256 AC run/size
# symbols split 128@8 + 128@9 bits — Kraft sum 0.75 < 1, so the
# canonical construction is valid). Deliberately non-optimal: they keep
# the encoder simple while making EVERY progressive symbol — EOBn runs
# of any length, ZRL, refinement codes — encodable, so the decoder's
# general EOB-run and correction-bit paths get exercised by round-trip
# tests rather than only by foreign files.
_DC_FLAT = ([0, 0, 0, 12] + [0] * 12, list(range(12)))
_AC_FLAT = ([0] * 7 + [128, 128] + [0] * 7, list(range(256)))

# standard simple-progression scan scripts:
# (component indices, Ss, Se, Ah, Al)
_SCRIPT_COLOR = [
    ([0, 1, 2], 0, 0, 0, 1),
    ([0], 1, 5, 0, 2),
    ([1], 1, 63, 0, 1),
    ([2], 1, 63, 0, 1),
    ([0], 6, 63, 0, 2),
    ([0], 1, 63, 2, 1),
    ([0, 1, 2], 0, 0, 1, 0),
    ([0], 1, 63, 1, 0),
    ([1], 1, 63, 1, 0),
    ([2], 1, 63, 1, 0),
]
_SCRIPT_GRAY = [
    ([0], 0, 0, 0, 1),
    ([0], 1, 63, 0, 1),
    ([0], 0, 0, 1, 0),
    ([0], 1, 63, 1, 0),
]


def _shift_toward_zero(v: int, al: int) -> int:
    """AC point transform (T.81 G.1.2.2): |v| >> Al with sign kept."""
    return (abs(v) >> al) * (1 if v >= 0 else -1)


class _EobState:
    """Pending EOB run + the correction bits owed after its symbol
    (the cross-block bit buffer of the AC refinement pass)."""

    def __init__(self, bw: _BitWriter, ac: dict):
        self.bw = bw
        self.ac = ac
        self.run = 0
        self.bits: list[int] = []

    def flush(self) -> None:
        if self.run:
            cat = self.run.bit_length() - 1
            code, length = self.ac[cat << 4]
            self.bw.write(code, length)
            if cat:
                self.bw.write(self.run - (1 << cat), cat)
            self.run = 0
        for b in self.bits:
            self.bw.write(b, 1)
        self.bits = []


def _encode_scan_dc(bw, zz, scan_idx, samp, mcus_x, mcus_y, ah, al, dc_codes):
    if ah == 0:
        preds = [0] * len(zz)
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in scan_idx:
                    hs, vs = samp[ci]
                    for by in range(vs):
                        for bx in range(hs):
                            v = int(zz[ci][my * vs + by, mx * hs + bx, 0]) >> al
                            diff = v - preds[ci]
                            preds[ci] = v
                            cat = _cat(abs(diff))
                            code, length = dc_codes[cat]
                            bw.write(code, length)
                            if cat:
                                bw.write(
                                    diff if diff >= 0 else diff + (1 << cat) - 1,
                                    cat,
                                )
    else:
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in scan_idx:
                    hs, vs = samp[ci]
                    for by in range(vs):
                        for bx in range(hs):
                            v = int(zz[ci][my * vs + by, mx * hs + bx, 0])
                            bw.write((v >> al) & 1, 1)


def _encode_scan_ac_first(bw, blocks, ss, se, al, ac_codes):
    eob = _EobState(bw, ac_codes)
    for blk in blocks:
        vals = [_shift_toward_zero(int(blk[k]), al) for k in range(ss, se + 1)]
        r = 0
        for v in vals:
            if v == 0:
                r += 1
                continue
            eob.flush()
            while r > 15:
                code, length = ac_codes[0xF0]
                bw.write(code, length)
                r -= 16
            c = _cat(abs(v))
            code, length = ac_codes[(r << 4) | c]
            bw.write(code, length)
            bw.write(v if v >= 0 else v + (1 << c) - 1, c)
            r = 0
        if r:
            eob.run += 1
            if eob.run == 0x7FFF:
                eob.flush()
    eob.flush()


def _encode_scan_ac_refine(bw, blocks, ss, se, al, ac_codes):
    """T.81 G.1.2.3 encode side: newly-significant coefficients emit
    run/1 symbols + a sign bit; already-nonzero coefficients passed
    over contribute buffered correction bits; all-insignificant block
    tails fold into a shared EOB run whose owed correction bits are
    emitted right after the EOBn symbol."""
    eob = _EobState(bw, ac_codes)
    for blk in blocks:
        mags = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
        signs = [int(blk[k]) >= 0 for k in range(ss, se + 1)]
        last_new = -1
        for i, m in enumerate(mags):
            if m == 1:
                last_new = i
        r = 0
        br_bits: list[int] = []
        for i, m in enumerate(mags):
            if m == 0:
                r += 1
                continue
            # Flush pending ZRLs BEFORE deciding correction-vs-new: an
            # already-significant coefficient that sits after a >15-zero
            # stretch must have its correction bit emitted after the ZRL
            # covering that stretch, not buffered into it (the decoder's
            # ZRL span covers exactly 16 zero-history coefficients).
            while r > 15 and i <= last_new:
                eob.flush()
                code, length = ac_codes[0xF0]
                bw.write(code, length)
                r -= 16
                for b in br_bits:
                    bw.write(b, 1)
                br_bits = []
            if m > 1:  # already significant: correction bit, run unchanged
                br_bits.append(m & 1)
                continue
            # newly significant (magnitude exactly 1 at this precision)
            eob.flush()
            code, length = ac_codes[(r << 4) | 1]
            bw.write(code, length)
            bw.write(1 if signs[i] else 0, 1)
            for b in br_bits:
                bw.write(b, 1)
            br_bits = []
            r = 0
        if r > 0 or br_bits:
            eob.run += 1
            eob.bits.extend(br_bits)
            if eob.run == 0x7FFF or len(eob.bits) >= 930:
                eob.flush()
    eob.flush()


def _ni_raster(zz_c, h, w, hs, vs, hmax, vmax):
    """Blocks of one component in NON-interleaved scan order (the
    component's own ceiling dims, T.81 A.2.2 — matching _ni_blocks on
    the decode side)."""
    comp_w = (w * hs + hmax - 1) // hmax
    comp_h = (h * vs + vmax - 1) // vmax
    nby, nbx = (comp_h + 7) // 8, (comp_w + 7) // 8
    for by in range(nby):
        for bx in range(nbx):
            yield zz_c[by, bx]


def _assemble_progressive(h, w, gray, samp, qt0, qt1, zz) -> bytes:
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    dc_codes = _canonical_codes(*_DC_FLAT)
    ac_codes = _canonical_codes(*_AC_FLAT)

    huffman = ((0, 0, _DC_FLAT), (1, 0, _AC_FLAT), (1, 1, _AC_FLAT))[: 2 if gray else 3]
    # SOF2: progressive DCT, huffman
    out = _jfif_head(0xFFC2, h, w, gray, samp, qt0, qt1, huffman)

    for scan_idx, ss, se, ah, al in (_SCRIPT_GRAY if gray else _SCRIPT_COLOR):
        sos = bytes([len(scan_idx)])
        for ci in scan_idx:
            t = 0 if ci == 0 else 1
            sos += bytes([ci + 1, t])  # DC table 0; AC table 0/1
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xFFDA, sos)
        bw = _BitWriter()
        if ss == 0:
            _encode_scan_dc(
                bw, zz, scan_idx, samp, mcus_x, mcus_y, ah, al, dc_codes
            )
        else:
            ci = scan_idx[0]
            hs, vs = samp[ci]
            blocks = _ni_raster(zz[ci], h, w, hs, vs, hmax, vmax)
            if ah == 0:
                _encode_scan_ac_first(bw, blocks, ss, se, al, ac_codes)
            else:
                _encode_scan_ac_refine(bw, blocks, ss, se, al, ac_codes)
        out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------- decoder


def decode_jpeg(raw: bytes) -> np.ndarray:
    """Baseline JFIF bytes -> HxWx3 uint8 RGB (gray replicated).

    Error contract: malformed streams raise ValueError, unsupported
    (but valid) streams raise UnsupportedCodec — never struct.error or
    IndexError. Truncated segment bodies (a short SOF, an empty DHT,
    a bare SOS) hit struct.unpack_from / list indexing inside the
    marker walk; the blanket re-raise below converts every such escape
    so one corrupt row surfaces as decoded=false instead of failing
    the whole Spark task (sparkfp/multimodal.py frame_sample_features).
    """
    try:
        return _decode_jpeg(raw)
    except (struct.error, IndexError) as e:
        raise ValueError(f"malformed JPEG stream: {e}") from e


def _decode_jpeg(raw: bytes) -> np.ndarray:
    if len(raw) < 4 or raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG file (no SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huffs: dict[tuple[int, int], _HuffDecoder] = {}
    frame = None       # (fh, fw, comps, progressive)
    geom = None        # (hmax, vmax, mcus_x, mcus_y)
    stores = None      # per-comp (blocks_y, blocks_x, 64) int32, zigzag order
    restart = 0
    saw_scan = False
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = raw[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0xFF:  # fill byte before a marker
            pos += 1
            continue
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # standalone markers
            pos += 2
            continue
        (ln,) = struct.unpack_from(">H", raw, pos + 2)
        body = raw[pos + 4: pos + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError("truncated JPEG segment")
        m = 0xFF00 | marker
        if m == 0xFFDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise UnsupportedCodec("jpeg 16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(body[i + 1: i + 65], dtype=np.uint8)
                qts[tq] = tbl.reshape(8, 8)
                i += 65
        elif m == 0xFFC4:  # DHT
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1: i + 17])
                n = sum(bits)
                vals = list(body[i + 17: i + 17 + n])
                huffs[(cls, tid)] = _HuffDecoder(bits, vals)
                i += 17 + n
        elif m in (0xFFC0, 0xFFC1, 0xFFC2):  # SOF0/1 sequential, SOF2 progressive
            if frame is not None:
                raise ValueError("multiple JPEG SOF segments")
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise UnsupportedCodec(f"jpeg {prec}-bit precision")
            if fh == 0 or fw == 0:
                raise ValueError("bad JPEG dimensions")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci: 9 + 3 * ci]
                hs, vs = hv >> 4, hv & 0x0F
                if hs == 0 or vs == 0:
                    raise ValueError("bad JPEG sampling factors")
                comps.append((cid, hs, vs, tq))
            frame = (fh, fw, comps, m == 0xFFC2)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = (fw + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (fh + 8 * vmax - 1) // (8 * vmax)
            geom = (hmax, vmax, mcus_x, mcus_y)
            stores = [
                np.zeros((mcus_y * vs, mcus_x * hs, 64), dtype=np.int32)
                for _, hs, vs, _ in comps
            ]
        elif m in (0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7, 0xFFC9, 0xFFCA, 0xFFCB,
                   0xFFCD, 0xFFCE, 0xFFCF):
            raise UnsupportedCodec(f"jpeg SOF marker 0x{m:X}")
        elif m == 0xFFDD:  # DRI
            (restart,) = struct.unpack_from(">H", body, 0)
        elif m == 0xFFDA:  # SOS: decode one scan, then resume the walk
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            if len(body) != 1 + 2 * ns + 3:
                raise ValueError("bad JPEG SOS length")
            scan_comps = []  # (index into comps, dc table id, ac table id)
            for si in range(ns):
                cid, tt = body[1 + 2 * si], body[2 + 2 * si]
                idxs = [i for i, c in enumerate(frame[2]) if c[0] == cid]
                if not idxs:
                    raise ValueError(f"JPEG scan references component {cid}")
                scan_comps.append((idxs[0], tt >> 4, tt & 0x0F))
            ss, se, ahal = body[1 + 2 * ns: 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not frame[3]:
                # sequential scans always cover the full band at full
                # precision regardless of the header fields
                ss, se, ah, al = 0, 63, 0, 0
            if not (0 <= ss <= se <= 63) or al > 13 or ah > 13:
                raise ValueError("bad JPEG scan band/approximation")
            if frame[3]:
                # T.81 G.1.1.1 progression constraints (same checks
                # libjpeg enforces): a DC scan covers exactly coeff 0,
                # AC scans are single-component, and a refinement pass
                # refines precisely one bit (Ah == Al+1).
                if ss == 0 and se != 0:
                    raise ValueError("progressive DC scan must have Se=0")
                if ss > 0 and ns != 1:
                    raise ValueError(
                        "progressive AC scan must be non-interleaved"
                    )
                if ah != 0 and ah != al + 1:
                    raise ValueError("bad JPEG successive approximation")
            pos = _decode_scan(
                raw, pos + 2 + ln, frame, geom, stores, huffs,
                scan_comps, ss, se, ah, al, restart,
            )
            saw_scan = True
            continue
        pos += 2 + ln
    if frame is None or not saw_scan:
        raise ValueError("missing JPEG SOF/SOS")
    fh, fw, comps, _prog = frame
    hmax, vmax, _, _ = geom

    # dequantize + IDCT, vectorized per component
    d = _dct_matrix()
    planes = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        if tq not in qts:
            raise ValueError(f"JPEG component references missing DQT {tq}")
        nat = np.zeros(stores[ci].shape, dtype=np.float64)
        nat[:, :, ZIGZAG] = stores[ci]
        coef = nat.reshape(nat.shape[0], nat.shape[1], 8, 8) * qts[tq][None, None]
        blocks = np.einsum("xu,nmuv,yv->nmxy", d.T, coef, d.T) + 128.0
        by, bx = blocks.shape[0], blocks.shape[1]
        plane = blocks.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        # upsample to full MCU-grid resolution, then crop
        ry, rx = vmax // vs, hmax // hs
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:fh, :fw])
    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.ascontiguousarray(np.repeat(y[:, :, None], 3, axis=2))
    if len(planes) != 3:
        raise UnsupportedCodec(f"jpeg with {len(planes)} components")
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.ascontiguousarray(
        np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    )


def _ni_blocks(frame, geom, ci: int) -> tuple[int, int]:
    """Block grid of component `ci` in a NON-interleaved scan: derived
    from the component's own ceiling dimensions (T.81 A.2.2), which can
    be smaller than its slice of the padded MCU grid."""
    fh, fw, comps, _ = frame
    hmax, vmax, _, _ = geom
    _, hs, vs, _ = comps[ci]
    comp_w = (fw * hs + hmax - 1) // hmax
    comp_h = (fh * vs + vmax - 1) // vmax
    return (comp_h + 7) // 8, (comp_w + 7) // 8


def _decode_scan(
    raw, data_pos, frame, geom, stores, huffs,
    scan_comps, ss, se, ah, al, restart,
) -> int:
    """Entropy-decode one scan (sequential or any of the four
    progressive scan kinds) into the coefficient stores; returns the
    stream position of the next marker.

    Scan kinds (T.81 G.2): DC first (ss=0, ah=0; sequential scans also
    decode the AC band 1..63 in the same block visit), DC refinement
    (ss=0, ah>0: one appended bit per block), AC first (ss>=1, ah=0:
    band coefficients at point transform `al`, EOB-run coded), AC
    refinement (ss>=1, ah>0: one new-significance/correction pass).
    """
    _, _, comps, progressive = frame
    hmax, vmax, mcus_x, mcus_y = geom
    br = _BitReader(raw, data_pos)
    preds = [0] * len(comps)
    eobrun = 0
    interleaved = len(scan_comps) > 1

    def check_tables() -> list[tuple[int, _HuffDecoder | None, _HuffDecoder | None]]:
        out = []
        for ci, dct, act in scan_comps:
            dc = huffs.get((0, dct))
            ac = huffs.get((1, act))
            if ss == 0 and ah == 0 and dc is None:
                raise ValueError("JPEG scan references undefined DC table")
            if se >= 1 and ah == 0 and ac is None:
                raise ValueError("JPEG scan references undefined AC table")
            if se >= 1 and ah > 0 and ac is None:
                raise ValueError("JPEG scan references undefined AC table")
            out.append((ci, dc, ac))
        return out

    tabs = check_tables()

    def decode_block(ci: int, by: int, bx: int, dc, ac) -> None:
        nonlocal eobrun
        blk = stores[ci][by, bx]
        if ss == 0:
            if ah == 0:
                cat = dc.decode(br)
                if cat > 11:
                    raise ValueError("bad JPEG DC category")
                preds[ci] += _extend(br.receive(cat), cat)
                blk[0] = preds[ci] << al
            elif br.bit():
                blk[0] |= 1 << al
        if se == 0:
            return
        k = max(ss, 1)
        if ah == 0:  # AC first pass (or the AC half of a sequential scan)
            if eobrun > 0:
                eobrun -= 1
                return
            while k <= se:
                sym = ac.decode(br)
                run, size = sym >> 4, sym & 0x0F
                if size == 0:
                    if run == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << run) - 1
                    if run:
                        eobrun += br.receive(run)
                    break
                k += run
                if k > se:
                    raise ValueError("JPEG AC run overflow")
                blk[k] = _extend(br.receive(size), size) << al
                k += 1
            return
        # AC refinement pass (T.81 G.1.2.3 decode side)
        p1, m1 = 1 << al, -(1 << al)

        def correct(kk: int) -> None:
            if br.bit() and (blk[kk] & p1) == 0:
                blk[kk] += p1 if blk[kk] >= 0 else m1

        if eobrun == 0:
            while k <= se:
                sym = ac.decode(br)
                run, size = sym >> 4, sym & 0x0F
                newval = 0
                if size:
                    if size != 1:
                        raise ValueError("bad JPEG refinement size")
                    newval = p1 if br.bit() else m1
                elif run != 15:
                    # EOBRUN counts blocks INCLUDING this one: the
                    # current block still owes correction bits for its
                    # remaining nonzero coefficients (handled by the
                    # eobrun tail below, which then decrements)
                    eobrun = 1 << run
                    if run:
                        eobrun += br.receive(run)
                    break
                # advance over `run` zero-history coefficients,
                # appending correction bits to nonzero ones passed
                while k <= se:
                    if blk[k] != 0:
                        correct(k)
                    else:
                        run -= 1
                        if run < 0:
                            break
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError("JPEG refinement overflow")
                    blk[k] = newval
                k += 1
        if eobrun > 0:
            while k <= se:
                if blk[k] != 0:
                    correct(k)
                k += 1
            eobrun -= 1

    rst_idx = 0
    if interleaved:
        for mcu in range(mcus_x * mcus_y):
            if restart and mcu and mcu % restart == 0:
                br.align_and_expect_rst(rst_idx)
                rst_idx += 1
                preds = [0] * len(comps)
                eobrun = 0
            my, mx = divmod(mcu, mcus_x)
            for ci, dc, ac in tabs:
                _, hs, vs, _ = comps[ci]
                for by in range(vs):
                    for bx in range(hs):
                        decode_block(ci, my * vs + by, mx * hs + bx, dc, ac)
    else:
        ci, dc, ac = tabs[0]
        nby, nbx = _ni_blocks(frame, geom, ci)
        for unit in range(nby * nbx):
            if restart and unit and unit % restart == 0:
                br.align_and_expect_rst(rst_idx)
                rst_idx += 1
                preds = [0] * len(comps)
                eobrun = 0
            decode_block(ci, unit // nbx, unit % nbx, dc, ac)

    # resume the marker walk at the next true marker
    p = br.pos
    while p + 1 < len(raw) and not (
        raw[p] == 0xFF
        and raw[p + 1] != 0x00
        and not 0xD0 <= raw[p + 1] <= 0xD7
    ):
        p += 1
    if p + 1 >= len(raw):
        raise ValueError("JPEG stream ends inside entropy data")
    return p



def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak SNR in dB between two uint8 images."""
    err = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(err * err))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)
