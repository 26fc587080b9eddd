"""MPEG-1 Audio Layer I ("mp1") and Layer II ("mp2") codecs in pure
numpy.

Shrinks the engine's unsupported-audio-codec surface (mp3/ogg/aac)
by two real members of the MPEG family: clips tagged ``codec='mp1'``
or ``codec='mp2'`` now decode for real through the same per-batch
dispatch as pcm/ulaw/alaw/wav/adpcm (the opaque-bytes decode boundary
the engine grafts from the reference's pickle deserialization,
src/flink_job/serialization.py:14-20). Layer II (the DAB/DVB
broadcast codec) shares the Layer I filterbank; its frame syntax and
quantizer structure live in the Layer II section below.

What is ISO/IEC 11172-3 bit-exact here (all closed-form, no spec
tables copied):

- frame header (syncword / version / layer / bitrate index / sample
  rate index / padding / mode / emphasis) and Layer I frame sizing
  (``slots = 12 * bitrate / sample_rate``, 4-byte slots);
- Layer I side info: 4-bit bit-allocation code per subband
  (0 = silent, n = n+1 bits, 15 forbidden) and 6-bit scalefactor
  indices into the 2.0 * 2^(-idx/3) geometric table;
- Layer I sample coding: nb-bit codes at 2^nb - 1 levels (all-ones
  forbidden, anti sync-emulation) with the spec's closed-form
  requantization  s'' = (2^nb / (2^nb - 1)) * (s''' + 2^(1-nb)),
  s''' = code / 2^(nb-1) - 1;
- the 32-band modulation phases: analysis
  cos((2k+1)(i-16) pi/64) over a newest-first 512-sample window and
  synthesis cos((2k+1)(n+16) pi/64), i.e. the exact cosine structure
  the ISO analysis (C-window + Y-fold + M matrix) and synthesis
  (V-FIFO + U-shuffle + D window) dataflows compute, collapsed to
  direct matrix form. End-to-end filterbank delay is 481 samples,
  matching the ISO filterbank.

What is NOT bit-exact: the 512-tap window itself. ISO Table C.1/B.3
is a numerically-designed table with no closed form; copying 512
half-remembered constants would be fabrication, so this codec uses a
documented near-perfect-reconstruction prototype instead — a
root-raised-cosine pulse (alpha=1, symbol period 64 = 2M samples),
whose |H(w)|^2 is exactly power-complementary at the pi/32 band
shift. Measured reconstruction error of the analysis+synthesis pair
is ~ -42 dB (test_mp1_filterbank_near_pr), far inside the engine's
SNR >= 30 dB decode contract (BASELINE.json input_hint). A foreign
ISO decoder reading these frames sees the correct phase structure
but a slightly different band shape — bounded window mismatch, not
garbage; a foreign ISO *stream* decodes here with the same bound.

Error contract (matches codec.py / gif.py / video.py): malformed
bytes raise ValueError; valid-but-unimplemented streams (Layer III,
MPEG-2 LSF, stereo modes, free-format bitrate, Layer II low-bitrate
table classes) raise UnsupportedCodec. Never struct.error/IndexError
— one corrupt row must quarantine, not kill the Spark task
(multimodal decode-error contract).
"""

from __future__ import annotations

import functools
from typing import NamedTuple

import numpy as np

from .codec import UnsupportedCodec, be_words

_M = 32          # subbands
_TAPS = 512      # prototype length
_GRANULES = 12   # Layer I: 12 granules x 32 subbands = 384 samples/frame
_DELAY = 481     # analysis+synthesis delay, samples (ISO filterbank value)

# MPEG-1 Layer I / II bitrate tables (kbps); index 0 = free format, 15 forbidden
_BITRATES = (0, 32, 64, 96, 128, 160, 192, 224, 256,
             288, 320, 352, 384, 416, 448)
_BITRATES_L2 = (0, 32, 48, 56, 64, 80, 96, 112, 128, 160,
                192, 224, 256, 320, 384)
_SAMPLE_RATES = (44100, 48000, 32000)  # index 3 reserved


class _Layer(NamedTuple):
    """What the header parser, frame walker and encoder prologue need
    to know about a layer; everything else about the frame is shared."""

    code: tuple[int, int]  # header layer bits
    bitrates: tuple
    numeral: str           # "I" / "II" in error texts
    slot_mult: int         # slots = slot_mult * bitrate / sample_rate
    slot_bytes: int
    granules: int          # 32-sample subband granules per frame
    other_layer: str       # UnsupportedCodec text for another layer's stream


_LAYERS = {
    "mp1": _Layer((1, 1), _BITRATES, "I", 12, 4, 12, "MPEG-1 Layer II/III audio"),
    "mp2": _Layer((1, 0), _BITRATES_L2, "II", 144, 1, 36, "not a Layer II stream"),
}

# scalefactor table: sf[idx] = 2.0 * 2^(-idx/3), idx 0..62 (63 invalid)
_SCALEFACTORS = 2.0 * 2.0 ** (-np.arange(63) / 3.0)


def _prototype() -> np.ndarray:
    """Root-raised-cosine near-PR prototype (see module docstring)."""
    alpha, period = 1.0, 64.0
    t = np.arange(_TAPS) - (_TAPS - 1) / 2  # half-integers: no singularities
    num = (np.sin(np.pi * (1 - alpha) * t / period)
           + (4 * alpha * t / period) * np.cos(np.pi * (1 + alpha) * t / period))
    den = (np.pi * t / period) * (1 - (4 * alpha * t / period) ** 2)
    h = num / den
    return h / h.sum()


def _filterbank() -> tuple[np.ndarray, np.ndarray, float]:
    h = _prototype()
    k = np.arange(_M)[:, None]
    i = np.arange(_TAPS)[None, :]
    analysis = h * np.cos((2 * k + 1) * (i - 16) * np.pi / 64)   # (32, 512), age-indexed
    synthesis = h * np.cos((2 * k + 1) * (i + 16) * np.pi / 64)  # (32, 512), time-indexed
    # exact pass-through gain of the pair, measured on an impulse at
    # import (deterministic closed computation, not a magic constant)
    imp = np.zeros(4 * _TAPS)
    imp[2 * _TAPS] = 1.0
    sub = _analyze(imp, analysis, len(imp) // _M)
    y = _synthesize(sub, synthesis)
    gain = float(y[2 * _TAPS + _DELAY])
    return analysis, synthesis / gain, gain


def _analyze(x: np.ndarray, analysis: np.ndarray, n_granules: int) -> np.ndarray:
    """PCM -> (n_granules, 32) subband samples, fully vectorized."""
    xp = np.concatenate([np.zeros(_TAPS - _M), x])
    win = np.lib.stride_tricks.sliding_window_view(xp, _TAPS)[::_M][:n_granules]
    return win[:, ::-1] @ analysis.T  # newest-first window, one matmul


def _synthesize(sub: np.ndarray, synthesis: np.ndarray) -> np.ndarray:
    """(T, 32) subband samples -> PCM of length 32*T (delay included)."""
    n_granules = sub.shape[0]
    contrib = (sub @ synthesis).reshape(n_granules, _TAPS // _M, _M)
    y = np.zeros((n_granules + _TAPS // _M, _M))  # PCM in rows of 32
    for j in range(_TAPS // _M):  # 16 overlap-add shifts, vectorized inside
        y[j: j + n_granules] += contrib[:, j, :]
    return y.reshape(-1)[: _M * n_granules]


_ANALYSIS, _SYNTHESIS, _FB_GAIN = _filterbank()


# ------------------------------------------------------------ bit packing


def _bits_of(vals: np.ndarray, width: int) -> np.ndarray:
    """uint array -> (len, width) MSB-first bit matrix (uint8 0/1)."""
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint32)
    return ((vals[:, None].astype(np.uint64) >> shifts) & 1).astype(np.uint8)


# Zero bytes after the stream (``be_words`` pad): the widest read past a
# payload's end (mp2's whole allocation field, read before it is known
# to fit: at most 16 CRC + 94 allocation bits, so byte offsets up to 13
# past the end) still gathers one full 3-byte word.
_PAD = 16


def _fields(words: np.ndarray, starts, widths) -> np.ndarray:
    """MSB-first unsigned fields of at most 16 bits at any bit offsets
    (``starts`` and ``widths`` broadcast; width 0 reads 0) from
    ``be_words(raw, 3, _PAD)`` output: one gather per field, however
    many fields a clip has. Callers check the fields fit their payload."""
    return (words[starts >> 3] >> (24 - (starts & 7) - widths)) & ((1 << widths) - 1)


# ------------------------------------------------------------ encode


def _allocate_bits(energy: np.ndarray, budget: int) -> np.ndarray:
    """Greedy per-subband bit allocation (encoder freedom, not spec).

    Repeatedly gives one more quantization bit to the subband with the
    highest remaining noise estimate (energy / 4^nb); activating a
    silent subband costs 6 scalefactor bits + 12 2-bit samples,
    deepening an active one costs 12 bits. Deterministic tie-break by
    subband index (argmax takes the first maximum).
    """
    # plain-scalar heap loop: 32 elements x <= 450 steps — numpy's
    # per-op overhead would dominate at this size
    import heapq

    noise = [float(e) + 1e-30 for e in energy]
    nb = [0] * _M
    heap = [(-noise[i], i) for i in range(_M)]
    heapq.heapify(heap)
    while heap:
        neg_gain, sb = heapq.heappop(heap)
        cur = nb[sb]
        cost = 6 + 2 * _GRANULES if cur == 0 else _GRANULES
        if cost > budget:
            continue  # budget only shrinks: drop, cheaper sbs may fit
        nb[sb] = 2 if cur == 0 else cur + 1
        budget -= cost
        if nb[sb] < 15:
            heapq.heappush(heap, (-(noise[sb] / 4.0 ** nb[sb]), sb))
    return np.asarray(nb, dtype=np.int64)


def _encode_prologue(
    pcm: np.ndarray, sr_hz: int, bitrate_kbps: int, layer: str
) -> tuple[np.ndarray, np.ndarray, int]:
    """Argument checks, the 32-bit frame header and the padded analysis
    both encoders share -> (header bits, (n_frames, granules, 32)
    subband samples, frame_bits).

    The input is zero-padded so that, after the decoder drops the
    481-sample filterbank delay, the decoded stream covers every input
    sample (decode length = n_frames*samples_per_frame - 481 >= len(pcm);
    trailing samples beyond len(pcm) are near-silent pad).
    """
    lay = _LAYERS[layer]
    pcm = np.asarray(pcm, dtype=np.float64)
    if pcm.ndim != 1:
        raise ValueError(f"encode_{layer} expects mono 1-D PCM, got {pcm.shape}")
    if sr_hz not in _SAMPLE_RATES:
        raise UnsupportedCodec(
            f"{layer} sample rate {sr_hz} (MPEG-1 allows 32000/44100/48000)"
        )
    if bitrate_kbps not in lay.bitrates or bitrate_kbps == 0:
        raise ValueError(
            f"{layer} bitrate {bitrate_kbps} not in the Layer {lay.numeral} table"
        )
    if lay.slot_mult * bitrate_kbps * 1000 % sr_hz:
        # 44.1 kHz needs padding-bit alternation; these encoders only
        # emit integral-slot combinations (the decoder handles padded
        # foreign frames fine)
        raise UnsupportedCodec(
            f"{layer} encoder needs integral slots; {bitrate_kbps} kbps at {sr_hz} Hz"
        )
    frame_bits = (lay.slot_mult * bitrate_kbps * 1000 // sr_hz) * lay.slot_bytes * 8
    samples_per_frame = _M * lay.granules
    n = len(pcm)
    n_frames = max(1, -(-(n + _DELAY) // samples_per_frame))
    x = np.zeros(n_frames * samples_per_frame)
    x[:n] = np.clip(pcm, -1.0, 1.0)
    sub = _analyze(x, _ANALYSIS, n_frames * lay.granules)

    header = np.zeros(32, dtype=np.uint8)
    header[:11] = 1                                   # syncword (11 bits)
    header[11:13] = (1, 1)                            # MPEG-1
    header[13:15] = lay.code                          # layer
    header[15] = 1                                    # protection: no CRC
    br_idx = lay.bitrates.index(bitrate_kbps)
    header[16:20] = _bits_of(np.array([br_idx]), 4)[0]
    header[20:22] = _bits_of(np.array([_SAMPLE_RATES.index(sr_hz)]), 2)[0]
    # padding 0 (bit 22), private 0 (bit 23)
    header[24:26] = (1, 1)                            # mode: single channel
    # mode_ext 00 (26-27), copyright 0 (28)
    header[29] = 1                                    # original
    # emphasis 00 (30-31)
    return header, sub.reshape(n_frames, lay.granules, _M), frame_bits


def encode_mp1(pcm: np.ndarray, sr_hz: int, bitrate_kbps: int = 320) -> bytes:
    """float32/float64 PCM in [-1, 1] -> MPEG-1 Layer I mono frames
    (384 samples each; 4-byte slots, slots = 12 * bitrate / sample_rate).
    Decode length = n_frames*384 - 481 >= len(pcm)."""
    header, sub, frame_bits = _encode_prologue(pcm, sr_hz, bitrate_kbps, "mp1")
    out = bytearray()
    for frame_sub in sub:                             # (12, 32)
        maxabs = np.abs(frame_sub).max(axis=0)        # (32,)
        energy = (frame_sub ** 2).sum(axis=0)
        budget = frame_bits - 32 - 4 * _M
        nb = _allocate_bits(energy, budget)
        active = np.flatnonzero(nb)
        # smallest scalefactor covering the frame's peak (table is
        # decreasing; _SCALEFACTORS[0] = 2.0 bounds the filterbank gain)
        sf_idx = np.clip(
            (_SCALEFACTORS[None, :] >= maxabs[:, None]).sum(axis=1) - 1, 0, 62
        )
        bits = np.zeros(frame_bits, dtype=np.uint8)
        bits[:32] = header
        pos = 32
        alloc_code = np.where(nb > 0, nb - 1, 0)
        bits[pos: pos + 4 * _M] = _bits_of(alloc_code, 4).ravel()
        pos += 4 * _M
        if active.size:
            bits[pos: pos + 6 * active.size] = (
                _bits_of(sf_idx[active], 6).ravel()
            )
            pos += 6 * active.size
            sf = _SCALEFACTORS[sf_idx[active]]
            nba = nb[active]
            levels = (1 << nba) - 1
            # invert s'' = (2^nb/(2^nb-1)) (s''' + 2^(1-nb)),
            # s''' = code/2^(nb-1) - 1
            v = frame_sub[:, active] / sf                 # (12, n_active)
            s3 = v * (levels / (1 << nba)) - 2.0 ** (1 - nba)
            code = np.floor((s3 + 1.0) * (1 << (nba - 1)) + 0.5)
            code = np.clip(code, 0, levels - 1).astype(np.int64)
            # granule-major, subband-minor sample order (Layer I):
            # build each subband's (12, nb) bit block once, concat along
            # the subband axis, ravel -> the whole sample region
            blocks = [
                _bits_of(code[:, j], int(w)) for j, w in enumerate(nba)
            ]
            region = np.concatenate(blocks, axis=1).ravel()
            bits[pos: pos + region.size] = region
            pos += region.size
        if pos > frame_bits:
            raise AssertionError("mp1 frame overflow — allocator bug")
        out.extend(np.packbits(bits).tobytes())
    return bytes(out)


# ------------------------------------------------------------ decode


def _parse_header(raw: bytes, pos: int, layer: str) -> dict:
    """One frame header of ``layer`` ("mp1"/"mp2"): the checks are
    shared; the layer bits, bitrate table and slot size are the layer's."""
    lay = _LAYERS[layer]
    if pos + 4 > len(raw):
        raise ValueError(f"truncated {layer} frame header")
    word = int.from_bytes(raw[pos: pos + 4], "big")
    if word >> 21 != 0x7FF:
        raise ValueError("lost MPEG audio frame sync")
    version = (word >> 19) & 3
    if version == 0b01:
        raise ValueError("reserved MPEG version id")
    if version != 0b11:
        raise UnsupportedCodec("MPEG-2/2.5 LSF audio")
    layer_bits = (word >> 17) & 3
    if layer_bits == 0:
        raise ValueError("reserved MPEG layer id")
    if layer_bits != 2 * lay.code[0] + lay.code[1]:
        raise UnsupportedCodec(lay.other_layer)
    crc_present = not (word >> 16) & 1
    br_idx = (word >> 12) & 15
    if br_idx == 15:
        raise ValueError(f"forbidden {layer} bitrate index 15")
    if br_idx == 0:
        raise UnsupportedCodec(f"{layer} free-format bitrate")
    sr_idx = (word >> 10) & 3
    if sr_idx == 3:
        raise ValueError(f"reserved {layer} sample rate index")
    padding = (word >> 9) & 1
    if (word >> 6) & 3 != 0b11:
        raise UnsupportedCodec(f"{layer} stereo/joint/dual modes (mono only)")
    sr = _SAMPLE_RATES[sr_idx]
    kbps = lay.bitrates[br_idx]
    if layer == "mp2":
        _l2_table_for(sr, kbps)  # reject low-bitrate table classes early
    slots = lay.slot_mult * kbps * 1000 // sr + padding
    return {
        "sr": sr, "frame_bytes": slots * lay.slot_bytes, "crc": crc_present,
        "kbps": kbps,
    }


class _Prefix:
    """The frames ``[0, n)`` of a whole-clip payload parse that have no
    fault yet. Checks run in bitstream order, each over every frame
    still in the prefix; one that fails first at frame i ends the prefix
    there and records ``(i, message)``. Each frame's fault is so its
    first failing check, and the fault left at the end is the lowest
    faulty frame's: what a frame-by-frame decode raises first."""

    def __init__(self, n: int) -> None:
        self.n, self.fault = n, None

    def check(self, bad: np.ndarray, msg, *arrays: np.ndarray) -> list[np.ndarray]:
        """``bad`` (one flag per prefix frame) -> ``arrays`` (one row
        per prefix frame) cut to the new prefix; ``msg`` is the fault
        text, or a function of the frame giving it."""
        if bad.any():
            i = int(np.argmax(bad))
            self.n, self.fault = i, (i, msg(i) if callable(msg) else msg)
        return [a[: self.n] for a in arrays]


def _decode_stream(raw: bytes, layer: str) -> tuple[np.ndarray, int]:
    """The decode both layers share. Walk the headers (sync, sample
    rate held, body complete), then parse the payloads of all the
    complete frames at once, each field kind in one ``_fields`` call
    (``_parse_l1``; ``_parse_l2`` once per allocation table in use),
    synthesize and drop the 481-sample filterbank delay.

    Faults come out as a frame-by-frame decode raises them: the walk
    stops at frame j's header, sample-rate or truncated-body fault,
    which is raised only if no frame before j has a payload fault; of
    those, the lowest frame's first fault in bitstream order wins."""
    if len(raw) < 4:
        raise ValueError(f"{layer} stream shorter than one frame header")
    pos, sr, walk_fault = 0, None, None
    starts, sizes, crc, kbps = [], [], [], []
    try:
        while pos < len(raw):
            hdr = _parse_header(raw, pos, layer)
            if sr is None:
                sr = hdr["sr"]
            elif hdr["sr"] != sr:
                raise ValueError(f"{layer} sample rate changes mid-stream")
            if pos + hdr["frame_bytes"] > len(raw):
                raise ValueError(f"truncated {layer} frame body")
            starts.append(pos)
            sizes.append(hdr["frame_bytes"])
            crc.append(hdr["crc"])
            kbps.append(hdr["kbps"])
            pos += hdr["frame_bytes"]
    except (ValueError, UnsupportedCodec) as e:
        walk_fault = e
    if starts:
        words = be_words(raw, 3, _PAD)
        base = 8 * (np.array(starts) + 4)   # payload bit offsets
        nbits = 8 * (np.array(sizes) - 4)
        crc = np.array(crc)
        # Layer II frames pick their table by bitrate; Layer I has one
        keys = np.array(kbps) if layer == "mp2" else np.zeros(len(starts), int)
        sub = np.empty((len(starts), _LAYERS[layer].granules, _M))
        fault = None
        for key in np.unique(keys):
            idx = np.flatnonzero(keys == key)
            args = (words, base[idx], nbits[idx], crc[idx])
            part, f = (_parse_l1(*args) if layer == "mp1"
                       else _parse_l2(*args, _l2_layout(sr, int(key))))
            if f is not None and (fault is None or idx[f[0]] < fault[0]):
                fault = (int(idx[f[0]]), f[1])
            sub[idx[: len(part)]] = part
        if fault is not None:
            raise ValueError(fault[1])
    if walk_fault is not None:
        raise walk_fault
    y = _synthesize(sub.reshape(-1, _M), _SYNTHESIS)
    return y[_DELAY:].astype(np.float32), int(sr)


_ALLOC_OFFSETS_L1 = 4 * np.arange(_M)


def _parse_l1(words, base, nbits, crc) -> tuple[np.ndarray, tuple | None]:
    """Layer I payloads at bit offsets ``base`` (``nbits`` long, a CRC
    word first where ``crc``) -> ((frames, 12, 32) subband samples,
    first fault or None); see ``_Prefix``. Frames from the faulty one
    on are not returned."""
    pre = _Prefix(len(base))
    pos = base + np.where(crc, 16, 0)  # CRC-16 skipped, not verified
    end = base + nbits
    pos, end = pre.check(pos + 4 * _M > end,
                         "truncated mp1 frame: no room for allocation", pos, end)
    alloc = _fields(words, pos[:, None] + _ALLOC_OFFSETS_L1, 4)
    pos, end, alloc = pre.check((alloc == 15).any(axis=1), "forbidden mp1 allocation code 15",
                                pos + 4 * _M, end, alloc)
    active = alloc > 0  # a frame with no active subband passes every check below
    nb = np.where(active, alloc + 1, 0)
    pos, end, active, nb = pre.check(pos + 6 * active.sum(axis=1) > end,
                                     "truncated mp1 frame: no room for scalefactors",
                                     pos, end, active, nb)
    sf_idx = _fields(words, pos[:, None] + 6 * (np.cumsum(active, axis=1) - active),
                     6 * active)
    pos, end, active, nb, sf_idx = pre.check((sf_idx > 62).any(axis=1),
                                             "invalid mp1 scalefactor index 63",
                                             pos + 6 * active.sum(axis=1), end, active, nb,
                                             sf_idx)
    per_granule = nb.sum(axis=1)
    pos, per_granule, active, nb, sf_idx = pre.check(
        pos + _GRANULES * per_granule > end, "truncated mp1 frame: no room for samples",
        pos, per_granule, active, nb, sf_idx)
    # sample-region bit offsets for every (frame, granule, subband):
    # granule-major layout, widths vary per subband -> cumsum
    offs = (pos[:, None, None] + np.arange(_GRANULES)[:, None] * per_granule[:, None, None]
            + (np.cumsum(nb, axis=1) - nb)[:, None, :])       # (n, 12, 32)
    codes = _fields(words, offs, nb[:, None, :])
    levels = np.where(active, (1 << nb) - 1, -1)
    codes, active, nb, sf_idx = pre.check((codes == levels[:, None, :]).any(axis=(1, 2)),
                                          "forbidden all-ones mp1 sample code",
                                          codes, active, nb, sf_idx)
    nb = np.where(active, nb, 2)[:, None, :]  # any valid width: silent bands are zeroed
    s3 = codes / (1 << (nb - 1)).astype(np.float64) - 1.0
    s2 = ((1 << nb) / ((1 << nb) - 1)).astype(np.float64) * (s3 + 2.0 ** (1 - nb))
    sub = np.where(active[:, None, :], s2 * _SCALEFACTORS[sf_idx][:, None, :], 0.0)
    return sub, pre.fault


def decode_mp1(raw: bytes) -> tuple[np.ndarray, int]:
    """MPEG-1 Layer I mono frames -> (float32 PCM in [-1, 1], sample rate).

    The 481-sample filterbank delay is dropped, so sample 0 of the
    output aligns with sample 0 of the encoder's input; output length
    is n_frames*384 - 481 (up to 383 trailing pad samples relative to
    the original signal — real mp1 frames carry no length field).
    """
    return _decode_stream(raw, "mp1")


# ===================================================== Layer II ("mp2")
#
# Layer II (ISO/IEC 11172-3, 2.4.1.6 / 2.4.2.2 / B.2) extends Layer I:
# 1152 samples per frame (3 parts x 12 granules-of-3), one-byte slots,
# per-subband quantizer MENUS selected by an allocation table keyed on
# (sample rate, bitrate per channel), scalefactor-selection info
# (SCFSI) sharing scalefactors across the three parts, and GROUPED
# quantization for 3/5/9-level quantizers (three samples in one
# 5/7/10-bit code).
#
# Spec constants vs closed form (same policy as the Layer I section):
# - Tables B.2a (sblimit 27) and B.2b (sblimit 30) are spec constants,
#   cited like JPEG's Annex K: the per-band quantizer menus below are
#   the published tables, not derived. Streams whose (rate, bitrate)
#   class selects the low-bitrate tables B.2c/d raise UnsupportedCodec.
# - Table B.4 (requantization C/D coefficients) is NOT copied: for
#   every Layer II quantizer the C/D composition with the n-bit s'''
#   representation collapses to the uniform mid-tread lattice
#       s'' = (2c - L + 1) / L,   c in {0..L-1}
#   (proof: ungrouped L = 2^n - 1 gives C = 2^n/L, D = 2^(1-n), so
#   C*(c/2^(n-1) - 1 + D) = (2c - L + 1)/L; grouped L in {3,5,9} gives
#   C = 2^n/L, D = 1/2, same algebra). The codec quantizes/requantizes
#   on that closed-form lattice directly — bit-exact with the table.

_GRANULES_L2 = 12          # triplet-granules per frame
_PARTS = 3                 # scalefactor parts (12 samples each)

# quantizer menus (ISO B.2a/b band groups); levels per allocation step
_MENU_LOW = (3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
             8191, 16383, 32767, 65535)            # sb 0-2,  nbal 4
_MENU_MID = (3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047,
             4095, 65535)                          # sb 3-10, nbal 4
_MENU_HIGH = (3, 5, 7, 9, 15, 31, 65535)           # sb 11-22, nbal 3
_MENU_TOP = (3, 5, 65535)                          # sb 23+,  nbal 2


def _b2_table(sblimit: int) -> tuple[tuple, ...]:
    """Per-subband (nbal, menu) rows for ISO Table B.2a (sblimit 27)
    or B.2b (sblimit 30) — same band structure, longer tail."""
    rows = [(4, _MENU_LOW)] * 3 + [(4, _MENU_MID)] * 8 + [(3, _MENU_HIGH)] * 12
    rows += [(2, _MENU_TOP)] * (sblimit - 23)
    return tuple(rows[:sblimit])


@functools.lru_cache(maxsize=None)
def _l2_table_for(sr_hz: int, bitrate_kbps: int) -> tuple[tuple, ...]:
    """ISO 2.4.2.2 allocation-table selection for MONO streams:
    48 kHz -> B.2a; 44.1/32 kHz at >= 56 kbps/ch -> B.2b; the
    low-bitrate classes (<= 48 kbps/ch -> B.2c/d) are unsupported."""
    if bitrate_kbps <= 48:
        raise UnsupportedCodec(
            f"mp2 low-bitrate table class ({bitrate_kbps} kbps/ch)"
        )
    if sr_hz == 48000 or bitrate_kbps <= 80:
        return _b2_table(27)
    return _b2_table(27) if sr_hz == 48000 else _b2_table(30)


def _group_width(levels: int) -> int:
    """Bits per triplet: grouped 3/5/9-level quantizers pack three
    samples into one base-L code (5/7/10 bits); others send three
    n-bit codes, n = log2(levels + 1)."""
    if levels == 3:
        return 5
    if levels == 5:
        return 7
    if levels == 9:
        return 10
    return 3 * int(levels + 1).bit_length() - 3


def _allocate_bits_l2(
    energy: np.ndarray, budget: int, table: list[tuple]
) -> np.ndarray:
    """Greedy menu-walk allocation (encoder freedom, not spec): give
    the next quantizer step to the subband with the best noise
    reduction PER BIT. Unlike Layer I's uniform +1-bit steps, Layer II
    menus have wildly uneven steps (the 2-bit TOP menu jumps 5 ->
    65535 levels, +41 bits/triplet), so ranking by absolute noise
    would burn hundreds of bits silencing near-silent high subbands
    while the dominant band sits coarse — benefit/cost ranking is the
    correct greedy for non-uniform step menus. Step cost is the true
    bit delta (triplet-width delta x 12 granules; activation also
    pays 2 SCFSI + up to 18 scalefactor bits)."""
    import heapq

    sblimit = len(table)
    step = [0] * sblimit  # 0 = silent, k = menu index k-1 active
    noise = [float(e) + 1e-30 for e in energy[:sblimit]]

    def entry(sb: int):
        """(neg benefit-per-bit, cost, sb) for sb's next menu step."""
        menu = table[sb][1]
        cur = step[sb]
        if cur >= len(menu):
            return None
        lv_next = menu[cur]
        n_cur = noise[sb] if cur == 0 else noise[sb] / menu[cur - 1] ** 2
        n_next = noise[sb] / (lv_next * lv_next)
        width_now = _group_width(menu[cur - 1]) if cur else 0
        cost = _GRANULES_L2 * (_group_width(lv_next) - width_now)
        if cur == 0:
            cost += 2 + 6 * _PARTS  # scfsi + worst-case scalefactors
        return (-(n_cur - n_next) / cost, cost, sb)

    heap = [e for e in (entry(sb) for sb in range(sblimit)) if e]
    heapq.heapify(heap)
    while heap:
        _, cost, sb = heapq.heappop(heap)
        if cost > budget:
            continue  # budget only shrinks; cheaper steps may still fit
        step[sb] += 1
        budget -= cost
        nxt = entry(sb)
        if nxt:
            heapq.heappush(heap, nxt)
    return np.asarray(step, dtype=np.int64)


def encode_mp2(pcm: np.ndarray, sr_hz: int, bitrate_kbps: int = 192) -> bytes:
    """float PCM in [-1, 1] -> MPEG-1 Layer II mono frames (1152
    samples each; one-byte slots, slots = 144 * bitrate / sample_rate).
    Same delay/padding contract as encode_mp1."""
    header, sub, frame_bits = _encode_prologue(pcm, sr_hz, bitrate_kbps, "mp2")
    table = _l2_table_for(sr_hz, bitrate_kbps)
    sblimit = len(table)
    nbal = np.asarray([t[0] for t in table])
    out = bytearray()
    for frame_sub in sub:                             # (36, 32)
        energy = (frame_sub ** 2).sum(axis=0)
        budget = frame_bits - 32 - int(nbal.sum())
        step = _allocate_bits_l2(energy, budget, table)
        bits = np.zeros(frame_bits, dtype=np.uint8)
        bits[:32] = header
        pos = 32
        for sb in range(sblimit):                     # allocation field
            w = table[sb][0]
            bits[pos: pos + w] = _bits_of(np.array([step[sb]]), w)[0]
            pos += w
        active = [sb for sb in range(sblimit) if step[sb]]
        # per-part scalefactors; SCFSI 2 when one index covers the
        # frame, else 0 (all three sent) — both always-valid patterns
        parts = frame_sub.reshape(_PARTS, _GRANULES_L2, _M)
        peak = np.abs(parts).max(axis=1)              # (3, 32)
        sf_idx = np.clip(
            (_SCALEFACTORS[None, None, :] >= peak[:, :, None]).sum(axis=2) - 1,
            0, 62,
        )                                             # (3, 32)
        scfsi = {sb: (2 if sf_idx[0, sb] == sf_idx[1, sb] == sf_idx[2, sb]
                      else 0) for sb in active}
        for sb in active:
            bits[pos: pos + 2] = _bits_of(np.array([scfsi[sb]]), 2)[0]
            pos += 2
        for sb in active:
            sent = [sf_idx[0, sb]] if scfsi[sb] == 2 else sf_idx[:, sb]
            for v in np.atleast_1d(sent):
                bits[pos: pos + 6] = _bits_of(np.array([v]), 6)[0]
                pos += 6
        # samples: granule-major (12 triplets), subband-minor
        for sb in active:
            menu = table[sb][1]
            lv = menu[step[sb] - 1]
            sf = _SCALEFACTORS[sf_idx[:, sb]]         # (3,)
            v = frame_sub[:, sb].reshape(_PARTS, _GRANULES_L2) / sf[:, None]
            c = np.clip(
                np.floor((v + 1.0) * lv / 2.0), 0, lv - 1
            ).astype(np.int64).reshape(_PARTS * _GRANULES_L2)
            trip = c.reshape(_GRANULES_L2 * _PARTS // 3, 3)
            if lv in (3, 5, 9):
                code = trip[:, 0] + lv * trip[:, 1] + lv * lv * trip[:, 2]
                codes_bits = _bits_of(code, _group_width(lv))
            else:
                w1 = int(lv + 1).bit_length() - 1
                codes_bits = _bits_of(trip.ravel(), w1).reshape(
                    trip.shape[0], 3 * w1
                )
            step_w = codes_bits.shape[1]
            # interleave into the granule-major layout via offsets
            stride = sum(
                _group_width(table[s][1][step[s] - 1]) for s in active
            )
            start = sum(
                _group_width(table[s][1][step[s] - 1])
                for s in active if s < sb
            )
            offs = (pos + np.arange(_GRANULES_L2) * stride + start)
            idx = offs[:, None] + np.arange(step_w)[None, :]
            bits[idx.ravel()] = codes_bits.ravel()
        if active:
            pos += _GRANULES_L2 * sum(
                _group_width(table[s][1][step[s] - 1]) for s in active
            )
        if pos > frame_bits:
            raise AssertionError("mp2 frame overflow — allocator bug")
        out.extend(np.packbits(bits).tobytes())
    return bytes(out)


class _L2Layout(NamedTuple):
    """One allocation table as arrays, indexed [subband] or
    [subband, allocation step] (step 0 = silent, its column unused)."""

    nbal: np.ndarray         # allocation field width
    alloc_start: np.ndarray  # allocation field offset in the field block
    n_steps: np.ndarray      # menu length: a larger allocation is invalid
    levels: np.ndarray       # quantizer levels
    width: np.ndarray        # bits per triplet (_group_width)


@functools.lru_cache(maxsize=None)
def _l2_layout(sr_hz: int, bitrate_kbps: int) -> _L2Layout:
    table = _l2_table_for(sr_hz, bitrate_kbps)
    nbal = np.array([w for w, _ in table])
    levels = np.zeros((len(table), 1 + len(_MENU_LOW)), dtype=np.int64)
    width = np.zeros_like(levels)
    for sb, (_, menu) in enumerate(table):
        levels[sb, 1:1 + len(menu)] = menu
        width[sb, 1:1 + len(menu)] = [_group_width(lv) for lv in menu]
    layout = _L2Layout(nbal, np.cumsum(nbal) - nbal,
                       np.array([len(m) for _, m in table]), levels, width)
    for a in layout:  # shared by every caller through the cache
        a.setflags(write=False)
    return layout


# SCFSI -> which sent scalefactor each of the three parts uses
_SCFSI_PARTS = np.array([[0, 1, 2], [0, 0, 1], [0, 0, 0], [0, 1, 1]])
_SCFSI_SENT = np.array([3, 2, 1, 2])
_PART_OF_SAMPLE = np.arange(_PARTS * _GRANULES_L2) // _GRANULES_L2


def _parse_l2(words, base, nbits, crc, lay: _L2Layout) -> tuple[np.ndarray, tuple | None]:
    """Layer II payloads that share allocation table ``lay`` ->
    ((frames, 36, 32) subband samples, first fault or None); the
    arguments and the fault rule are ``_parse_l1``'s."""
    pre = _Prefix(len(base))
    n_sb = len(lay.nbal)
    pos = base + np.where(crc, 16, 0)
    end = base + nbits
    # the whole field is read, cut or not: a menu fault before the cut
    # outranks the cut
    fits = pos[:, None] + lay.alloc_start + lay.nbal <= end[:, None]
    step = _fields(words, pos[:, None] + lay.alloc_start, lay.nbal)   # (n, n_sb)
    over = fits & (step > lay.n_steps)

    def alloc_fault(i: int) -> str:
        if not over[i].any():
            return "truncated mp2 frame: no room for allocation"
        sb = int(np.argmax(over[i]))
        return f"mp2 allocation {step[i, sb]} exceeds subband {sb} menu"

    pos, end, step = pre.check(over.any(axis=1) | ~fits[:, -1], alloc_fault,
                               pos + int(lay.nbal.sum()), end, step)
    active = step > 0  # a frame with no active subband passes every check below
    pos, end, step, active = pre.check(pos + 2 * active.sum(axis=1) > end,
                                       "truncated mp2 frame: no room for scfsi",
                                       pos, end, step, active)
    scfsi = _fields(words, pos[:, None] + 2 * (np.cumsum(active, axis=1) - active),
                    2 * active)
    n_sf = np.where(active, _SCFSI_SENT[scfsi], 0)
    pos = pos + 2 * active.sum(axis=1)
    pos, end, step, active, scfsi, n_sf = pre.check(
        pos + 6 * n_sf.sum(axis=1) > end, "truncated mp2 frame: no room for scalefactors",
        pos, end, step, active, scfsi, n_sf)
    # each part's scalefactor, read where SCFSI points it among the sent
    # ones (every sent one is some part's)
    sf_part = _fields(words, pos[:, None, None] + 6 * (
        (np.cumsum(n_sf, axis=1) - n_sf)[:, :, None] + _SCFSI_PARTS[scfsi]),
        6 * active[:, :, None])                                      # (n, n_sb, 3)
    pos, end, step, active, sf_part = pre.check(
        (sf_part > 62).any(axis=(1, 2)), "invalid mp2 scalefactor index 63",
        pos + 6 * n_sf.sum(axis=1), end, step, active, sf_part)
    lv = lay.levels[np.arange(n_sb), step]     # 0 where silent
    widths = lay.width[np.arange(n_sb), step]  # 0 where silent
    stride = widths.sum(axis=1)
    pos, stride, active, sf_part, lv, widths = pre.check(
        pos + _GRANULES_L2 * stride > end, "truncated mp2 frame: no room for samples",
        pos, stride, active, sf_part, lv, widths)
    # three fields per (frame, triplet, subband): a grouped quantizer's
    # one base-L code (then two empty fields), or three w1-bit codes
    grouped = (lv == 3) | (lv == 5) | (lv == 9)
    w1 = np.where(grouped, 0, widths // 3)
    offs = w1[:, :, None] * np.arange(3)                             # (n, n_sb, 3)
    wid = np.where(grouped[:, :, None], np.stack([widths, w1, w1], axis=2), w1[:, :, None])
    starts = (pos[:, None, None] + np.arange(_GRANULES_L2)[:, None] * stride[:, None, None]
              + (np.cumsum(widths, axis=1) - widths)[:, None, :])    # (n, 12, n_sb)
    vals = _fields(words, starts[..., None] + offs[:, None], wid[:, None])  # (n, 12, n_sb, 3)
    bad = active & np.where(grouped, (vals[..., 0] >= (lv ** 3)[:, None, :]).any(axis=1),
                            (vals == lv[:, None, :, None]).any(axis=(1, 3)))

    def code_fault(i: int) -> str:
        return ("mp2 grouped code out of range" if grouped[i, np.argmax(bad[i])]
                else "forbidden all-ones mp2 sample code")

    vals, active, sf_part, lv, grouped = pre.check(bad.any(axis=1), code_fault,
                                                   vals, active, sf_part, lv, grouped)
    code = vals[..., 0]
    lv = np.where(active, lv, 1)[:, None, :]  # any valid level: silent bands are zeroed
    trip = np.where(
        grouped[:, None, :, None],
        np.stack([code % lv, (code // lv) % lv, code // (lv * lv)], axis=3),
        vals,
    )
    samples = trip.transpose(0, 1, 3, 2).reshape(len(vals), _PARTS * _GRANULES_L2, n_sb)
    # closed-form Table B.4 lattice (see section comment)
    s2 = (2.0 * samples - lv + 1.0) / lv
    sf = _SCALEFACTORS[sf_part[:, :, _PART_OF_SAMPLE]].transpose(0, 2, 1)
    sub = np.zeros((len(vals), _PARTS * _GRANULES_L2, _M))
    sub[:, :, :n_sb] = np.where(active[:, None, :], s2 * sf, 0.0)
    return sub, pre.fault


def decode_mp2(raw: bytes) -> tuple[np.ndarray, int]:
    """MPEG-1 Layer II mono frames -> (float32 PCM, sample rate); the
    481-sample filterbank delay is dropped (same contract as
    decode_mp1)."""
    return _decode_stream(raw, "mp2")
