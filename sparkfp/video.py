"""MJPEG video codec: minimal AVI (RIFF) container in pure numpy +
stdlib, frames decoded with the baseline JPEG decoder (sparkfp/jpeg.py).

This makes the video decode boundary REAL for one genuine multi-frame
codec: Motion-JPEG is just independently-coded JPEG frames in a RIFF
'AVI ' container (or a bare concatenated-JPEG stream), so the round-5
pure-numpy JPEG codec decodes it with ~100 lines of container parsing
and no external libraries. h264 remains the only deterministic-fake
surface (it genuinely needs ffmpeg).

Both container shapes are supported on decode:
- RIFF/AVI: chunk walk to the 'movi' LIST, collecting the video
  stream's compressed-frame chunks ('##dc'/'##db');
- raw MJPEG stream: consecutive SOI..EOI JPEG frames back to back,
  split by walking each frame's marker structure (inside entropy data
  0xFF is always stuffed or an RST marker, so the end-of-frame scan
  is exact; a naive byte scan for 0xFFD9 would not be, since segment
  payloads may contain any byte pair).

Error contract matches the image codecs: malformed containers raise
ValueError, unsupported-but-valid streams raise UnsupportedCodec; the
multimodal layer surfaces either as decoded=false per row
(sparkfp/multimodal.py frame_sample_features).

Scale shape: decode runs inside Arrow-batched ``mapInPandas`` at the
decode boundary only; the per-frame loop is intrinsic to the container
(frames are independent JPEG streams) and everything inside a frame is
the vectorized numpy JPEG path.

Reference anchor: the reference job treats media bytes as opaque until
its decode boundary (src/flink_job/serialization.py:14-20); MJPEG
support shrinks its fake-decode surface to h264 only.
"""

from __future__ import annotations

import struct

import numpy as np

from . import jpeg as _jpeg
from .codec import UnsupportedCodec, _pack_chunks, _write_chunks

_AVIH_SIZE = 56  # MainAVIHeader
_STRH_SIZE = 56  # AVIStreamHeader
_BMIH_SIZE = 40  # BITMAPINFOHEADER
_FPS = 25  # the frame rate encode_mjpeg declares


def encode_mjpeg(
    frames: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    container: str = "avi",
) -> bytes:
    """(T,H,W,3) uint8 frames -> MJPEG bytes.

    container='avi' emits a minimal spec-conformant RIFF 'AVI ' file
    (hdrl with avih + one 'vids'/'MJPG' stream at 25 fps, movi with
    '00dc' chunks, idx1); container='raw' emits the bare concatenated-JPEG
    stream some MJPEG producers use.
    """
    frames = np.asarray(frames)
    if frames.ndim != 4 or frames.shape[3] != 3 or frames.shape[0] == 0:
        raise ValueError(f"expected (T,H,W,3) frames, got {frames.shape}")
    jpegs = [
        _jpeg.encode_jpeg(f, quality=quality, subsample=subsample) for f in frames
    ]
    if container == "raw":
        return b"".join(jpegs)
    if container != "avi":
        raise ValueError(f"unknown MJPEG container {container!r}")
    n, h, w = frames.shape[0], frames.shape[1], frames.shape[2]
    max_frame = max(len(j) for j in jpegs)

    avih = struct.pack(
        "<14I",
        1_000_000 // _FPS,       # dwMicroSecPerFrame
        max_frame * _FPS,        # dwMaxBytesPerSec
        0,                       # dwPaddingGranularity
        0x10,                    # dwFlags: AVIF_HASINDEX
        n,                       # dwTotalFrames
        0,                       # dwInitialFrames
        1,                       # dwStreams
        max_frame,               # dwSuggestedBufferSize
        w, h,
        0, 0, 0, 0,              # dwReserved
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII",
            0, 0, 0,             # dwFlags, wPriority, wLanguage
            0,                   # dwInitialFrames
            1, _FPS,             # dwScale / dwRate = 1/fps per frame
            0, n,                # dwStart, dwLength (frames)
            max_frame,           # dwSuggestedBufferSize
            0xFFFFFFFF,          # dwQuality (driver default)
            0,                   # dwSampleSize (0: variable, indexed)
        )
        + struct.pack("<4H", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        _BMIH_SIZE, w, h, 1, 24, b"MJPG",
        h * w * 3, 0, 0, 0, 0,
    )
    strl = b"strl" + _pack_chunks("<", [(b"strh", strh), (b"strf", strf)])
    hdrl = b"hdrl" + _pack_chunks("<", [(b"avih", avih), (b"LIST", strl)])
    movi = b"movi" + _pack_chunks("<", [(b"00dc", j) for j in jpegs])
    # idx1 offsets are relative to the start of the movi list type word
    idx_entries, off = [], 4
    for j in jpegs:
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(j)))
        off += 8 + len(j) + (len(j) % 2)
    return _write_chunks(b"RIFF", b"AVI ", "<", [
        (b"LIST", hdrl), (b"LIST", movi), (b"idx1", b"".join(idx_entries)),
    ])


def _avi_frame_chunks(raw: bytes) -> list[bytes]:
    """RIFF/AVI walk -> compressed video-frame payloads in stream order.

    Only the 'movi' LIST matters for decode; hdrl/idx1 are validated
    just enough to not mis-parse (sizes honest, fourccs sane). Chunks
    '##dc' (compressed) and '##db' (uncompressed naming some writers
    use for MJPEG anyway) are treated as frames; 'rec ' sub-LISTs are
    descended into per the spec.
    """
    (total,) = struct.unpack_from("<I", raw, 4)
    if total + 8 > len(raw):
        raise ValueError("truncated AVI RIFF payload")

    frames: list[bytes] = []

    def walk(pos: int, end: int, in_movi: bool, depth: int) -> None:
        # real files nest LIST two deep (movi > rec ); a crafted file
        # of 12-byte LIST headers could otherwise recurse past the
        # interpreter stack limit — RecursionError would escape the
        # malformed-input ValueError contract the per-row quarantine
        # in multimodal.frame_sample_features catches on
        if depth > 16:
            raise ValueError("AVI LIST nesting too deep")
        while pos + 8 <= end:
            fourcc = raw[pos: pos + 4]
            (size,) = struct.unpack_from("<I", raw, pos + 4)
            body_end = pos + 8 + size
            if body_end > end:
                raise ValueError(f"truncated AVI chunk {fourcc!r}")
            if fourcc == b"LIST":
                if size < 4:
                    raise ValueError("short AVI LIST chunk")
                ltype = raw[pos + 8: pos + 12]
                if ltype == b"movi" or (in_movi and ltype == b"rec "):
                    walk(pos + 12, body_end, True, depth + 1)
                elif not in_movi:
                    pass  # hdrl/INFO lists carry no frame data
            elif in_movi and len(fourcc) == 4 and fourcc[2:4] in (b"dc", b"db"):
                if not fourcc[:2].isdigit():
                    raise ValueError(f"bad AVI stream chunk id {fourcc!r}")
                frames.append(raw[pos + 8: body_end])
            pos = body_end + (size % 2)  # word alignment

    walk(12, min(8 + total, len(raw)), False, 0)
    if not frames:
        raise ValueError("AVI contains no video frame chunks")
    return frames


def _jpeg_frame_end(raw: bytes, start: int) -> int:
    """Index one past the EOI of the JPEG frame starting at `start`.

    A plain 0xFFD9 byte-scan is NOT a safe splitter: segment payloads
    (quant tables, APPn blobs) may contain any byte pair. This walks
    the marker structure instead — only inside entropy-coded data is
    0xFF guaranteed stuffed/RST, so there the scan for a true marker
    is exact.
    """
    pos = start + 2  # past SOI
    while pos + 2 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError("MJPEG frame lost marker sync")
        m = raw[pos + 1]
        if m == 0xD9:  # EOI
            return pos + 2
        if m == 0xFF:  # fill byte
            pos += 1
            continue
        if 0xD0 <= m <= 0xD7 or m == 0x01:  # standalone
            pos += 2
            continue
        if pos + 4 > len(raw):
            break
        (ln,) = struct.unpack_from(">H", raw, pos + 2)
        pos += 2 + ln
        if m == 0xDA:  # SOS: skip entropy data to the next true marker
            while pos + 1 < len(raw):
                if (
                    raw[pos] == 0xFF
                    and raw[pos + 1] != 0x00
                    and not 0xD0 <= raw[pos + 1] <= 0xD7
                ):
                    break
                pos += 1
    raise ValueError("truncated MJPEG frame (no EOI)")


def _split_concat_jpeg(raw: bytes) -> list[bytes]:
    """Split a bare MJPEG stream into SOI..EOI frames (marker-aware)."""
    frames, start = [], 0
    while start < len(raw):
        if raw[start: start + 2] != b"\xff\xd8":
            raise ValueError("raw MJPEG stream: expected SOI between frames")
        end = _jpeg_frame_end(raw, start)
        frames.append(raw[start:end])
        start = end
    if not frames:
        raise ValueError("empty MJPEG stream")
    return frames


def decode_mjpeg(raw: bytes) -> np.ndarray:
    """MJPEG bytes (AVI or raw concatenated stream) -> (T,H,W,3) uint8.

    All frames must share one geometry (true for any single-stream
    MJPEG source); a mid-stream geometry change is a malformed file.
    """
    if len(raw) >= 12 and raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
        frame_bytes = _avi_frame_chunks(raw)
    elif raw[:2] == b"\xff\xd8":
        frame_bytes = _split_concat_jpeg(raw)
    else:
        raise ValueError("not an MJPEG stream (no RIFF/AVI or SOI header)")
    frames = [_jpeg.decode_jpeg(fb) for fb in frame_bytes]
    shape = frames[0].shape
    if any(f.shape != shape for f in frames[1:]):
        raise ValueError("MJPEG frame geometry changes mid-stream")
    return np.stack(frames)
