"""Codec round-trip invariants (BASELINE.json input_hint: SNR >= 30 dB)."""

import numpy as np
import pytest

from sparkfp import codec


def _signal(n=8000, seed=7):
    rng = np.random.Generator(np.random.Philox(key=[seed, 0]))
    t = np.arange(n) / 8000.0
    pcm = 0.4 * np.sin(2 * np.pi * 440 * t) + 0.2 * np.sin(2 * np.pi * 1200 * t)
    pcm += 0.02 * rng.standard_normal(n)
    return np.clip(pcm, -1, 1).astype(np.float32)


def test_pcm_s16le_roundtrip_snr():
    pcm = _signal()
    raw = codec.encode(pcm, "pcm_s16le")
    out = codec.decode(raw, "pcm_s16le")
    assert len(out) == len(pcm)
    assert codec.snr_db(pcm, out) >= 80.0  # 16-bit quantization ~90 dB
    # a headerless stream declares no size, so an odd byte count is an
    # error, not a partial sample to drop
    with pytest.raises(ValueError, match="multiple of element size"):
        codec.decode(raw[:-1], "pcm_s16le")


def test_ulaw_roundtrip_snr():
    pcm = _signal()
    out = codec.decode(codec.encode(pcm, "ulaw"), "ulaw")
    assert len(out) == len(pcm)
    assert codec.snr_db(pcm, out) >= 30.0  # the input_hint floor


def test_unsupported_codec_is_stubbed():
    with pytest.raises(codec.UnsupportedCodec):
        codec.decode(b"\x00\x01", "mp3")
    with pytest.raises(codec.UnsupportedCodec):
        codec.encode(np.zeros(10, dtype=np.float32), "aac")


def test_decode_is_deterministic():
    pcm = _signal()
    raw = codec.encode(pcm, "ulaw")
    a = codec.decode(raw, "ulaw")
    b = codec.decode(raw, "ulaw")
    assert np.array_equal(a, b)


# ------------------------------------------------------- image codecs


def _img(h, w, seed=3):
    rng = np.random.Generator(np.random.Philox(key=[seed, 0]))
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("w", [1, 2, 3, 4, 5, 17, 64])
def test_bmp_roundtrip_exact_all_paddings(w):
    """24-bit BMP row stride pads to 4 bytes: every width mod 4 case
    must round-trip bit-exact."""
    img = _img(9, w)
    out = codec.decode_image(codec.encode_image(img, "bmp"), "bmp")
    assert out.dtype == np.uint8 and np.array_equal(out, img)


def test_bmp_top_down_and_32bpp_decode():
    """Decoder handles negative-height (top-down) and 32bpp BGRA BMPs
    that other writers emit, not just our encoder's output."""
    import struct

    img = _img(5, 3)
    h, w = img.shape[:2]
    off = 14 + 40
    # hand-build: top-down 32bpp BGRA
    px = np.zeros((h, w, 4), dtype=np.uint8)
    px[:, :, :3] = img[:, :, ::-1]
    px[:, :, 3] = 255
    raw = (
        struct.pack("<2sIHHI", b"BM", off + px.nbytes, 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 32, 0, px.nbytes, 0, 0, 0, 0)
        + px.tobytes()
    )
    assert np.array_equal(codec.decode_image(raw, "bmp"), img)


def test_ppm_roundtrip_and_comments():
    img = _img(7, 5)
    assert np.array_equal(codec.decode_image(codec.encode_image(img, "ppm"), "ppm"), img)
    # foreign writer: comments + multi-line header
    raw = b"P6\n# made elsewhere\n5\n# again\n7\n255\n" + img.tobytes()
    assert np.array_equal(codec.decode_image(raw, "ppm"), img)


def test_image_codec_errors():
    with pytest.raises(codec.UnsupportedCodec):
        codec.decode_image(b"BM" + b"\0" * 60, "webp")
    with pytest.raises(ValueError):
        codec.decode_image(b"not a bmp at all, padded long enough" * 3, "bmp")
    img = _img(4, 4)
    truncated = codec.encode_image(img, "bmp")[:-8]
    with pytest.raises(ValueError):
        codec.decode_image(truncated, "bmp")


def test_bmp_engine_decode_equals_oracle_scalar_parse():
    """Engine strided-numpy BMP decode == the fixture oracle's
    independent per-pixel struct parser (both orientations)."""
    import struct

    import tools.dsp_oracle as orc

    img = _img(6, 7)
    raw = codec.encode_image(img, "bmp")
    eng = codec.decode_image(raw, "bmp").astype(np.float64).ravel()
    assert np.array_equal(eng, np.array(orc.decode_bmp_pixels(raw)))
    # top-down variant
    h, w = img.shape[:2]
    stride = (3 * w + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : 3 * w] = img[:, :, ::-1].reshape(h, 3 * w)
    off = 54
    raw_td = (
        struct.pack("<2sIHHI", b"BM", off + rows.nbytes, 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, rows.nbytes, 0, 0, 0, 0)
        + rows.tobytes()
    )
    eng_td = codec.decode_image(raw_td, "bmp").astype(np.float64).ravel()
    assert np.array_equal(eng_td, np.array(orc.decode_bmp_pixels(raw_td)))


# ----------------------------------------------------------------- png


@pytest.mark.parametrize("f", [0, 1, 2, 3, 4])
def test_png_roundtrip_exact_every_filter(f):
    """Encode under each of the five PNG scanline filters, decode, and
    recover the pixels exactly — random AND gradient content (gradients
    stress Sub/Average/Paeth's prediction arithmetic near wraparound)."""
    img = _img(24, 17)
    assert np.array_equal(codec.decode_image(codec.encode_image(img, "png", png_filter=f), "png"), img)
    grad = np.tile(
        (np.arange(17, dtype=np.uint8)[None, :, None] * 15), (24, 1, 3)
    ) + np.arange(24, dtype=np.uint8)[:, None, None]
    assert np.array_equal(
        codec.decode_image(codec.encode_image(grad, "png", png_filter=f), "png"),
        grad,
    )


def test_png_engine_decode_equals_oracle_scalar_parse():
    """Engine zlib+numpy PNG decode == the fixture oracle's independent
    byte-at-a-time unfilter loop, for every filter type."""
    import tools.dsp_oracle as orc

    img = _img(11, 9, seed=5)
    for f in range(5):
        raw = codec.encode_image(img, "png", png_filter=f)
        eng = codec.decode_image(raw, "png").astype(np.float64).ravel()
        assert np.array_equal(eng, np.array(orc.decode_png_pixels(raw))), f


def test_png_gray_and_rgba_decode():
    """Hand-built grayscale (color 0) and RGBA (color 6) PNGs decode to
    HxWx3: gray replicated across channels, alpha dropped."""
    import struct
    import zlib

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    # 2x3 grayscale, filter 0 rows
    gray = np.array([[10, 20, 30], [40, 50, 60]], dtype=np.uint8)
    scan = b"".join(b"\x00" + row.tobytes() for row in gray)
    raw = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")
    )
    out = codec.decode_image(raw, "png")
    assert out.shape == (2, 3, 3)
    assert np.array_equal(out[:, :, 0], gray)
    assert np.array_equal(out[:, :, 1], gray)
    # 2x2 RGBA with varying alpha; alpha must be dropped, not blended
    rgba = np.arange(16, dtype=np.uint8).reshape(2, 2, 4)
    scan = b"".join(b"\x00" + row.tobytes() for row in rgba)
    raw = (
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")
    )
    out = codec.decode_image(raw, "png")
    assert np.array_equal(out, rgba[:, :, :3])


def test_png_error_paths():
    img = _img(6, 5)
    raw = codec.encode_image(img, "png", png_filter=2)
    with pytest.raises(ValueError):  # truncated: IEND gone
        codec.decode_image(raw[:-20], "png")
    bad = bytearray(raw)
    bad[len(raw) // 2] ^= 0xFF  # corrupt IDAT payload -> CRC mismatch
    with pytest.raises(ValueError):
        codec.decode_image(bytes(bad), "png")
    with pytest.raises(ValueError):
        codec.decode_image(b"\x89PNG\r\n\x1a\n\x00\x00", "png")
    with pytest.raises(codec.UnsupportedCodec):  # packed depths gated
        import struct
        import zlib as z

        def chunk(ctype, payload):
            return (
                struct.pack(">I", len(payload)) + ctype + payload
                + struct.pack(">I", z.crc32(ctype + payload) & 0xFFFFFFFF)
            )

        codec.decode_image(
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 4, 3, 0, 0, 0))
            + chunk(b"IDAT", z.compress(b"\x00" * 4)) + chunk(b"IEND", b""),
            "png",
        )
    with pytest.raises(ValueError):
        codec.encode_image(img, "png", png_filter=9)


# ---------------------------------------------------------------- jpeg


def test_jpeg_roundtrip_psnr_all_modes():
    """Baseline JPEG encode->decode at several quality/subsampling/
    restart settings; PSNR floors chosen to catch structural bugs
    (a broken IDCT/huffman path craters PSNR), not codec tuning."""
    from sparkfp import jpeg

    yy, xx = np.mgrid[0:50, 0:37]
    img = np.stack(
        [(xx * 6) % 256, (yy * 4) % 256,
         128 + 100 * np.sin(xx / 5.0) * np.cos(yy / 7.0)],
        axis=2,
    ).astype(np.uint8)
    for q, sub, rst, floor in [
        (95, False, 0, 44.0),
        (90, False, 0, 42.0),
        (75, True, 0, 31.0),
        (90, False, 4, 42.0),   # restart markers every 4 MCUs
        (85, True, 3, 32.0),    # 4:2:0 + restarts
    ]:
        raw = jpeg.encode_jpeg(img, quality=q, subsample=sub, restart_interval=rst)
        out = jpeg.decode_jpeg(raw)
        assert out.shape == img.shape
        assert jpeg.psnr(img, out) >= floor, (q, sub, rst)
    # uniform color survives exactly (DC-only blocks)
    flat = np.full((16, 24, 3), 77, np.uint8)
    assert np.array_equal(jpeg.decode_jpeg(jpeg.encode_jpeg(flat)), flat)
    # grayscale single-component stream -> replicated channels
    g = ((xx + yy) * 3 % 256).astype(np.uint8)
    outg = jpeg.decode_jpeg(jpeg.encode_jpeg(g, quality=92))
    assert outg.shape == (50, 37, 3)
    assert np.array_equal(outg[:, :, 0], outg[:, :, 1])
    assert jpeg.psnr(np.repeat(g[:, :, None], 3, 2), outg) >= 50.0


def test_jpeg_spec_tables_and_transform():
    """The decoder's fixed machinery against the public spec directly:
    zigzag is the T.81 sequence, the DCT basis is orthonormal (IDCT
    inverts DCT to float precision), huffman codes are prefix-free,
    and amplitude EXTEND matches the spec's two-sided mapping."""
    from sparkfp import jpeg

    # zigzag: walking the 8x8 grid anti-diagonally
    exp = []
    for s in range(15):
        ks = range(max(0, s - 7), min(s, 7) + 1)
        diag = [(k, s - k) for k in ks]
        if s % 2 == 0:
            diag = diag[::-1]
        exp.extend(r * 8 + c for r, c in diag)
    assert list(jpeg.ZIGZAG) == exp
    d = jpeg._dct_matrix()
    assert np.allclose(d @ d.T, np.eye(8), atol=1e-12)  # orthonormal
    rng = np.random.default_rng(0)
    blk = rng.standard_normal((8, 8))
    assert np.allclose(d.T @ (d @ blk @ d.T) @ d, blk, atol=1e-9)
    # canonical codes from the standard AC luma table are prefix-free
    codes = jpeg._canonical_codes(*jpeg._AC_LUMA)
    as_str = {format(c, f"0{n}b") for c, n in codes.values()}
    assert len(as_str) == len(codes)
    for a in as_str:
        for b in as_str:
            assert a == b or not b.startswith(a) or len(b) == len(a)
    # EXTEND: cat=3 receives 0..7 -> -7..-4, 4..7 (T.81 table F.1)
    got = [jpeg._extend(v, 3) for v in range(8)]
    assert got == [-7, -6, -5, -4, 4, 5, 6, 7]


def test_jpeg_error_paths_and_dispatch():
    from sparkfp import jpeg

    img = _img(10, 9)
    raw = jpeg.encode_jpeg(img, quality=90)
    # codec.decode_image dispatch treats jpeg as a REAL image codec
    assert np.array_equal(codec.decode_image(raw, "jpeg"), jpeg.decode_jpeg(raw))
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"\x00\x01" * 40)  # no SOI
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(raw[: len(raw) // 2])  # truncated entropy data
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"\xff\xd8 marker sync broken")
    # a sequential stream relabeled SOF2 is malformed progressive: its
    # interleaved Ss=0/Se=63 scan violates T.81 G.1.1.1 (DC scan must
    # have Se=0), so the strict scan-script check rejects it
    prog = bytearray(raw)
    prog[raw.find(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(bytes(prog))
    with pytest.raises(ValueError):
        jpeg.encode_jpeg(img, quality=0)


# ----------------------------------------------------- progressive jpeg


def test_jpeg_progressive_decodes_identical_to_sequential():
    """progressive=True re-orders the SAME quantized coefficients into
    an SOF2 scan script (DC first/refine, AC band splits, successive
    approximation), so the decode must be pixel-identical to the
    sequential encode's decode — across color/gray, 4:2:0, and
    non-MCU-aligned dims (partial edge blocks exercise the
    non-interleaved component-ceiling grid of T.81 A.2.2)."""
    from sparkfp import jpeg

    rng = np.random.Generator(np.random.Philox(key=[11, 0]))
    cases = [
        (16, 16, False, False),  # MCU-aligned 4:4:4
        (17, 23, False, False),  # partial edge blocks
        (17, 23, False, True),   # 4:2:0 with partial blocks
        (40, 24, False, True),   # 4:2:0 aligned
        (13, 9, True, False),    # grayscale, partial blocks
        (1, 1, False, False),    # degenerate single pixel
    ]
    for h, w, gray, sub in cases:
        shape = (h, w) if gray else (h, w, 3)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        seq = jpeg.encode_jpeg(img, quality=85, subsample=sub)
        prog = jpeg.encode_jpeg(img, quality=85, subsample=sub, progressive=True)
        # really SOF2 on the wire
        assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog
        a, b = jpeg.decode_jpeg(seq), jpeg.decode_jpeg(prog)
        assert np.array_equal(a, b), (h, w, gray, sub)


def test_jpeg_progressive_roundtrip_psnr():
    """Progressive is still lossy JPEG: PSNR against the source image
    gates the full pipeline (DCT -> quant -> scan script -> decode)."""
    from sparkfp import jpeg

    img = _img(33, 29, seed=5)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=92, progressive=True))
    assert jpeg.psnr(img, out) >= 28.0
    flat = np.full((24, 24, 3), 130, dtype=np.uint8)
    assert np.array_equal(
        jpeg.decode_jpeg(jpeg.encode_jpeg(flat, progressive=True)), flat
    )


def test_jpeg_progressive_error_paths():
    from sparkfp import codec, jpeg

    img = _img(19, 21)
    raw = jpeg.encode_jpeg(img, quality=80, progressive=True)
    # truncating inside a late refinement scan is malformed, not a crash
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(raw[: int(len(raw) * 0.9)])
    with pytest.raises(ValueError):
        jpeg.encode_jpeg(img, progressive=True, restart_interval=4)
    # scan-script strictness: corrupt an SOS header's Se byte so a DC
    # scan claims a band (T.81 G.1.1.1 violation)
    sos = raw.find(b"\xff\xda")
    assert sos > 0
    (ln,) = np.frombuffer(raw[sos + 2 : sos + 4], dtype=">u2")
    bad = bytearray(raw)
    bad[sos + 2 + int(ln) - 2] = 63  # Se of the first (DC) scan
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(bytes(bad))
    # progressive jpeg flows through the public image dispatch too
    assert np.array_equal(codec.decode_image(raw, "jpeg"), jpeg.decode_jpeg(raw))


# --------------------------------------------------------- IMA ADPCM


def test_adpcm_roundtrip_snr_and_length():
    # NOTE on the 30 dB contract: for ADPCM the input_hint's "decoded
    # PCM allclose (SNR>=30dB)" applies to DECODE parity — and the
    # decoder is bit-exact against the oracle (infinite SNR; see
    # test_adpcm_engine_decode_equals_oracle_scalar_loop). The
    # ENCODE round trip is bounded by 4-bit delta-coding physics:
    # ~25 dB on this mixed 440+1200 Hz tone (the 1200 Hz component
    # moves fast per sample), >=30 dB on band-limited content
    # (test_adpcm_roundtrip_meets_snr_contract).
    pcm = _signal()
    raw = codec.encode(pcm, "adpcm")
    out = codec.decode(raw, "adpcm")
    assert len(out) == len(pcm)
    assert codec.snr_db(pcm, out) >= 20.0
    # the container is a real WAVE file: the generic wav path decodes
    # it identically (fmt tag 0x11 routing)
    assert np.array_equal(codec.decode(raw, "wav"), out)


def test_adpcm_block_boundaries_and_empty():
    # one block holds 505 samples; check exact trimming around it
    for n in (0, 1, 504, 505, 506, 1011):
        pcm = _signal(n=max(n, 1))[:n]
        out = codec.decode(codec.encode(pcm, "adpcm"), "adpcm")
        assert len(out) == n


def test_adpcm_engine_decode_equals_oracle_scalar_loop():
    """Prefix-scan numpy decode across blocks == the oracle's literal
    per-nibble Python loop, bit for bit."""
    import tools.dsp_oracle as orc

    pcm = _signal(n=3003)
    raw = codec.encode(pcm, "adpcm")
    eng = codec.decode(raw, "adpcm").astype(np.float64)
    ora = np.array(orc.decode(raw, "adpcm"))
    assert np.array_equal(eng, ora)


@pytest.mark.parametrize("block_align", [5, 36, 256, 2048, 20000])
def test_adpcm_clamp_edges_equal_oracle_scalar_loop(block_align):
    """Seeded garbage blocks whose step index starts at 0 and at 88 and
    whose predictor starts on both rails, plus runs of the largest
    codes that saturate it: the engine's prefix scans equal the
    oracle's per-nibble loop bit for bit. 20000-byte blocks take the
    int64 scan (their sums can pass 2^31)."""
    import tools.dsp_oracle as orc

    rng = np.random.Generator(np.random.Philox(key=[block_align, 0]))
    blk = rng.integers(0, 256, (6, block_align), dtype=np.uint8)
    seeds = np.array([32767, -32768, 32767, -32768, 0, 1234], dtype="<i2")
    blk[:, 0:2] = seeds.view(np.uint8).reshape(6, 2)
    blk[:, 2] = [88, 88, 0, 0, 44, 1]
    blk[0, 4:] = 0x77  # +largest delta, step index up by 8 each code
    blk[1, 4:] = 0xFF  # -largest delta
    blk[2, 4:] = 0x00  # smallest delta, step index down by 1 each code
    data = blk.tobytes()
    eng = codec._decode_adpcm_blocks(data, block_align, None).astype(np.float64)
    ora = np.array(orc._decode_ima_scalar(data, block_align, None))
    assert np.array_equal(eng, ora)
    s16 = np.round(ora * 32768.0)
    assert s16.max() == 32767 and s16.min() == -32768  # both rails reached
    # a fact count inside the last block trims the same way
    fact = len(ora) - 1
    assert np.array_equal(
        codec._decode_adpcm_blocks(data, block_align, fact).astype(np.float64),
        np.array(orc._decode_ima_scalar(data, block_align, fact)),
    )


def test_adpcm_error_paths():
    import struct

    good = codec.encode(_signal(n=600), "adpcm")

    def rebuild(block_align=None, fact=None, idx=None):
        raw = bytearray(good)
        fmt_at = raw.index(b"fmt ") + 8
        fact_at = raw.index(b"fact") + 8
        data_at = raw.index(b"data") + 8
        if block_align is not None:
            struct.pack_into("<H", raw, fmt_at + 12, block_align)
        if fact is not None:
            struct.pack_into("<I", raw, fact_at, fact)
        if idx is not None:
            raw[data_at + 2] = idx
        return bytes(raw)

    with pytest.raises(ValueError):
        codec.decode(rebuild(block_align=4), "adpcm")
    with pytest.raises(ValueError):
        codec.decode(rebuild(fact=10**6), "adpcm")
    with pytest.raises(ValueError):
        codec.decode(rebuild(idx=89), "adpcm")
    # stereo ADPCM is unimplemented, not malformed
    stereo = bytearray(good)
    struct.pack_into("<H", stereo, stereo.index(b"fmt ") + 8 + 2, 2)
    with pytest.raises(codec.UnsupportedCodec):
        codec.decode(bytes(stereo), "adpcm")


# --------------------------------------------------------------- GIF


def test_gif_engine_decode_equals_oracle_chain_walk():
    """Materialized-string LZW (engine) == chain-table LZW (oracle),
    sequential and interlaced."""
    import tools.dsp_oracle as orc

    from sparkfp import gif, synth

    for iid, il in (("g1", False), ("g2", True)):
        img = synth.paletted_pixels(iid, h=29, w=19, n_colors=256)
        raw = gif.encode_gif(img, interlace=il)
        eng = codec.decode_image(raw, "gif").astype(np.float64).ravel()
        ora = np.array(orc.decode_gif_pixels(raw))
        assert np.array_equal(eng, ora)


def test_gif_error_paths():
    from sparkfp import gif, synth

    img = synth.paletted_pixels("ge", n_colors=4)
    good = gif.encode_gif(img)
    # >256 colors is an unimplemented feature of the indexed format
    rng = np.random.default_rng(0)
    with pytest.raises(codec.UnsupportedCodec):
        gif.encode_gif(rng.integers(0, 256, (30, 30, 3)).astype(np.uint8))
    with pytest.raises(ValueError):
        codec.decode_image(b"GIF89a", "gif")
    with pytest.raises(ValueError):
        codec.decode_image(good[:20], "gif")  # truncated mid-structure
    with pytest.raises(ValueError):
        codec.decode_image(good[:-10], "gif")  # truncated LZW stream
    with pytest.raises(ValueError):
        codec.decode_image(b"NOTGIF" + good[6:], "gif")


def test_gif_table_reset_at_4096_codes():
    """A large noisy raster forces the LZW table to 4096 and a CLEAR
    reset mid-stream; the round trip must stay exact through it."""
    from sparkfp import gif, synth

    img = synth.paletted_pixels("gbig", h=120, w=119, n_colors=256)
    assert np.array_equal(gif.decode_gif(gif.encode_gif(img)), img)


# ---------------------------------------------- MPEG-1 Layer I (mp1)


def _mp1_header(layer=3, mode=3, version=3, br_idx=5, sr_idx=2,
                protection=1) -> bytes:
    """Craft a 32-bit MPEG audio header (field values, not bit maps)."""
    word = (0x7FF << 21) | (version << 19) | (layer << 17) | (protection << 16)
    word |= (br_idx << 12) | (sr_idx << 10) | (mode << 6) | (1 << 2)
    return word.to_bytes(4, "big")


def test_mp1_roundtrip_snr_and_alignment():
    from sparkfp import mpeg_audio

    pcm = _signal(n=32000)
    raw = codec.encode(pcm, "mp1", sr_hz=32000)
    out = codec.decode(raw, "mp1")
    # decode covers every input sample; trailing pad <= 383 samples
    assert len(pcm) <= len(out) < len(pcm) + 384
    assert codec.snr_db(pcm, out[: len(pcm)]) >= 36.0
    # sample-0 alignment: the 481-sample filterbank delay is dropped
    imp = np.zeros(4000, dtype=np.float32)
    imp[1234] = 0.5
    y, sr = mpeg_audio.decode_mp1(mpeg_audio.encode_mp1(imp, 48000, 448))
    assert sr == 48000
    assert int(np.argmax(np.abs(y))) == 1234


def test_mp1_filterbank_near_pr():
    """Unquantized analysis+synthesis of the RRC-prototype filterbank
    reconstructs at ~42 dB (the module-docstring design figure); the
    quantizer sits on top of this floor."""
    from sparkfp import mpeg_audio as m

    rng = np.random.default_rng(5)
    x = rng.standard_normal(16384) * 0.3
    sub = m._analyze(x, m._ANALYSIS, len(x) // 32)
    y = m._synthesize(sub, m._SYNTHESIS)[m._DELAY:]
    n = len(x) - m._DELAY
    err = y[:n] - x[:n]
    snr = 10 * np.log10(np.sum(x[:n] ** 2) / np.sum(err ** 2))
    assert snr >= 40.0


def test_mp1_engine_decode_equals_oracle_scalar_loop():
    """Engine matmul synthesis vs the oracle's literal triple loop.
    Not bit-exact like the adpcm twin: the engine reassociates the
    float64 sums (matmul) and returns float32, so parity is pinned at
    1e-6 absolute — 10^4 times tighter than the quantizer noise."""
    import tools.dsp_oracle as orc

    pcm = _signal(n=2000)
    raw = codec.encode(pcm, "mp1", sr_hz=32000)
    eng = codec.decode(raw, "mp1").astype(np.float64)
    ora = np.array(orc.decode(raw, "mp1"))
    assert eng.shape == ora.shape
    assert np.abs(eng - ora).max() <= 1e-6


@pytest.mark.parametrize("layer", ["mp1", "mp2"])
def test_mpeg_error_paths(layer):
    """Both layers run the one header parser and frame walker: malformed
    bytes raise ValueError, valid-but-unsupported streams and encoder
    arguments raise UnsupportedCodec, each with its layer's message
    text (the quarantine reason)."""
    from sparkfp import mpeg_audio as m

    encode, decode = getattr(m, f"encode_{layer}"), getattr(m, f"decode_{layer}")
    code, other = (3, 2) if layer == "mp1" else (2, 3)  # header layer codes

    def hdr(layer=code, **kw) -> bytes:
        return _mp1_header(layer=layer, **kw)

    good = encode(_signal(n=1000), 32000, 160 if layer == "mp1" else 192)
    bad_streams = [
        (b"", ValueError, f"{layer} stream shorter than one frame header"),
        (b"\x00\x00\x00\x00", ValueError, "lost MPEG audio frame sync"),
        (good[:3], ValueError, f"{layer} stream shorter"),        # short header
        (good + good[:2], ValueError, f"truncated {layer} frame header"),
        (good[:-7], ValueError, f"truncated {layer} frame body"),
        (good[:-5], ValueError, f"truncated {layer} frame body"),
        (hdr(layer=other), codec.UnsupportedCodec,
         "MPEG-1 Layer II/III audio" if layer == "mp1" else "not a Layer II stream"),
        (hdr(layer=0), ValueError, "reserved MPEG layer id"),
        (hdr(version=2), codec.UnsupportedCodec, "MPEG-2/2.5 LSF audio"),
        (hdr(version=1), ValueError, "reserved MPEG version id"),
        (hdr(mode=0), codec.UnsupportedCodec, f"{layer} stereo/joint/dual modes"),
        (hdr(br_idx=0), codec.UnsupportedCodec, f"{layer} free-format bitrate"),
        (hdr(br_idx=15), ValueError, f"forbidden {layer} bitrate index 15"),
        (hdr(sr_idx=3), ValueError, f"reserved {layer} sample rate index"),
        # 32 kHz frames then a 48 kHz header
        (good + hdr(sr_idx=1), ValueError, f"{layer} sample rate changes mid-stream"),
    ]
    if layer == "mp2":
        # 48 kbps mono selects the unimplemented low-bitrate tables
        bad_streams.append((hdr(br_idx=2), codec.UnsupportedCodec,
                            "mp2 low-bitrate table class"))
    for raw, exc, msg in bad_streams:
        with pytest.raises(exc, match=msg):
            decode(raw)
    # encoder argument contract
    bad_args = [
        ((np.zeros(100), 8000), codec.UnsupportedCodec,  # not an MPEG-1 rate
         f"{layer} sample rate 8000"),
        ((np.zeros(100), 44100, 160 if layer == "mp1" else 192),  # needs padding
         codec.UnsupportedCodec, f"{layer} encoder needs integral slots"),
        ((np.zeros(100), 32000, 100), ValueError, f"{layer} bitrate 100 not in"),
        ((np.zeros((10, 2)), 32000), ValueError, f"encode_{layer} expects mono"),
    ]
    if layer == "mp2":
        bad_args.append(((np.zeros(100), 32000, 48), codec.UnsupportedCodec,
                         "mp2 low-bitrate table class"))
    for args, exc, msg in bad_args:
        with pytest.raises(exc, match=msg):
            encode(*args)


def _bit_field(*fields: tuple[int, int]) -> np.ndarray:
    """(value, width) pairs -> MSB-first uint8 bit array."""
    return np.array(
        [(v >> i) & 1 for v, w in fields for i in range(w - 1, -1, -1)],
        dtype=np.uint8,
    )


def _parse_one(layer: str, bits: np.ndarray, crc: bool = False) -> np.ndarray:
    """One payload of ``bits`` through the layer's whole-clip parser
    (mp2 at 32 kHz / 192 kbps); its fault is raised as the decoder does."""
    from sparkfp import mpeg_audio as m
    from sparkfp.codec import be_words

    args = (be_words(np.packbits(bits).tobytes(), 3, m._PAD), np.array([0]),
            np.array([len(bits)]), np.array([crc]))
    sub, fault = (m._parse_l1(*args) if layer == "mp1"
                  else m._parse_l2(*args, m._l2_layout(32000, 192)))
    if fault is not None:
        raise ValueError(fault[1])
    return sub


def test_mpeg_first_fault_in_bitstream_order_wins():
    """A frame with several faults raises the one the bitstream reaches
    first; the message is the quarantine reason, so the order is part
    of the contract."""
    from sparkfp import mpeg_audio as m

    # mp2 at 32 kHz / 192 kbps (Table B.2b): 3 LOW subbands (4-bit
    # allocation), 8 MID (4-bit, 14 steps), 12 HIGH (3-bit), 7 TOP (2-bit)
    hdr = _mp1_header(layer=2, br_idx=10, sr_idx=2)
    frame_bytes = 144 * 192000 // 32000
    # step 15 at subband 4 is outside its 14-step menu; every other
    # subband asks for more sample bits than the frame holds
    alloc = [(14, 4)] * 3 + [(14, 4), (15, 4)] + [(14, 4)] * 6 + [(7, 3)] * 12
    alloc += [(3, 2)] * 7
    payload = np.packbits(_bit_field(*alloc)).tobytes()
    frame = hdr + payload.ljust(frame_bytes - 4, b"\xff")
    with pytest.raises(ValueError, match="^mp2 allocation 15 exceeds subband 4 menu$"):
        m.decode_mp2(frame)
    # the same fault at subband 9 and subband 5: the earlier one is named
    alloc2 = [(1, 4)] * 5 + [(15, 4)] + [(1, 4)] * 3 + [(15, 4)] + [(1, 4)]
    bits = _bit_field(*alloc2)
    with pytest.raises(ValueError, match="^mp2 allocation 15 exceeds subband 5 menu$"):
        _parse_one("mp2", bits)
    # out-of-menu subband 4, then the payload ends inside the
    # allocation field: the menu fault comes first in the bitstream
    bits = _bit_field(*alloc[:8])
    with pytest.raises(ValueError, match="^mp2 allocation 15 exceeds subband 4 menu$"):
        _parse_one("mp2", bits)
    # valid allocations cut short inside the field (and mid-subband)
    for n_bits in (0, 3, 4 * 11 + 3 * 5 + 1):
        bits = _bit_field(*([(1, 4)] * 11 + [(1, 3)] * 12 + [(1, 2)] * 7))[:n_bits]
        with pytest.raises(ValueError, match="^truncated mp2 frame: no room for allocation$"):
            _parse_one("mp2", bits)
    # ... and with the CRC word in front
    with pytest.raises(ValueError, match="^truncated mp2 frame: no room for allocation$"):
        _parse_one("mp2", np.zeros(16 + 40, np.uint8), crc=True)

    # mp1 reads its whole 128-bit allocation field before it checks
    # any code: a cut field raises truncation even if it holds a 15
    alloc1 = _bit_field(*([(3, 4)] * 5 + [(15, 4)] + [(3, 4)] * 26))
    with pytest.raises(ValueError, match="^truncated mp1 frame: no room for allocation$"):
        _parse_one("mp1", alloc1[:100])
    # a whole field with code 15: forbidden, although the scalefactors
    # and samples after it do not fit either
    with pytest.raises(ValueError, match="^forbidden mp1 allocation code 15$"):
        _parse_one("mp1", alloc1)
    frame1 = _mp1_header(br_idx=1, sr_idx=1)  # 32 kbps @ 48 kHz: 32-byte frame
    frame1 += np.packbits(alloc1).tobytes().ljust(28, b"\x00")
    with pytest.raises(ValueError, match="^forbidden mp1 allocation code 15$"):
        m.decode_mp1(frame1)
    # without the 15 the same frame runs out of room for scalefactors
    frame1 = _mp1_header(br_idx=1, sr_idx=1)
    frame1 += np.packbits(_bit_field(*([(3, 4)] * 32))).tobytes().ljust(28, b"\x00")
    with pytest.raises(ValueError, match="^truncated mp1 frame: no room for scalefactors$"):
        m.decode_mp1(frame1)


@pytest.mark.parametrize("layer", ["mp1", "mp2"])
def test_mpeg_cross_frame_fault_order(layer):
    """Across frames the first fault a frame-by-frame decode meets is
    raised: a payload fault of frame i beats a lost sync or a cut body
    in frame i+1 and any payload fault of a later frame; a walk fault
    of frame j beats the payload faults of frames after j."""
    from sparkfp import mpeg_audio as m

    encode, decode = getattr(m, f"encode_{layer}"), getattr(m, f"decode_{layer}")
    good = encode(_signal(n=4000), 32000, 192)
    size = good.find(good[:4], 1)  # the encoders emit equal-size frames
    assert len(good) >= 4 * size

    def fault(buf: bytearray, frame: int, kind: str) -> None:
        at = frame * size
        if kind == "A" and layer == "mp1":
            buf[at + 4] |= 0xF0  # subband 0 allocation code 15
        elif kind == "A":
            buf[at + 5] |= 0x0F  # subband 3 (14-step menu) asks for step 15
        elif layer == "mp1":  # "B": subband 0 active, scalefactor 63
            if buf[at + 4] < 0x10:
                buf[at + 4] |= 0x30
            buf[at + 4 + 16] |= 0xFC
        else:
            buf[at + 6] |= 0xF0  # subband 4 asks for step 15

    msg = {
        ("mp1", "A"): "^forbidden mp1 allocation code 15$",
        ("mp1", "B"): "^invalid mp1 scalefactor index 63$",
        ("mp2", "A"): "^mp2 allocation 15 exceeds subband 3 menu$",
        ("mp2", "B"): "^mp2 allocation 15 exceeds subband 4 menu$",
    }
    for first, then in (("A", "B"), ("B", "A")):
        buf = bytearray(good)
        fault(buf, 2, then)
        with pytest.raises(ValueError, match=msg[layer, then]):
            decode(bytes(buf))
        fault(buf, 1, first)
        with pytest.raises(ValueError, match=msg[layer, first]):
            decode(bytes(buf))  # frame 1 before frame 2
        lost = bytearray(buf)
        lost[2 * size: 2 * size + 4] = bytes(4)
        with pytest.raises(ValueError, match=msg[layer, first]):
            decode(bytes(lost))  # frame 1's payload before frame 2's sync
        with pytest.raises(ValueError, match=msg[layer, first]):
            decode(bytes(buf[: 2 * size + size // 2]))  # ... and its cut body
    # a walk fault at frame 1 hides frame 2's payload fault
    buf = bytearray(good)
    fault(buf, 2, "A")
    buf[size: size + 4] = bytes(4)
    with pytest.raises(ValueError, match="^lost MPEG audio frame sync$"):
        decode(bytes(buf))
    buf = bytearray(good)
    fault(buf, 3, "B")
    with pytest.raises(ValueError, match=f"^truncated {layer} frame body$"):
        decode(bytes(buf[: 2 * size + 7]))


def test_mp1_silence_and_empty_frames():
    from sparkfp import mpeg_audio as m

    y, _ = m.decode_mp1(m.encode_mp1(np.zeros(500), 32000, 32))
    assert len(y) >= 500 and np.abs(y).max() == 0.0


# --------------------------------------------------------------- flac


def _s16(pcm: np.ndarray) -> np.ndarray:
    return np.clip(
        np.asarray(pcm, np.float64) * 32767.0, -32768, 32767
    ).astype(np.int64)


def test_flac_roundtrip_bit_exact():
    """Losslessness is the contract: decode(encode(x)) == x at the
    s16 level, across frame-boundary shapes (sub-block, exact block,
    block+1, multi-block) and subframe types (CONSTANT for silence,
    FIXED for music, VERBATIM for noise)."""
    from sparkfp import flac

    rng = np.random.Generator(np.random.Philox(key=[11, 0]))
    shapes = [
        _signal(n=20000),                                    # FIXED
        np.zeros(5000, np.float32),                          # CONSTANT
        rng.uniform(-1, 1, 4096).astype(np.float32),         # VERBATIM
        _signal(n=4097),                                     # block + 1
        np.float32([0.25]),                                  # single sample
        _signal(n=3),                                        # < max order
    ]
    for pcm in shapes:
        raw = flac.encode_flac(pcm, 32000)
        out, sr = flac.decode_flac(raw)
        assert sr == 32000
        assert np.array_equal(
            np.round(out.astype(np.float64) * 32768).astype(np.int64),
            _s16(pcm),
        )
    # and through the codec-table dispatch
    pcm = _signal()
    out = codec.decode(codec.encode(pcm, "flac", sr_hz=24000), "flac")
    assert codec.snr_db(pcm, out) >= 80.0


def test_flac_compresses_music():
    from sparkfp import flac

    pcm = _signal(n=32000)
    raw = flac.encode_flac(pcm, 32000)
    assert len(raw) < 0.95 * 2 * len(pcm)  # beats raw s16 (noisy signal)
    smooth = np.sin(2 * np.pi * 220 * np.arange(32000) / 32000).astype(
        np.float32
    ) * 0.5
    assert len(flac.encode_flac(smooth, 32000)) < 0.55 * 2 * len(smooth)


def test_flac_engine_decode_equals_oracle_scalar():
    """Vectorized ones-scan Rice decode + cumsum prediction (engine)
    vs the oracle's per-sample bit loop + binomial recurrences."""
    import tools.dsp_oracle as orc
    from sparkfp import flac

    pcm = _signal(n=24000, seed=3)
    raw = flac.encode_flac(pcm, 24000)
    eng = flac.decode_flac(raw)[0].astype(np.float64)
    ora = np.array(orc.decode(raw, "flac"))
    assert np.array_equal(eng, ora)


def test_flac_integrity_layers():
    """Every integrity layer the container carries is verified:
    header CRC-8, frame CRC-16, stream MD5, sample count."""
    from sparkfp import flac

    pcm = _signal(n=9000)
    raw = bytearray(flac.encode_flac(pcm, 32000))
    flac.decode_flac(bytes(raw))  # sanity: intact stream decodes

    md5_at = 8 + 18  # magic(4) + block header(4) + 18 bytes of fields
    tampered = bytearray(raw)
    tampered[md5_at:md5_at + 16] = b"\x01" * 16
    with pytest.raises(ValueError, match="MD5"):
        flac.decode_flac(bytes(tampered))

    # a zeroed MD5 means "unknown" and must NOT fail the decode
    unknown = bytearray(raw)
    unknown[md5_at:md5_at + 16] = b"\x00" * 16
    flac.decode_flac(bytes(unknown))

    # frame-payload bit flip: CRC-16 (or rice layout) must object
    flipped = bytearray(raw)
    flipped[-20] ^= 0x10
    with pytest.raises(ValueError):
        flac.decode_flac(bytes(flipped))

    # header byte flip: CRC-8 must object before the subframe parse
    hdr_flip = bytearray(raw)
    hdr_flip[42 + 3] ^= 0x02  # frame 0 starts at 42; byte 3 = header field
    with pytest.raises(ValueError):
        flac.decode_flac(bytes(hdr_flip))

    with pytest.raises(ValueError, match="truncated|short stream"):
        flac.decode_flac(bytes(raw[:100]) if len(raw) > 100 else bytes(raw[:40]))


def test_flac_subset_boundaries():
    """Outside-subset streams are rejected with UnsupportedCodec —
    never garbled output."""
    from sparkfp import flac

    pcm = np.full(64, 0.5, np.float32)  # CONSTANT frame, fixed layout
    raw = bytearray(flac.encode_flac(pcm, 8000))

    stereo = bytearray(raw)
    stereo[8 + 12] |= 0b0000_0010  # STREAMINFO channels-1: 0 -> 1
    with pytest.raises(codec.UnsupportedCodec, match="channel"):
        flac.decode_flac(bytes(stereo))

    # frame 0 at byte 42: 4 header bytes + utf8 number(1) + blocksize(2)
    # + crc8(1) = 8, so the subframe type byte sits at 50. Rewriting
    # CONSTANT (000000) to LPC order 1 (100000) must raise cleanly
    # (the subframe parse runs before the CRC-16 check).
    lpc = bytearray(raw)
    assert lpc[50] == 0  # pad 0 + type 000000 + wasted 0
    lpc[50] = 0b0_100000_0
    with pytest.raises(codec.UnsupportedCodec, match="LPC"):
        flac.decode_flac(bytes(lpc))

    for junk in (b"", b"fLa", b"XXXX" + bytes(raw[4:]), bytes(raw[:30])):
        with pytest.raises(ValueError):
            flac.decode_flac(junk)
    with pytest.raises(ValueError):
        flac.encode_flac(np.zeros(0, np.float32), 8000)
    with pytest.raises(ValueError):
        flac.encode_flac(pcm, 1 << 20)  # sample rate past 20 bits


def test_flac_rice_escape_and_wasted_bits_decode():
    """Decoder paths our encoder never emits, driven bit-for-bit:
    the escape (raw-width) partition and the wasted-bits shift."""
    from sparkfp import flac

    # escape partition: method 00, partition order 0, param 1111,
    # 5-bit raw width, then blocksize raw signed samples
    vals = np.array([-63, 62, 0, -1, 7, -32, 31, 15], dtype=np.int64)
    buf = flac._BitBuf()
    buf.write(0, 2)
    buf.write(0, 4)
    buf.write(0b1111, 4)
    buf.write(7, 5)
    for v in vals:
        buf.write_signed(int(v), 7)
    buf.align()
    raw = buf.tobytes()
    rd = flac._BitReader(np.unpackbits(np.frombuffer(raw, np.uint8)), raw)
    got = flac._read_residual(rd, blocksize=len(vals), order=0)
    assert np.array_equal(got, vals)

    # wasted bits: CONSTANT subframe, wasted=2, value stored at 14 bits
    buf = flac._BitBuf()
    buf.write(0, 1)          # pad
    buf.write(0, 6)          # CONSTANT
    buf.write(1, 1)          # wasted-bits flag
    buf.write(0b01, 2)       # unary 1 -> wasted = 2
    buf.write_signed(-1200, 14)
    buf.align()
    raw = buf.tobytes()
    rd = flac._BitReader(np.unpackbits(np.frombuffer(raw, np.uint8)), raw)
    x = flac._decode_subframe(rd, blocksize=5, bps=16)
    assert np.array_equal(x, np.full(5, -1200 << 2))


def test_flac_vectorized_rice_equals_scalar():
    """The fixed-point ones-scan must agree with the always-correct
    scalar loop on adversarial parameter/value mixes."""
    from sparkfp import flac

    rng = np.random.Generator(np.random.Philox(key=[13, 0]))
    for k in (0, 1, 3, 7, 14):
        res = (rng.integers(-(1 << (k + 3)), 1 << (k + 3), 500)).astype(
            np.int64
        )
        buf = flac._BitBuf()
        flac._emit_rice_partition(buf, flac._zigzag(res), k)
        buf.align()
        raw = buf.tobytes()
        bits = np.unpackbits(np.frombuffer(raw, np.uint8))
        rd_v = flac._BitReader(bits, raw)
        rd_s = flac._BitReader(bits, raw)
        vec = flac._rice_decode(rd_v, len(res), k)
        sca = flac._rice_decode_scalar(rd_s, len(res), k)
        assert np.array_equal(vec, res) and np.array_equal(sca, res)
        assert rd_v.pos == rd_s.pos


def test_flac_rice_full_window_fallback_equals_scalar(monkeypatch):
    """Remainders of all ones put about count*(k+1) ones in a partition,
    past the first count*(1 + k/2) + margin window: the decode must
    miss that window, fall back to the full one, and still agree with
    the scalar loop."""
    from sparkfp import flac

    k, count = 14, 600
    q = np.arange(count, dtype=np.uint64) % 3
    u = (q << np.uint64(k)) | np.uint64((1 << k) - 1)
    buf = flac._BitBuf()
    flac._emit_rice_partition(buf, u, k)
    buf.align()
    raw = buf.tobytes()
    bits = np.unpackbits(np.frombuffer(raw, np.uint8))
    windows = []
    terminators = flac._rice_terminators

    def spy(rd, base, window, count, k):
        t = terminators(rd, base, window, count, k)
        windows.append((window, t is None))
        return t

    monkeypatch.setattr(flac, "_rice_terminators", spy)
    rd_v = flac._BitReader(bits, raw)
    rd_s = flac._BitReader(bits, raw)
    vec = flac._rice_decode(rd_v, count, k)
    sca = flac._rice_decode_scalar(rd_s, count, k)
    assert windows == [(windows[0][0], True), (count * (k + 1), False)]
    assert np.array_equal(vec, sca) and rd_v.pos == rd_s.pos


def test_flac_k0_partition_ending_on_the_last_byte():
    """A k = 0 partition whose last terminator is the stream's last bit
    reads its (empty) remainders one byte past the end: the decode must
    not index out of range. Cutting a near-silent stream (k = 0
    partitions) at every byte makes that happen in mid-frame, where the
    decode must raise ValueError like any other truncation."""
    from sparkfp import flac

    raw = b"\xff" * 4
    rd = flac._BitReader(np.unpackbits(np.frombuffer(raw, np.uint8)), raw)
    assert np.array_equal(flac._rice_decode(rd, 32, 0), np.zeros(32))
    assert rd.pos == 32

    n = 12288
    pcm = (np.round(np.sin(np.arange(n) * 0.004) * 3) / 32768.0).astype(
        np.float32
    )
    enc = flac.encode_flac(pcm, 8000)
    for cut in range(len(enc)):
        with pytest.raises(ValueError):
            flac.decode_flac(enc[:cut])


def test_flac_crcs_equal_oracle_bitwise_loop():
    """The table-driven CRC-8/CRC-16 == the oracle's bit-at-a-time
    loops, plus the published check values over b"123456789"."""
    import tools.dsp_oracle as orc
    from sparkfp import flac

    rng = np.random.Generator(np.random.Philox(key=[17, 0]))
    for n in (0, 1, 4096, 200_000):
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert flac._crc8(data) == orc._flac_crc8_scalar(data)
        assert flac._crc16(data) == orc._flac_crc16_scalar(data)
    assert flac._crc8(b"123456789") == 0xF4   # CRC-8, poly 0x07
    assert flac._crc16(b"123456789") == 0xFEE8  # CRC-16/BUYPASS, poly 0x8005


def test_png_adam7_interlace_roundtrip_and_oracle_parity():
    """Adam7: engine strided-scatter decode vs the oracle's scalar
    per-pass grid walk, across shapes that leave some passes empty."""
    import tools.dsp_oracle as orc
    from sparkfp import synth

    for h, w in [(24, 17), (7, 9), (1, 1), (3, 10), (9, 8)]:
        img = synth.image_pixels(f"il{h}x{w}", h=h, w=w)
        raw = codec.encode_image(
            img, "png", png_filter=2, png_interlace=True
        )
        assert np.array_equal(codec.decode_image(raw, "png"), img)
        ora = np.array(orc.decode_png_pixels(raw)).reshape(h, w, 3)
        assert np.array_equal(ora.astype(np.uint8), img)
    # interlaced stream with truncated last pass must raise ValueError
    img = synth.image_pixels("il_t", h=16, w=16)
    raw = codec.encode_image(img, "png", png_filter=0, png_interlace=True)
    import struct
    import zlib

    # rebuild the IDAT with one byte chopped off the decompressed tail
    pos, idat = 8, b""
    chunks = []
    while pos + 12 <= len(raw):
        ln = int.from_bytes(raw[pos:pos + 4], "big")
        ctype = raw[pos + 4:pos + 8]
        body = raw[pos + 8:pos + 8 + ln]
        chunks.append((ctype, body))
        if ctype == b"IDAT":
            idat += body
        pos += 12 + ln
    short = zlib.compress(zlib.decompress(idat)[:-1])

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    rebuilt = (
        raw[:8]
        + chunk(b"IHDR", dict(chunks)[b"IHDR"])
        + chunk(b"IDAT", short)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="length mismatch"):
        codec.decode_image(rebuilt, "png")


def test_png_palette_roundtrip_and_oracle_parity():
    """Indexed-color PNG (type 3, PLTE): engine np.unique palette +
    vectorized lookup vs the oracle's scalar per-index expansion,
    composed with interlace and each filter."""
    import tools.dsp_oracle as orc
    from sparkfp import synth

    img = synth.paletted_pixels("pal_t", h=19, w=13, n_colors=30)
    for interlace in (False, True):
        for f in (0, 1, 4):
            raw = codec.encode_image(
                img, "png", png_filter=f, png_interlace=interlace,
                png_palette=True,
            )
            assert np.array_equal(codec.decode_image(raw, "png"), img)
            ora = np.array(orc.decode_png_pixels(raw)).reshape(19, 13, 3)
            assert np.array_equal(ora.astype(np.uint8), img)
    # indexed beats RGB for palette-limited content
    rgb = codec.encode_image(img, "png", png_filter=1)
    pal = codec.encode_image(img, "png", png_filter=1, png_palette=True)
    assert len(pal) < len(rgb)
    # > 256 distinct colors cannot be palette-encoded
    big = synth.image_pixels("pal_big", h=30, w=30)
    with pytest.raises(ValueError, match="256"):
        codec.encode_image(big, "png", png_palette=True)
    # out-of-range palette index in a crafted stream raises ValueError
    import struct
    import zlib

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    scan = b"\x00\x05"  # one pixel, index 5, but palette has 2 entries
    crafted = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", bytes(6))
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        codec.decode_image(crafted, "png")
    # palette image with a missing PLTE chunk raises ValueError
    no_plte = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE"):
        codec.decode_image(no_plte, "png")


# --------------------------- WAV format breadth (tags 1/3/6/7/0xFFFE)


_WAV_VARIANTS = [
    ("pcm", 8, 35.0),     # 8-bit quantization ~43 dB on this signal
    ("pcm", 16, 60.0),
    ("pcm", 24, 60.0),
    ("pcm", 32, 60.0),
    ("float", 32, 80.0),
    ("float", 64, 80.0),
    ("alaw", 8, 30.0),    # G.711 payload inside RIFF
    ("ulaw", 8, 30.0),
]


@pytest.mark.parametrize("sample_format,bits,snr_floor", _WAV_VARIANTS)
@pytest.mark.parametrize("extensible", [False, True])
def test_wav_variant_roundtrip_and_oracle_parity(
    sample_format, bits, snr_floor, extensible
):
    """Every breadth format round-trips above its quantization floor,
    and the engine's vectorized frombuffer/bit-assembly decode equals
    the oracle's per-sample struct walk exactly (same float64 math,
    rounded once to float32). A data chunk that ends inside a sample
    (declared and cut one byte short) decodes its whole samples and
    drops the partial one, as the oracle does."""
    import struct

    import tools.dsp_oracle as orc

    pcm = _signal(n=2001)
    raw = codec.encode_wav_variant(
        pcm, 8000, bits=bits, sample_format=sample_format,
        extensible=extensible,
    )
    eng = codec.decode(raw, "wav")
    assert len(eng) == len(pcm)
    assert codec.snr_db(pcm, eng) >= snr_floor
    ora = np.array(orc.decode(raw, "wav"), dtype=np.float64)
    assert np.array_equal(eng, ora.astype(np.float32))

    size_at = raw.index(b"data") + 4
    (dlen,) = struct.unpack_from("<I", raw, size_at)
    ragged = bytearray(raw[: size_at + 4 + dlen - 1])
    struct.pack_into("<I", ragged, size_at, dlen - 1)
    struct.pack_into("<I", ragged, 4, len(ragged) - 8)
    eng = codec.decode(bytes(ragged), "wav")
    assert len(eng) == (dlen - 1) // (bits // 8) == len(pcm) - 1
    ora = np.array(orc.decode(bytes(ragged), "wav"), dtype=np.float64)
    assert np.array_equal(eng, ora.astype(np.float32))


@pytest.mark.parametrize("fmt", sorted(codec._SAMPLE_FORMATS))
def test_sample_format_table_both_byte_orders(fmt):
    """Each entry of the one sample-format table reads back what it
    writes, to within its quantization error, in both byte orders,
    and the big-endian bytes are the little-endian ones reversed
    sample by sample."""
    x = np.concatenate([_signal(n=997), [-1.0, 1.0, 0.0, -0.5, 0.5]])
    le = codec._quantize(x, fmt, "<")
    be = codec._quantize(x, fmt, ">")
    width = 3 if fmt == "s24" else np.dtype(codec._SAMPLE_FORMATS[fmt][0]).itemsize
    assert len(le) == len(be) == width * len(x)
    assert be == np.frombuffer(le, np.uint8).reshape(-1, width)[:, ::-1].tobytes()
    # the 8-bit writers scale by 127 and the readers by 128
    tol = {"u8": 1.5 / 128, "s8": 1.5 / 128, "ulaw": 0.04, "alaw": 0.04}.get(fmt, 1e-4)
    for order, raw in (("<", le), (">", be)):
        y = codec._dequantize(raw + b"\x7f" * (width - 1), fmt, order)
        assert len(y) == len(x)  # the partial trailing sample is dropped
        np.testing.assert_allclose(y, x, atol=tol)


def test_wav_stereo_channels_are_averaged():
    """Decorrelated stereo decodes to the per-frame channel mean (not
    ch0), for 16-bit PCM and two breadth formats."""
    import tools.dsp_oracle as orc

    x = _signal(n=1500)
    d = 0.25 * _signal(n=1500, seed=11)
    stereo = np.stack([np.clip(x + d, -1, 1), np.clip(x - d, -1, 1)], axis=1)
    for sample_format, bits in (("pcm", 16), ("pcm", 24), ("float", 32)):
        raw = codec.encode_wav_variant(
            stereo, 8000, bits=bits, sample_format=sample_format,
            extensible=(bits == 24),
        )
        eng = codec.decode(raw, "wav")
        assert len(eng) == len(x)
        # the mean of (x+d, x-d) recovers x up to quantization
        assert codec.snr_db(
            np.clip(x + d, -1, 1) / 2 + np.clip(x - d, -1, 1) / 2, eng
        ) >= 35.0
        ora = np.array(orc.decode(raw, "wav"), dtype=np.float64)
        assert np.array_equal(eng, ora.astype(np.float32))


def test_wav_variant_error_paths():
    import struct

    pcm = _signal(n=400)
    # unknown extensible SubFormat GUID -> UnsupportedCodec
    raw = bytearray(
        codec.encode_wav_variant(pcm, 8000, bits=24, extensible=True)
    )
    fmt_at = raw.index(b"fmt ") + 8
    raw[fmt_at + 27] = 0xEE  # corrupt the GUID suffix (fmt[24:40][3])
    with pytest.raises(codec.UnsupportedCodec, match="SubFormat"):
        codec.decode(bytes(raw), "wav")
    # extensible fmt chunk too short for a GUID -> ValueError
    short = bytearray(codec.encode_wav_variant(pcm, 8000, bits=16))
    struct.pack_into("<H", short, short.index(b"fmt ") + 8, 0xFFFE)
    with pytest.raises(ValueError, match="extensible"):
        codec.decode(bytes(short), "wav")
    # unsupported (tag, bits) combination -> UnsupportedCodec
    odd = bytearray(codec.encode_wav_variant(pcm, 8000, bits=16))
    struct.pack_into("<H", odd, odd.index(b"fmt ") + 8 + 14, 12)
    with pytest.raises(codec.UnsupportedCodec, match="tag 1 / 12-bit"):
        codec.decode(bytes(odd), "wav")
    # a 0-channel IMA ADPCM header is corrupt, not an unsupported codec
    adpcm = bytearray(codec.encode(pcm, "adpcm", sr_hz=8000))
    struct.pack_into("<H", adpcm, adpcm.index(b"fmt ") + 8 + 2, 0)
    with pytest.raises(ValueError, match="bad WAV channel count 0"):
        codec.decode(bytes(adpcm), "adpcm")
    # encoder rejects variants the decoder can't read back
    with pytest.raises(ValueError, match="variant"):
        codec.encode_wav_variant(pcm, 8000, bits=12)


# --------------------------------------- MPEG-1 Audio Layer II ("mp2")


def test_mp2_roundtrip_snr_and_alignment():
    from sparkfp import mpeg_audio

    pcm = _signal(n=32000)
    raw = codec.encode(pcm, "mp2", sr_hz=32000)
    out = codec.decode(raw, "mp2")
    # decode covers every input sample; trailing pad < 1152 samples
    assert len(pcm) <= len(out) < len(pcm) + 1152
    # 192 kbps at 32 kHz = 6 bits/sample; the ceiling here is NOT
    # quantization but Table B.2b's sblimit: subbands 30-31 (15-16 kHz)
    # are never coded (spec behavior), and _signal's white-noise floor
    # extends to Nyquist, so 2/32 of its noise power is structurally
    # dropped -> ~36 dB max on this signal regardless of bitrate
    assert codec.snr_db(pcm, out[: len(pcm)]) >= 32.0
    # Layer II beats Layer I at the same LOW bitrate, where grouped
    # quantizers + shared scalefactors dominate (the point of Layer
    # II); at high bitrates the comparison inverts on this signal
    # because Layer I codes all 32 subbands (no sblimit truncation)
    l1 = codec.decode(mpeg_audio.encode_mp1(pcm, 32000, 96), "mp1")
    l2 = codec.decode(mpeg_audio.encode_mp2(pcm, 32000, 96), "mp2")
    assert (codec.snr_db(pcm, l2[: len(pcm)])
            > codec.snr_db(pcm, l1[: len(pcm)]))
    # sample-0 alignment: the 481-sample filterbank delay is dropped
    imp = np.zeros(4000, dtype=np.float32)
    imp[1234] = 0.5
    y, sr = mpeg_audio.decode_mp2(mpeg_audio.encode_mp2(imp, 48000, 384))
    assert sr == 48000
    assert int(np.argmax(np.abs(y))) == 1234


def test_mp2_engine_decode_equals_oracle_scalar_loop():
    """Engine offset-gather + matmul synthesis vs the oracle's literal
    per-bit reader and triple synthesis loop, on both allocation
    tables (48 kHz -> B.2a sblimit 27; 32 kHz @ 192 -> B.2b sblimit
    30). Parity at 1e-6 absolute, same bound as the mp1 twin."""
    import tools.dsp_oracle as orc
    from sparkfp import mpeg_audio as m

    pcm = _signal(n=2000)
    for sr, kbps in ((32000, 192), (48000, 96)):
        raw = m.encode_mp2(pcm, sr, kbps)
        eng = codec.decode(raw, "mp2").astype(np.float64)
        ora = np.array(orc.decode(raw, "mp2"))
        assert eng.shape == ora.shape
        assert np.abs(eng - ora).max() <= 1e-6


def test_mp2_allocation_table_switch_mid_stream():
    """80 and 192 kbps at 32 kHz select Tables B.2a (27 subbands) and
    B.2b (30): a stream whose frames switch between them decodes frame
    by frame with the right table (oracle parity at the 1e-6 bound of
    the twin above), and its PCM is pinned bit for bit."""
    import hashlib

    import tools.dsp_oracle as orc
    from sparkfp import mpeg_audio as m

    pcm = _signal(n=3000)
    lo, hi = m.encode_mp2(pcm, 32000, 80), m.encode_mp2(pcm, 32000, 192)
    raw = lo + hi + lo
    y, sr = m.decode_mp2(raw)
    assert len(lo) == 4 * 360 and len(hi) == 4 * 864  # 4 frames each
    assert sr == 32000 and len(y) == 12 * 1152 - 481
    ora = np.array(orc.decode(raw, "mp2"))
    assert np.abs(y.astype(np.float64) - ora).max() <= 1e-6
    assert hashlib.sha256(y.tobytes()).hexdigest() == (
        "319ce9df3160f14b0cbc113a92db7e6e79a339cdd3010f2b16bb7137de0b9673"
    )


def test_mp2_grouped_quantizer_lattice():
    """The closed-form Table B.4 lattice: a decoded sample from a
    grouped L-level quantizer lands exactly on (2c - L + 1)/L * sf.
    Drives a hand-built single-frame stream through the decoder's
    degrouping path with known codes."""
    from sparkfp import mpeg_audio as m

    # smallest 32 kHz frame (56 kbps -> B.2b): craft silence, then
    # verify the encoder's own grouped codes degroup to the same
    # lattice points the closed form predicts
    pcm = 0.2 * np.sin(0.05 * np.arange(3000)).astype(np.float32)
    raw = m.encode_mp2(pcm, 32000, 96)
    y, _ = m.decode_mp2(raw)
    # energy preserved through a grouped-dominant low-bitrate frame
    assert codec.snr_db(pcm, y[: len(pcm)]) >= 20.0
    # degrouping identity on raw codes: c = s0 + L s1 + L^2 s2
    for lv in (3, 5, 9):
        s = np.array([0, lv // 2, lv - 1])
        c = int(s[0] + lv * s[1] + lv * lv * s[2])
        assert [c % lv, (c // lv) % lv, c // (lv * lv)] == list(s)


def test_mp2_silence_and_empty_frames():
    from sparkfp import mpeg_audio as m

    y, _ = m.decode_mp2(m.encode_mp2(np.zeros(500), 32000, 56))
    assert len(y) >= 500 and np.abs(y).max() == 0.0


def test_png_gray16_and_gray_alpha_decode_with_oracle_parity():
    """Foreign-writer PNG shapes: 16-bit grayscale decodes via the
    high-byte downscale, 8-bit gray+alpha replicates gray and drops
    alpha — both Sub-filtered at byte distance 2, engine vs the
    oracle's scalar walk, plus a direct expectation from the known
    deterministic pixels."""
    import tools.dsp_oracle as orc
    from sparkfp import synth
    from sparkfp.synth import _id_rng

    raw16 = synth.png_foreign_bytes("t16", "gray16", h=9, w=7)
    out16 = codec.decode_image(raw16, "png")
    img16 = _id_rng(42, "t16").integers(0, 65536, size=(9, 7), dtype=np.uint16)
    expect16 = np.repeat((img16 >> 8).astype(np.uint8)[:, :, None], 3, axis=2)
    assert np.array_equal(out16, expect16)
    ora16 = np.array(orc.decode_png_pixels(raw16)).reshape(9, 7, 3)
    assert np.array_equal(ora16.astype(np.uint8), out16)

    rawga = synth.png_foreign_bytes("tga", "ga", h=8, w=5)
    outga = codec.decode_image(rawga, "png")
    imgga = _id_rng(42, "tga").integers(0, 256, size=(8, 10), dtype=np.uint8)
    gray = imgga.reshape(8, 5, 2)[:, :, 0]
    assert np.array_equal(outga, np.repeat(gray[:, :, None], 3, axis=2))
    oraga = np.array(orc.decode_png_pixels(rawga)).reshape(8, 5, 3)
    assert np.array_equal(oraga.astype(np.uint8), outga)

    # 16-bit RGBA also routes through the generalized path: craft one
    import struct
    import zlib

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    px = np.arange(2 * 2 * 4, dtype=np.uint16).reshape(2, 2, 4) * 997
    scan = b"".join(b"\x00" + row.astype(">u2").tobytes() for row in px)
    raw = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")
    )
    out = codec.decode_image(raw, "png")
    assert np.array_equal(out, (px[:, :, :3] >> 8).astype(np.uint8))
    # 16-bit palette is invalid per spec -> UnsupportedCodec
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0))
        + chunk(b"PLTE", bytes(3))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00")) + chunk(b"IEND", b"")
    )
    with pytest.raises(codec.UnsupportedCodec):
        codec.decode_image(bad, "png")


# ------------------------------------------- AIFF / Sun AU containers


def test_aiff_roundtrip_stereo_and_oracle_parity():
    import tools.dsp_oracle as orc

    pcm = _signal(n=1700)
    raw = codec.encode(pcm, "aiff", sr_hz=8000)
    out = codec.decode(raw, "aiff")
    assert len(out) == len(pcm)
    assert codec.snr_db(pcm, out) >= 80.0  # 16-bit PCM, near-lossless
    ora = np.array(orc.decode(raw, "aiff"), dtype=np.float64)
    assert np.array_equal(out, ora.astype(np.float32))
    # decorrelated stereo -> channel mean
    d = 0.2 * _signal(n=1700, seed=9)
    stereo = np.stack([np.clip(pcm + d, -1, 1), np.clip(pcm - d, -1, 1)],
                      axis=1)
    raws = codec.encode_aiff(stereo, 8000)
    outs = codec.decode(raws, "aiff")
    assert len(outs) == len(pcm)
    assert codec.snr_db(stereo.mean(axis=1).astype(np.float32), outs) >= 60.0
    assert np.array_equal(
        outs, np.array(orc.decode(raws, "aiff")).astype(np.float32)
    )


def test_aiff_f80_sample_rate_codec():
    """The 80-bit extended sample-rate field round-trips every MPEG/
    telephony rate exactly."""
    from sparkfp.codec import _f80_from_rate, _rate_from_f80

    for sr in (8000, 16000, 22050, 32000, 44100, 48000, 96000):
        assert _rate_from_f80(_f80_from_rate(sr)) == sr
    # an exponent past float64's range is a bad rate, not OverflowError
    for se in (0x443E, 0x7FFF):
        with pytest.raises(ValueError, match="bad AIFF sample rate"):
            _rate_from_f80(se.to_bytes(2, "big") + (1).to_bytes(8, "big"))


@pytest.mark.parametrize("encoding,floor", [
    (1, 30.0),   # mu-law
    (2, 32.0),   # signed 8-bit PCM
    (3, 80.0),   # 16-bit BE PCM
    (6, 80.0),   # float32 BE
    (27, 30.0),  # A-law
])
def test_au_roundtrip_all_encodings_and_oracle_parity(encoding, floor):
    import tools.dsp_oracle as orc

    pcm = _signal(n=1500)
    raw = codec.encode_au(pcm, 8000, encoding=encoding)
    out = codec.decode(raw, "au")
    assert len(out) == len(pcm)
    assert codec.snr_db(pcm, out) >= floor
    ora = np.array(orc.decode(raw, "au"), dtype=np.float64)
    assert np.array_equal(out, ora.astype(np.float32))


def test_aiff_au_error_paths():
    import struct

    pcm = _signal(n=300)
    good_aiff = codec.encode(pcm, "aiff")
    good_au = codec.encode(pcm, "au")
    with pytest.raises(ValueError, match="not an AIFF"):
        codec.decode(b"FORM\x00\x00\x00\x04WAVE", "aiff")
    with pytest.raises(ValueError, match="truncated AIFF"):
        codec.decode(good_aiff[:-3], "aiff")
    # 8-bit AIFF is valid-but-unimplemented
    bits8 = bytearray(good_aiff)
    struct.pack_into(">h", bits8, bits8.index(b"COMM") + 8 + 6, 8)
    with pytest.raises(codec.UnsupportedCodec, match="8-bit"):
        codec.decode(bytes(bits8), "aiff")
    # corrupt 80-bit rate (negative) -> ValueError
    badrate = bytearray(good_aiff)
    badrate[badrate.index(b"COMM") + 8 + 8] |= 0x80
    with pytest.raises(ValueError, match="rate"):
        codec.decode(bytes(badrate), "aiff")
    with pytest.raises(ValueError, match="not a Sun AU"):
        codec.decode(b"dns." + bytes(20), "au")
    # unknown AU encoding -> UnsupportedCodec
    enc9 = bytearray(good_au)
    struct.pack_into(">I", enc9, 12, 9)
    with pytest.raises(codec.UnsupportedCodec, match="encoding 9"):
        codec.decode(bytes(enc9), "au")
    # declared data size beyond the payload -> ValueError
    overs = bytearray(good_au)
    struct.pack_into(">I", overs, 8, 2 ** 30)
    with pytest.raises(ValueError, match="truncated AU"):
        codec.decode(bytes(overs), "au")
    # dsize 0xFFFFFFFF means unknown length and decodes fine
    unk = bytearray(good_au)
    struct.pack_into(">I", unk, 8, 0xFFFFFFFF)
    assert len(codec.decode(bytes(unk), "au")) == len(pcm)
    with pytest.raises(ValueError, match="offset"):
        codec.decode(good_au[:4] + struct.pack(">IIIII", 4, 0, 3, 8000, 1)
                     + bytes(8), "au")
