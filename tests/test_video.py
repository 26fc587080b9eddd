"""MJPEG video codec: container round-trips, error contract, engine
vs scalar-oracle equality, and the Spark decode-boundary path.

The reference treats media bytes as opaque until its decode boundary
(src/flink_job/serialization.py:14-20); these tests pin that boundary
as REAL for Motion-JPEG video (sparkfp/video.py), leaving h264 as the
only deterministic-fake surface."""

import os
import sys

import numpy as np
import pytest

from sparkfp import codec, jpeg, synth, video

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _frames(vid="tv", n=4, **kw):
    return synth.video_frames(vid, n_frames=n, **kw)


@pytest.mark.parametrize("container", ["avi", "raw"])
@pytest.mark.parametrize("subsample", [False, True])
def test_mjpeg_roundtrip_psnr(container, subsample):
    # smooth gradient frames: PSNR must be high for a correct decode
    # (noise frames under 4:2:0 chroma loss would not discriminate)
    t = np.arange(4, dtype=np.float64)[:, None, None, None]
    gy = np.arange(32, dtype=np.float64)[None, :, None, None]
    gx = np.arange(24, dtype=np.float64)[None, None, :, None]
    frames = np.clip(4 * t + 3 * gy + 2 * gx + np.zeros((1, 1, 1, 3)), 0, 255
                     ).astype(np.uint8)
    raw = video.encode_mjpeg(
        frames, container=container, subsample=subsample, quality=90
    )
    out = video.decode_mjpeg(raw)
    assert out.shape == frames.shape and out.dtype == np.uint8
    assert jpeg.psnr(frames, out) >= 30.0


def test_mjpeg_engine_equals_scalar_oracle():
    import tools.dsp_oracle as orc

    for container in ("avi", "raw"):
        raw = synth.mjpeg_bytes("tv_eq", n_frames=3, container=container)
        eng = video.decode_mjpeg(raw).astype(np.float64).ravel()
        ora = np.array(orc.decode_mjpeg_pixels(raw))
        assert np.array_equal(eng, ora), container


def test_avi_frame_count_and_order():
    frames = _frames(n=5)
    out = video.decode_mjpeg(video.encode_mjpeg(frames, quality=95))
    assert out.shape[0] == 5
    # frames carry a moving bright bar at column 3t: decode order must
    # preserve it (a shuffled movi walk would swap bars between frames)
    for t in range(5):
        col_means = out[t].mean(axis=(0, 2))
        assert int(np.argmax(col_means)) == (3 * t) % frames.shape[2]


def test_raw_stream_split_survives_ffd9_in_segment_payload():
    """A DQT byte pair 0xFF,0xD9 inside a segment must NOT split the
    stream early — the splitter walks marker structure, not bytes."""
    frame = jpeg.encode_jpeg(synth.image_pixels("ffd9"), quality=90)
    # inject an APP1 segment whose payload contains FF D9 right after SOI
    app1 = b"\xff\xe1\x00\x06\xff\xd9\xff\x00"
    doctored = frame[:2] + app1 + frame[2:]
    assert np.array_equal(jpeg.decode_jpeg(doctored), jpeg.decode_jpeg(frame))
    raw = doctored + frame
    out = video.decode_mjpeg(raw)
    assert out.shape[0] == 2
    assert np.array_equal(out[0], out[1])


@pytest.mark.parametrize(
    "raw",
    [
        b"",
        b"RIFF\x00\x00\x00\x00AVI ",            # AVI with no chunks
        b"RIFF\xff\xff\xff\x00AVI ",            # dishonest RIFF size
        b"\xff\xd8\xff\xda\x00\x02",            # truncated entropy stream
        b"MJPGnot-a-container",
        b"\xff\xd8" + b"\xff\xd9" + b"junk",    # trailing garbage after EOI
    ],
)
def test_malformed_mjpeg_raises_valueerror(raw):
    with pytest.raises((ValueError, codec.UnsupportedCodec)):
        video.decode_mjpeg(raw)


def test_deeply_nested_avi_lists_raise_valueerror_not_recursionerror():
    # 3000 nested LIST/rec  headers fit in ~36 KB and would blow the
    # interpreter stack without the walk() depth cap
    import struct as _struct

    depth = 3000
    body = b""
    for _ in range(depth):
        body = b"LIST" + _struct.pack("<I", len(body) + 4) + b"rec " + body
    movi = b"LIST" + _struct.pack("<I", len(body) + 4) + b"movi" + body
    raw = b"RIFF" + _struct.pack("<I", len(movi) + 4) + b"AVI " + movi
    with pytest.raises(ValueError, match="nesting too deep"):
        video.decode_mjpeg(raw)


def test_geometry_change_mid_stream_rejected():
    a = jpeg.encode_jpeg(synth.image_pixels("ga", h=16, w=16))
    b = jpeg.encode_jpeg(synth.image_pixels("gb", h=24, w=16))
    with pytest.raises(ValueError):
        video.decode_mjpeg(a + b)


def test_decode_media_routes_mjpeg():
    from sparkfp import multimodal

    frames = _frames(n=3)
    arr = multimodal.decode_media(video.encode_mjpeg(frames), "mjpeg")
    assert arr.shape == frames.shape and arr.dtype == np.uint8


def test_frame_sample_features_mjpeg_rows_decode_true(spark):
    """Spark path: MJPEG rows come back decoded=true with real stats;
    a corrupt MJPEG row surfaces decoded=false without failing the
    task (per-row error contract at the decode boundary)."""
    from sparkfp import multimodal

    good = synth.mjpeg_bytes("sv_ok", n_frames=2)
    rows = [
        ("ok", good, "mjpeg"),
        ("bad", good[: len(good) // 2], "mjpeg"),
    ]
    df = spark.createDataFrame(rows, "media_id string, bytes binary, codec string")
    out = {
        r["media_id"]: r
        for r in multimodal.frame_sample_features(df).collect()
    }
    assert out["ok"]["decoded"] is True
    exp = video.decode_mjpeg(good)
    assert out["ok"]["frame_mean"] == pytest.approx(float(exp.mean()))
    assert out["bad"]["decoded"] is False and out["bad"]["frame_mean"] is None
