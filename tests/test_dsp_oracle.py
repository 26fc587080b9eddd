"""Engine vs independent-oracle equivalence for the audio DSP chain.

tools/dsp_oracle.py is a from-scratch second implementation (direct
DFT, naive peak/pair/vote loops, scalar decoders — no code shared with
sparkfp/). These tests close the verification triangle:

    engine == oracle            (this file)
    oracle == committed fixture (this file: fixtures are *generated*
                                 by the oracle — tools/gen_audio_fixtures.py)
    engine == committed fixture (test_matching.py::test_audio_fixtures_current,
                                 and the driver's per-round hash gate)

Reference parity anchor: flatMap->window->probe semantics of
src/flink_job/job.py:63-82 and src/postprocess/save_fingerprints.py:140-153.
"""

from collections import Counter

import numpy as np
import pandas as pd
import pytest

import tools.dsp_oracle as orc
import tools.gen_audio_fixtures as gen
from sparkfp import codec, dsp, matching, synth

N_TRACKS = 4
TRACK_IDS = synth.default_track_ids(N_TRACKS)


def test_contract_constants_agree():
    """Both implementations restate the analysis contract; they must agree."""
    assert (orc.N_FFT, orc.HOP, orc.FAN_OUT, orc.MAX_DT_FRAMES) == (
        dsp.N_FFT,
        dsp.HOP,
        dsp.FAN_OUT,
        dsp.MAX_DT_FRAMES,
    )
    assert orc.PEAK_FACTOR == dsp.PEAK_FACTOR
    assert orc.band_edges() == list(dsp._BAND_EDGES)
    assert (orc.SR_REF, orc.RESAMPLE_HALF_TAPS) == (
        dsp.SR_REF,
        dsp.RESAMPLE_HALF_TAPS,
    )
    assert (orc.OFFSET_BIN_MS, orc.MIN_VOTES, orc.MIN_SCORE) == (
        matching.OFFSET_BIN_MS,
        matching.MIN_VOTES,
        matching.MIN_SCORE,
    )


@pytest.mark.parametrize(
    "codec_name", ["pcm_s16le", "ulaw", "alaw", "wav", "adpcm"]
)
def test_decode_engine_equals_oracle(codec_name):
    rng = np.random.default_rng(11)
    pcm = (0.4 * rng.standard_normal(5000)).astype(np.float32)
    raw = codec.encode(pcm, codec_name)
    eng = codec.decode(raw, codec_name)
    ora = np.array(orc.decode(raw, codec_name))
    assert np.array_equal(eng.astype(np.float64), ora)


@pytest.mark.parametrize(
    "codec_name", ["pcm_s16le", "ulaw", "alaw", "wav", "adpcm"]
)
def test_landmarks_engine_equals_oracle(codec_name):
    """Exact (hash, t_ms) multiset equality per clip, both codecs,
    noise and excerpt clips alike."""
    for i in range(8):
        cid = f"clip_{i:08d}"
        _, raw, sr, _, _, _, _ = synth.clip_row(cid, TRACK_IDS, codec_name=codec_name)
        h, t = dsp.extract_clip_landmarks(raw, codec_name, sr)
        eng = Counter(zip(h.tolist(), t.tolist()))
        ora = Counter(orc.clip_landmarks(raw, codec_name, sr))
        assert eng == ora, f"{cid} landmark multiset diverged"
        assert sum(eng.values()) > 0 or i in ()  # noise clips still landmark


def test_match_engine_equals_oracle(spark):
    """Full pipeline: Spark relational matcher == dict-vote oracle,
    including vote counts, offsets, thresholds and score."""
    index = matching.build_index(synth.tracks(spark, n_tracks=N_TRACKS))
    clips = synth.clips(spark, n_clips=24, n_tracks=N_TRACKS)
    eng = {
        r.clip_id: (r.matched_track, r.offset_ms, r.vote_count, round(r.score, 9))
        for r in matching.match_pipeline(clips, index).collect()
    }
    tracks = [
        (t, codec.encode(synth.track_pcm(t), "pcm_s16le"), "pcm_s16le", synth.SR_HZ)
        for t in TRACK_IDS
    ]
    oidx = orc.build_index(tracks)
    ora = {}
    for i in range(24):
        cid, raw, sr, dur, cname, _, _ = synth.clip_row(cid := f"clip_{i:08d}", TRACK_IDS)
        m = orc.match_clip(orc.clip_landmarks(raw, cname, sr), oidx, dur)
        if m is not None:
            ora[cid] = (m[0], m[1], m[2], round(m[3], 9))
    assert eng == ora


def test_fixtures_equal_oracle_regeneration():
    """The committed fixtures must be exactly what the oracle generates
    today — i.e. they are oracle output, not engine output.

    Sign-bit sensitive: assert_frame_equal treats -0.0 == +0.0, but the
    driver's value hash encodes the IEEE bit pattern (the r3 red row was
    exactly this), so float columns are additionally compared bitwise.
    """
    for name in gen.GENERATORS:
        new = gen.generate(name)
        old = pd.read_parquet(f"fixtures/{name}_expected.parquet")
        old = old.sort_values(list(old.columns)).reset_index(drop=True)
        pd.testing.assert_frame_equal(new, old[list(new.columns)], check_dtype=True)
        for c in new.columns:
            if new[c].dtype == np.float64:
                a = new[c].fillna(0.0).to_numpy()
                b = old[c].fillna(0.0).to_numpy()
                assert np.array_equal(
                    np.signbit(a), np.signbit(b)
                ), f"{name}.{c}: sign-bit drift (-0.0 vs +0.0)"


def test_no_fixture_contains_negative_zero():
    """Spark ROUND (Java BigDecimal) never emits -0.0; any fixture float
    that rounds to zero from below must be normalized to +0.0 by
    round_half_up, else the driver's sign-bit-sensitive hash goes red."""
    assert orc.round_half_up(-0.00002, 3) == 0.0
    assert not np.signbit(orc.round_half_up(-0.00002, 3))
    assert not np.signbit(orc.round_half_up(-0.0, 4))
    assert orc.round_half_up(-0.0006, 3) == -0.001  # real negatives survive
    for name in gen.GENERATORS:
        pdf = pd.read_parquet(f"fixtures/{name}_expected.parquet")
        for c in pdf.columns:
            if pdf[c].dtype == np.float64:
                vals = pdf[c].dropna().to_numpy()
                bad = np.signbit(vals) & (vals == 0.0)
                assert not bad.any(), f"{name}.{c}: fixture contains -0.0"


# ---------------------------------------------------- mixed sample rate


def test_resample_engine_equals_oracle_scalar():
    """Phase-table / strided single-phase resampler == the oracle's
    literal per-output-sample sinc loop, across up/down/fractional
    ratios."""
    rng = np.random.default_rng(9)
    x = np.clip(
        0.5 * np.sin(0.05 * np.arange(2500))
        + 0.05 * rng.standard_normal(2500),
        -1, 1,
    ).astype(np.float32)
    for sr_in, sr_out in ((16000, 8000), (8000, 16000), (44100, 8000),
                          (11025, 8000)):
        eng = dsp.resample(x, sr_in, sr_out).astype(np.float64)
        ora = np.array(
            orc._resample_scalar([float(v) for v in x], sr_in, sr_out)
        )
        assert eng.shape == ora.shape
        assert np.abs(eng - ora).max() < 1e-6  # float32 output cast


def _resample_per_sample_kernel(pcm, sr_in, sr_out, half_taps=dsp.RESAMPLE_HALF_TAPS):
    """The resampler as first written: one kernel row and one clipped
    index row per output sample, in 65,536-row chunks."""
    x, n_in = np.asarray(pcm, dtype=np.float64), len(pcm)
    n_out = int(round(n_in * sr_out / sr_in))
    if n_in == 0 or n_out == 0:
        return np.zeros(0, dtype=np.float32)
    cutoff = min(1.0, sr_out / sr_in)
    h_taps = int(np.ceil(half_taps / cutoff))
    k = np.arange(-h_taps + 1, h_taps + 1, dtype=np.float64)
    out = np.empty(n_out, dtype=np.float64)
    for lo in range(0, n_out, 65536):
        t = np.arange(lo, min(lo + 65536, n_out), dtype=np.float64) * (sr_in / sr_out)
        i0 = np.floor(t).astype(np.int64)
        d = k[None, :] - (t - i0)[:, None]
        kern = cutoff * np.sinc(cutoff * d)
        kern *= np.where(np.abs(d) < h_taps, 0.5 + 0.5 * np.cos(np.pi * d / h_taps), 0.0)
        kern /= kern.sum(axis=1, keepdims=True)
        idx = np.clip(i0[:, None] + k[None, :].astype(np.int64), 0, n_in - 1)
        out[lo:lo + len(t)] = (x[idx] * kern).sum(axis=1)
    return out.astype(np.float32)


@pytest.mark.parametrize(
    "sr_in, sr_out, n_in",
    [(sr, 8000, 4 * sr) for sr in (11025, 16000, 22050, 32000, 44100, 48000)]
    + [(8000, 16000, 20000),   # upsampling
       (16000, 8000, 140000),  # n_out > 65,536: crosses the chunk edge
       (44100, 8000, 400000),
       (44100, 8000, 1), (16000, 8000, 1), (8000, 16000, 1),
       (44100, 8000, 0), (16000, 8000, 0)],
)
def test_resample_bit_identical_to_per_sample_kernel(sr_in, sr_out, n_in):
    """The resampler's output is pinned bit for bit, not to a
    tolerance: landmark hashes at foreign rates depend on every bit."""
    rng = np.random.default_rng(sr_in + n_in)
    x = np.clip(0.3 * rng.standard_normal(n_in), -1, 1).astype(np.float32)
    got = dsp.resample(x, sr_in, sr_out)
    assert got.dtype == np.float32
    assert np.array_equal(got, _resample_per_sample_kernel(x, sr_in, sr_out))


def test_resample_sine_fidelity():
    """A mid-band tone survives rate conversion nearly unscathed: the
    resampled signal must track the analytically generated tone at the
    target rate (>=40 dB, interior samples)."""
    f = 700.0
    for sr_in, sr_out in ((8000, 16000), (16000, 8000), (44100, 8000)):
        n_in = sr_in  # 1 second
        x = (0.5 * np.sin(2 * np.pi * f * np.arange(n_in) / sr_in)).astype(
            np.float32
        )
        y = dsp.resample(x, sr_in, sr_out)
        n_out = len(y)
        ref = (0.5 * np.sin(2 * np.pi * f * np.arange(n_out) / sr_out)).astype(
            np.float32
        )
        cut = 64  # edge-hold padding distorts the first/last taps
        assert codec.snr_db(ref[cut:-cut], y[cut:-cut]) >= 40.0


def test_landmarks_at_foreign_rate_engine_equals_oracle():
    """A 16 kHz clip: the engine resamples to SR_REF inside
    extract_clip_landmarks; the oracle resamples with its scalar loop.
    The landmark multisets must agree exactly."""
    pcm16 = synth.track_pcm(TRACK_IDS[0], dur_ms=2000, sr_hz=16000)
    raw = codec.encode(pcm16, "pcm_s16le")
    h, t = dsp.extract_clip_landmarks(raw, "pcm_s16le", 16000)
    eng = Counter(zip(h.tolist(), t.tolist()))
    ora = Counter(orc.clip_landmarks(raw, "pcm_s16le", 16000))
    assert eng == ora
    assert sum(eng.values()) > 0
