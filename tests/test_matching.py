"""End-to-end audio match tests vs synthesizer ground truth.

Every non-noise clip is an excerpt of a known track at a known offset;
every noise clip must be rejected. This mirrors the reference's
golden-output strategy (committed JSONL outputs) with a deterministic
seed instead of wall-clock capture.
"""

import numpy as np
import pytest

from sparkfp import codec, dsp, matching, streaming, synth
from sparkfp.sink import ExactlyOnceParquetSink

N_TRACKS = 5
N_CLIPS = 30


@pytest.fixture(scope="module")
def index(spark):
    return matching.build_index(synth.tracks(spark, n_tracks=N_TRACKS)).cache()


@pytest.fixture(scope="module")
def clips(spark):
    return synth.clips(spark, n_clips=N_CLIPS, n_tracks=N_TRACKS).cache()


def ground_truth_for(clip_id: str, track_ids: list[str], seed: int = 42):
    """(is_noise, track_id, offset_ms, float32 pcm before codec) of
    ``synth.clip_row``'s clip, drawn from the same per-clip stream."""
    rng = synth._id_rng(seed, clip_id)
    dur_ms = int(rng.integers(3000, 8001))
    n = int(synth.SR_HZ * dur_ms / 1000)
    is_noise = rng.random() < 0.3
    if is_noise:
        pcm = (0.1 * rng.standard_normal(n)).astype(np.float32)
        return True, None, None, np.clip(pcm, -1.0, 1.0)
    tid = track_ids[int(rng.integers(0, len(track_ids)))]
    track = synth.track_pcm(tid, seed=seed)
    max_off = max(len(track) - n, 1)
    off = int(rng.integers(0, max_off))
    pcm = track[off : off + n].copy()
    pcm += (0.01 * rng.standard_normal(len(pcm))).astype(np.float32)
    return False, tid, int(off * 1000 / synth.SR_HZ), np.clip(pcm, -1.0, 1.0)


@pytest.fixture(scope="module")
def truth():
    tids = synth.default_track_ids(N_TRACKS)
    return {
        f"clip_{i:08d}": ground_truth_for(f"clip_{i:08d}", tids)
        for i in range(N_CLIPS)
    }


def test_decode_invariant_snr_and_transcript(spark, clips, truth):
    """input_hint: decoded-PCM allclose (SNR >= 30 dB) + transcript equality."""
    for r in clips.collect():
        is_noise, _, _, gt_pcm = truth[r.clip_id]
        decoded = codec.decode(bytes(r.bytes), r.codec)
        assert len(decoded) == len(gt_pcm)
        assert codec.snr_db(gt_pcm, decoded) >= 30.0
        assert r.transcript == synth.transcript_for(r.clip_id)


def test_landmark_extraction_deterministic_and_nonempty(spark, clips):
    lm1 = dsp.landmarks(clips).toPandas().sort_values(["clip_id", "hash", "t_ms"])
    lm2 = dsp.landmarks(clips).toPandas().sort_values(["clip_id", "hash", "t_ms"])
    assert len(lm1) > 0
    assert np.array_equal(lm1[["hash", "t_ms"]].values, lm2[["hash", "t_ms"]].values)
    # every clip fans out to many landmarks (reference flatMap analog)
    per_clip = lm1.groupby("clip_id").size()
    assert per_clip.min() > 50


def test_match_pipeline_against_ground_truth(spark, clips, index, truth):
    res = {r.clip_id: r for r in matching.match_pipeline(clips, index).collect()}
    for cid, (is_noise, tid, off, _) in truth.items():
        if is_noise:
            assert cid not in res, f"noise clip {cid} matched {res.get(cid)}"
        else:
            assert cid in res, f"clip {cid} (track {tid} @ {off}ms) not matched"
            assert res[cid].matched_track == tid
            # offset recovered within one hop + one bin
            assert abs(res[cid].offset_ms - off) <= 200
            assert res[cid].vote_count >= matching.MIN_VOTES
            assert res[cid].score >= matching.MIN_SCORE


def test_match_rows_deterministic(spark, clips, index):
    a = sorted(map(tuple, matching.match_pipeline(clips, index).collect()))
    b = sorted(map(tuple, matching.match_pipeline(clips, index).collect()))
    assert a == b


def test_fused_matcher_equals_relational(spark, clips, index):
    """match_clips_fused (zero-shuffle Arrow path) == relational matcher."""
    rel = {
        r.clip_id: (r.matched_track, r.offset_ms, r.vote_count, round(r.score, 9))
        for r in matching.match_pipeline(clips, index).collect()
    }
    fused = {
        r.clip_id: (r.matched_track, r.offset_ms, r.vote_count, round(r.score, 9))
        for r in matching.match_clips_fused(clips, index).collect()
    }
    assert fused == rel


def test_fused_stream_equals_batch(spark, clips, index, tmp_path):
    src = str(tmp_path / "src")
    streaming.write_stream_source(clips, src, n_files=4)
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = streaming.match_stream_fused(
        streaming.read_clip_stream(spark, src), index, sink, str(tmp_path / "ck")
    )
    q.awaitTermination(300)
    got = {
        r.clip_id: (r.matched_track, r.offset_ms, r.vote_count)
        for r in sink.read(spark).collect()
    }
    exp = {
        r.clip_id: (r.matched_track, r.offset_ms, r.vote_count)
        for r in matching.match_pipeline(clips, index).collect()
    }
    assert got == exp


def test_match_with_shuffle_join_equals_broadcast(spark, clips, index):
    """broadcast_index=False (the bucketed/shuffle-join scale path for a
    non-broadcastable index) produces identical matches."""
    from sparkfp import dsp

    lm = dsp.landmarks(clips)
    a = sorted(map(tuple, matching.match(lm, index, clip_meta=clips).collect()))
    b = sorted(
        map(
            tuple,
            matching.match(
                lm, index, broadcast_index=False, clip_meta=clips
            ).collect(),
        )
    )
    assert a == b


def test_shuffle_join_skew_split_bounds_hot_hash(spark):
    """The non-broadcast (bucketed shuffle-join) match path under a
    Zipf landmark corpus: landmark hashes are hot-key-skewed in real
    audio (common note pairs), and at 100 TB one hot hash must not pin
    a whole join to one task. With AQE skew-join enabled the hot
    partition is SPLIT (SortMergeJoin(skew=true) in the final adaptive
    plan) and the result still equals the broadcast path. Thresholds
    are lowered test-locally; production skew sizes clear the defaults.
    """
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        n_hot, n_cold = 200_000, 2000
        lm = spark.range(n_hot + n_cold).select(
            F.when(F.col("id") < n_hot, F.lit(0)).otherwise(F.col("id")).alias("hash"),
            F.concat(F.lit("clip_"), (F.col("id") % 50).cast("string")).alias(
                "clip_id"
            ),
            (F.col("id") % 1000).cast("int").alias("t_ms"),
        )
        idx = spark.range(2000).select(
            F.when(F.col("id") < 4, F.lit(0)).otherwise(F.col("id")).alias("hash"),
            F.concat(F.lit("track_"), (F.col("id") % 4).cast("string")).alias(
                "track_id"
            ),
            (F.col("id") % 500).cast("int").alias("t_track_ms"),
        )
        shuffled = matching.match(
            lm, idx, broadcast_index=False, min_votes=1, min_score=0
        )
        got = sorted(map(tuple, shuffled.collect()))
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        exp = sorted(
            map(
                tuple,
                matching.match(lm, idx, min_votes=1, min_score=0).collect(),
            )
        )
        assert got == exp and len(got) > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_audio_fixtures_current(spark):
    """The committed oracle fixtures (fixtures/*_expected.parquet) must
    equal live engine output — they back the driver's hash gate for the
    three non-SQL audio queries. On an intentional DSP/matcher change,
    rerun tools/gen_audio_fixtures.py and review the fixture diff."""
    import os

    import pandas as pd

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in entrymod.FIXTURE_QUERIES:
        live = qs[name](spark, "/root/testdata/sf0.001").toPandas()
        path = os.path.join(entrymod.FIXTURE_DIR, f"{name}_expected.parquet")
        expected = pd.read_parquet(path)
        cols = list(expected.columns)
        live = live[cols].sort_values(cols).reset_index(drop=True)
        expected = expected.sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(live, expected, check_dtype=True), name
        # assert_frame_equal treats -0.0 == +0.0; the driver's value hash
        # does not (r3's red row) — compare float sign bits too.
        import numpy as np

        for c in cols:
            if expected[c].dtype == np.float64:
                a = live[c].fillna(0.0).to_numpy()
                b = expected[c].fillna(0.0).to_numpy()
                assert np.array_equal(
                    np.signbit(a), np.signbit(b)
                ), f"{name}.{c}: engine/fixture sign-bit drift"


def test_match_pipeline_mixed_sample_rates(spark, index):
    """A real web corpus is mixed-rate: the sr_hz column varies per
    clip. Clips are synthesized ANALYTICALLY at 16/44.1 kHz (same
    closed-form music, no resampler involved in construction); the
    engine must normalize them to SR_REF internally and still match
    the 8 kHz-indexed tracks at the right offsets, while foreign-rate
    noise stays rejected."""
    from sparkfp import schema

    tids = synth.default_track_ids(N_TRACKS)
    rows, expected = [], {}
    rng = np.random.default_rng(77)
    for i, sr in enumerate((16000, 44100, 16000, 44100)):
        cid = f"mix_{i}_{sr}"
        tid = tids[i % N_TRACKS]
        off_ms = 2000 + 1500 * i
        track = synth.track_pcm(tid, sr_hz=sr)
        s = int(sr * off_ms / 1000)
        pcm = track[s: s + 5 * sr].copy()  # 5-second excerpt
        pcm += (0.01 * rng.standard_normal(len(pcm))).astype(np.float32)
        rows.append(
            (cid, codec.encode(np.clip(pcm, -1, 1), "pcm_s16le"), sr,
             5000, "pcm_s16le", "", 1_700_000_000_000)
        )
        expected[cid] = (tid, off_ms)
    # foreign-rate noise must be rejected
    rows.append(
        ("mix_noise_44100",
         codec.encode(
             (0.1 * rng.standard_normal(3 * 44100)).astype(np.float32),
             "pcm_s16le",
         ),
         44100, 3000, "pcm_s16le", "", 1_700_000_000_000)
    )
    clips16 = spark.createDataFrame(rows, schema.CLIP)
    got = {
        r.clip_id: (r.matched_track, r.offset_ms)
        for r in matching.match_pipeline(clips16, index).collect()
    }
    assert set(got) == set(expected)
    for cid, (tid, off_ms) in expected.items():
        gt, go = got[cid]
        assert gt == tid, f"{cid}: matched {gt}, expected {tid}"
        assert abs(go - off_ms) <= 200, f"{cid}: offset {go} vs {off_ms}"


def test_audio_near_dup_reencodes_cluster(spark):
    """Dedup for a training corpus: the same recording re-encoded
    (G.711 A-law, IMA ADPCM, and an analytic 16 kHz re-render) must
    pair with every other variant of itself via landmark-hash Jaccard,
    and never with a different recording. The expected pair set is
    recomputed scalar-side from the oracle's landmark extractor with
    the same hub-hash cap — a genuine second computation of the
    pair list."""
    import itertools

    import pandas as pd

    import tools.dsp_oracle as orc
    from sparkfp import schema

    tids = synth.default_track_ids(3)
    rows = []
    for tid in tids:
        pcm8 = synth.track_pcm(tid, dur_ms=6000)
        pcm16 = synth.track_pcm(tid, dur_ms=6000, sr_hz=16000)
        rows += [
            (f"{tid}:pcm", codec.encode(pcm8, "pcm_s16le"), 8000, 6000,
             "pcm_s16le", "", 0),
            (f"{tid}:alaw", codec.encode(pcm8, "alaw"), 8000, 6000,
             "alaw", "", 0),
            (f"{tid}:adpcm", codec.encode(pcm8, "adpcm"), 8000, 6000,
             "adpcm", "", 0),
            (f"{tid}:sr16", codec.encode(pcm16, "pcm_s16le"), 16000, 6000,
             "pcm_s16le", "", 0),
        ]
    clips = spark.createDataFrame(rows, schema.CLIP)
    got = {
        (r.clip_a, r.clip_b)
        for r in matching.near_dup_audio_pairs(clips).collect()
    }
    # scalar recomputation: oracle landmark hash sets -> df cap ->
    # pairwise jaccard
    sets = {
        cid: {h for h, _ in orc.clip_landmarks(raw, cname, sr)}
        for cid, raw, sr, _, cname, _, _ in rows
    }
    df = {}
    for s in sets.values():
        for h in s:
            df[h] = df.get(h, 0) + 1
    sets = {c: {h for h in s if df[h] <= 64} for c, s in sets.items()}
    exp = set()
    for ca, cb in itertools.combinations(sorted(sets), 2):
        inter = len(sets[ca] & sets[cb])
        union = len(sets[ca] | sets[cb])
        if union and inter / union >= 0.2:
            exp.add((ca, cb))
    assert got == exp
    # every same-recording pair present, no cross-recording pairs
    for tid in tids:
        variants = sorted(
            f"{tid}:{v}" for v in ("pcm", "alaw", "adpcm", "sr16")
        )
        for ca, cb in itertools.combinations(variants, 2):
            assert (ca, cb) in got, f"missing self-pair {ca},{cb}"
    for ca, cb in got:
        assert ca.split(":")[0] == cb.split(":")[0], f"false pair {ca},{cb}"


def test_near_dup_clips_batch_and_stream_agree(spark, tmp_path):
    """Audio near-dup suppression: the landmark-minhash bander plugged
    into the generic band-claim machinery. Batch: the earliest variant
    of each recording survives; its re-encodes are suppressed;
    unrelated recordings survive. Stream (shuffled arrival inside the
    watermark): identical survivor set."""
    import time

    from sparkfp import dedup, schema

    h = 3600 * 1000
    base = 1_700_000_000_000
    tids = synth.default_track_ids(5)
    rows_by_id = {}
    for i, tid in enumerate(tids[:3]):
        pcm8 = synth.track_pcm(tid, dur_ms=6000)
        for j, (vname, raw, sr, cname) in enumerate([
            ("pcm", codec.encode(pcm8, "pcm_s16le"), 8000, "pcm_s16le"),
            ("alaw", codec.encode(pcm8, "alaw"), 8000, "alaw"),
            ("adpcm", codec.encode(pcm8, "adpcm"), 8000, "adpcm"),
        ]):
            cid = f"{tid}:{vname}"
            rows_by_id[cid] = (
                cid, raw, sr, 6000, cname, "", base + i * 10 * h + j * h
            )
    for tid in tids[3:]:
        pcm8 = synth.track_pcm(tid, dur_ms=6000)
        rows_by_id[f"{tid}:only"] = (
            f"{tid}:only", codec.encode(pcm8, "pcm_s16le"), 8000, 6000,
            "pcm_s16le", "", base + 5 * h,
        )
    expect = {f"{t}:pcm" for t in tids[:3]} | {
        f"{t}:only" for t in tids[3:]
    }

    df = spark.createDataFrame(list(rows_by_id.values()), schema.CLIP)
    got_batch = {
        r.clip_id for r in matching.near_dup_clips_batch(df).collect()
    }
    assert got_batch == expect

    # ---- stream: later variants arrive BEFORE their originals
    src, sink_dir, ckpt = (
        str(tmp_path / "asrc"), str(tmp_path / "asink"), str(tmp_path / "ackpt")
    )
    flush_id = "zz_flush"
    rows_by_id[flush_id] = (
        flush_id,
        codec.encode(synth.track_pcm("zz_track", dur_ms=4000), "pcm_s16le"),
        8000, 4000, "pcm_s16le", "", base + 200 * h,
    )
    order = sorted(rows_by_id)
    arrival = [
        [c for c in order if c.endswith(":alaw")],
        [c for c in order if c.endswith(":pcm") or c.endswith(":only")],
        [c for c in order if c.endswith(":adpcm")],
        [flush_id],
    ]
    for group in arrival:
        spark.createDataFrame(
            [rows_by_id[c] for c in group], schema.CLIP
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
    stream = streaming.read_clip_stream(spark, src)
    verdicts = dedup.near_dup_band_verdicts_stream(
        matching.banded_clips(stream), "clip_id", "event_ms", watermark="20 hours"
    )
    sink = ExactlyOnceParquetSink(sink_dir)

    def emit(batch_df, batch_id):
        sink(dedup.collapse_band_verdicts(batch_df, "clip_id"), batch_id)

    q = streaming.start_exactly_once(verdicts, emit, ckpt)
    assert q.awaitTermination(300)
    got_stream = {
        r.clip_id for r in sink.read(spark).collect() if r.clip_id != flush_id
    }
    assert got_stream == expect


def test_near_dup_clips_epochs_cross_epoch_claims(spark, tmp_path):
    """NearDupEpochs with the audio bander: a re-encode arriving in a
    LATER epoch is suppressed by the prior epoch's claims snapshot, and
    fresh recordings survive — the packaged epoch lifecycle is
    banding-agnostic."""
    from sparkfp import dedup, schema

    h = 3_600_000
    base = 1_700_000_000_000
    tids = synth.default_track_ids(2)
    pcm0 = synth.track_pcm(tids[0], dur_ms=5000)
    pcm1 = synth.track_pcm(tids[1], dur_ms=5000)

    def clip(cid, raw, cname, ev):
        return (cid, raw, 8000, 5000, cname, "", ev)

    def flush(cid, ev):
        return clip(
            cid, codec.encode(
                synth.track_pcm("zz_" + cid, dur_ms=3000), "pcm_s16le"
            ),
            "pcm_s16le", ev,
        )

    epochs = dedup.NearDupEpochs(
        spark, str(tmp_path / "root"), "clip_id", "event_ms", watermark="2 hours"
    )

    def feed(name, rows):
        src = str(tmp_path / f"src_{name}")
        for row in rows:
            spark.createDataFrame([row], schema.CLIP).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        return matching.banded_clips(streaming.read_clip_stream(spark, src))

    v1 = epochs.run_epoch(
        feed("e1", [
            clip("a0", codec.encode(pcm0, "pcm_s16le"), "pcm_s16le", base),
            flush("f1", base + 24 * h),
        ]),
        "e1",
    )
    s1 = {r.clip_id for r in epochs.survivors("e1").collect()}
    assert "a0" in s1
    v2 = epochs.run_epoch(
        feed("e2", [
            # same recording, A-law re-encode, NEW epoch -> suppressed
            # purely by the prior epoch's claims side table
            clip("a1", codec.encode(pcm0, "alaw"), "alaw", base + 48 * h),
            clip("b0", codec.encode(pcm1, "pcm_s16le"), "pcm_s16le",
                 base + 48 * h + 60_000),
            flush("f2", base + 80 * h),
        ]),
        "e2",
    )
    s2 = {r.clip_id for r in epochs.survivors("e2").collect()}
    assert "a1" not in s2 and "b0" in s2
    # compaction observability: bounded per-epoch state was recorded
    assert epochs.last_state_rows and max(epochs.last_state_rows) > 0


def test_corrupt_rows_quarantined_not_fatal(spark, index):
    """One corrupt blob among 10^12 clips must never kill the batch:
    the landmark chain skips undecodable rows per-row, the matcher
    still matches the good clips, and quarantine_clips accounts for
    every dropped row with a reason."""
    from sparkfp import schema

    tid = synth.default_track_ids(N_TRACKS)[0]
    good = codec.encode(synth.track_pcm(tid, dur_ms=5000), "pcm_s16le")
    bad_adpcm = codec.encode(
        synth.track_pcm(tid, dur_ms=3000), "adpcm"
    )[:40]  # truncated mid-header: ValueError
    rows = [
        ("ok_clip", good, 8000, 5000, "pcm_s16le", "", 0),
        ("bad_bytes", bad_adpcm, 8000, 3000, "adpcm", "", 0),
        ("bad_codec", good, 8000, 5000, "opus", "", 0),  # UnsupportedCodec
    ]
    clips = spark.createDataFrame(rows, schema.CLIP)
    # landmark extraction completes and excludes the bad rows
    lm_ids = {r.clip_id for r in dsp.landmarks(clips).select("clip_id").distinct().collect()}
    assert lm_ids == {"ok_clip"}
    # the fused matcher completes and matches the good clip
    got = {r.clip_id: r.matched_track
           for r in matching.match_clips_fused(clips, index).collect()}
    assert got == {"ok_clip": tid}
    # signatures skip bad rows too (dedup path)
    sig_ids = {r.clip_id for r in matching.clip_signatures(clips).collect()}
    assert sig_ids == {"ok_clip"}
    # quarantine lists exactly the bad rows, with reasons
    q = {r.clip_id: r.reason for r in dsp.quarantine_clips(clips).collect()}
    assert set(q) == {"bad_bytes", "bad_codec"}
    assert "UnsupportedCodec" in q["bad_codec"]


def test_clip_landmarks_batch_csr_and_reasons():
    """The one clip kernel (Spark-free): row i's CSR slice equals the
    per-clip chain's landmarks, undecodable rows (a null blob too) get
    an empty slice and the quarantine reason text, and an empty batch
    is typed, not a special case."""
    import pandas as pd

    tid = synth.default_track_ids(1)[0]
    pcm = synth.track_pcm(tid, dur_ms=3000)
    rows = [
        (codec.encode(pcm, "pcm_s16le"), "pcm_s16le", 8000),
        (codec.encode(pcm, "adpcm")[:40], "adpcm", 8000),
        (codec.encode(pcm, "pcm_s16le"), "opus", 8000),
        (codec.encode(pcm, "ulaw"), "ulaw", 16000),
        (None, "pcm_s16le", 8000),
    ]
    pdf = pd.DataFrame(rows, columns=["bytes", "codec", "sr_hz"])
    offsets, h, t, reason = dsp.clip_landmarks_batch(pdf)
    assert offsets.dtype == np.int64 and len(offsets) == len(rows) + 1
    assert h.dtype == np.int64 and t.dtype == np.int32
    assert offsets[-1] == len(h) == len(t)
    for i, (raw, cname, sr) in enumerate(rows):
        a, b = offsets[i], offsets[i + 1]
        if raw is None:
            assert reason[i] == "ValueError: null clip bytes" and a == b
            continue
        try:
            want_h, want_t = dsp.extract_clip_landmarks(raw, cname, sr)
        except (ValueError, codec.UnsupportedCodec) as e:
            assert reason[i] == f"{type(e).__name__}: {e}"
            assert a == b
            continue
        assert reason[i] is None and b > a
        np.testing.assert_array_equal(h[a:b], want_h)
        np.testing.assert_array_equal(t[a:b], want_t)
    assert reason[1].startswith("ValueError: ")
    assert reason[2].startswith("UnsupportedCodec: ")

    offsets, h, t, reason = dsp.clip_landmarks_batch(pdf.iloc[:0])
    assert offsets.tolist() == [0] and reason == []
    assert (h.dtype, len(h), t.dtype, len(t)) == (np.int64, 0, np.int32, 0)


def _vote_reference(codes, offset_bin):
    """Counter form of the vote: max count, ties to the smallest
    (track, offset) — the relational matcher's row_number order."""
    from collections import Counter

    counts = Counter(zip(codes.tolist(), offset_bin.tolist()))
    (c, o), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return c, o, n


def test_vote_equals_counter_reference():
    """matching.vote == the Counter vote over narrow and wide code and
    offset ranges, with negative offsets and ties."""
    rng = np.random.default_rng(7)
    for trial in range(200):
        n = int(rng.integers(1, 60))
        code_hi = [3, 5000][trial % 2]
        off_lo, off_hi = [(-4, 4), (-10**6, 10**6)][(trial // 2) % 2]
        codes = rng.integers(0, code_hi, n).astype(np.int32)
        offset_bin = rng.integers(off_lo, off_hi, n).astype(np.int64)
        assert matching.vote(codes, offset_bin) == _vote_reference(
            codes, offset_bin
        )


@pytest.mark.parametrize(
    "n_codes, span, n_hits, dense",
    [(3, 160, 60, True), (13, 37, 60, False), (1, 400, 50, True), (1, 401, 50, False)],
)
def test_vote_dense_sort_boundary(n_codes, span, n_hits, dense, monkeypatch):
    """At (code range x offset span) = 8 hits the vote counts with a
    dense bincount, one cell more and it sorts; both == the Counter
    vote, ties included (a few dozen hits over hundreds of cells)."""
    calls = []
    real = np.bincount
    monkeypatch.setattr(np, "bincount", lambda *a, **k: calls.append(1) or real(*a, **k))
    rng = np.random.default_rng(n_codes * 1000 + span)
    for _ in range(20):
        codes = rng.integers(0, n_codes, n_hits).astype(np.int32)
        offset_bin = rng.integers(-span // 2, span - span // 2, n_hits).astype(np.int64)
        # pin both corners so the box is exactly n_codes x span
        codes[:2] = 0, n_codes - 1
        offset_bin[:2] = -span // 2, span - span // 2 - 1
        assert matching.vote(codes, offset_bin) == _vote_reference(codes, offset_bin)
    assert bool(calls) == dense


def test_fused_negative_offsets_bin_as_spark_casts(spark):
    """Offsets of -250, -200, -150, -100, -99 and -1 ms land in the bin
    Spark's ``(x / 100).cast("long")`` gives (toward zero, so -99 and -1
    are bin 0), in the fused matcher and the relational one alike.
    Clip k's landmarks are indexed as track k at t_ms + its offset."""
    from pyspark.sql import functions as F

    from sparkfp import schema

    offs = [-250, -200, -150, -100, -99, -1]
    rows = []
    for k, tid in enumerate(synth.default_track_ids(len(offs))):
        pcm = synth.track_pcm(tid, dur_ms=3000)
        raw = codec.encode(pcm, "pcm_s16le")
        rows.append((f"c{k}", raw, synth.SR_HZ, 3000, "pcm_s16le", "", 0))
    clips = spark.createDataFrame(rows, schema.CLIP)
    offsets, h, t, _ = dsp.clip_landmarks_batch(clips.toPandas())
    assert (np.diff(offsets) > 50).all()
    index = spark.createDataFrame(
        [
            (int(hh), f"trk{k}", int(tt) + off)
            for k, off in enumerate(offs)
            for hh, tt in zip(h[offsets[k] : offsets[k + 1]], t[offsets[k] : offsets[k + 1]])
        ],
        "hash long, track_id string, t_track_ms long",
    )
    bins = (
        spark.createDataFrame([(o,) for o in offs], "d long")
        .select((F.col("d") / matching.OFFSET_BIN_MS).cast("long").alias("b"))
        .collect()
    )
    want = {
        f"c{k}": (f"trk{k}", r.b * matching.OFFSET_BIN_MS) for k, r in enumerate(bins)
    }
    assert [v[1] for v in want.values()] == [-200, -200, -100, -100, 0, 0]
    fused = matching.match_clips_fused(clips, index, min_votes=1, min_score=0)
    rel = matching.match(dsp.landmarks(clips), index, min_votes=1, min_score=0)
    for got in (fused, rel):
        assert {r.clip_id: (r.matched_track, r.offset_ms) for r in got.collect()} == want


def test_vote_allocation_bounded_by_hits():
    """A few hundred index hits spread over a huge (track, offset) box
    — two far-apart track codes (a many-track catalogue), or one far
    t_track_ms offset — must not allocate a counter per box cell (the
    old bincount over code * span + offset did: >= 10^7 cells here,
    80+ MB for 300 hits). Peak allocation stays O(hits)."""
    import tracemalloc

    rng = np.random.default_rng(3)
    n = 300
    wide_codes = (
        np.where(rng.random(n) < 0.5, 0, 99_999).astype(np.int32),
        rng.integers(-100, 100, n).astype(np.int64),
    )  # 10^5 codes x 200 offsets = 2 * 10^7 cells
    far_offset = (
        np.full(n, 4, dtype=np.int32),
        np.r_[rng.integers(0, 50, n - 1), 10**8].astype(np.int64),
    )  # 1 code x 10^8 offsets
    for codes, offset_bin in (wide_codes, far_offset):
        tracemalloc.start()
        try:
            got = matching.vote(codes, offset_bin)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert peak < 256 * 1024, peak
        assert got == _vote_reference(codes, offset_bin)


def test_near_dup_pairs_plan_shape(spark):
    """Scale guards for the landmark-Jaccard self-join: no cartesian /
    broadcast-nested-loop anywhere (the join must stay a hash-keyed
    equi-join that co-partitions with the upstream df-cap aggregation),
    and the banding path must keep the Arrow-UDF eval node BELOW the
    Generate so the explode never re-evaluates signature work per band
    slot (the round-3 codegen trap, memorialized in dedup.py)."""
    from sparkfp import schema

    tid = synth.default_track_ids(1)[0]
    rows = [
        ("c0", codec.encode(synth.track_pcm(tid, dur_ms=3000), "pcm_s16le"),
         8000, 3000, "pcm_s16le", "", 0),
    ]
    clips = spark.createDataFrame(rows, schema.CLIP)

    pairs_plan = (
        matching.near_dup_audio_pairs(clips)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Cartesian" not in pairs_plan
    assert "NestedLoop" not in pairs_plan

    banded_plan = (
        matching.banded_clips(clips)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # the Generate (posexplode of band keys) must consume the OUTPUT of
    # the Python/Arrow eval, not inline per-clip signature work
    gen_at = banded_plan.find("Generate")
    eval_at = max(
        banded_plan.find("ArrowEvalPython"), banded_plan.find("MapInPandas")
    )
    assert gen_at != -1 and eval_at != -1
    assert gen_at < eval_at  # Generate ABOVE (printed before) the eval node
