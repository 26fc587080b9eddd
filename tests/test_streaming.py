"""Streaming semantics tests.

Append-mode contract (matches Flink's on-watermark firing for the same
input + watermark — SURVEY §7.5.5): a window's row is emitted exactly
once, after the watermark passes its end; the trailing window stays
open until later data advances the watermark. Equivalence assertions
are therefore two-sided:

  1. every emitted row equals the batch pipeline's row for that key
     (no spurious rows, no duplicates), and
  2. every window the final watermark closed is present.
"""

import os
import time

import pytest
from pyspark.errors import StreamingQueryException

from sparkfp import fingerprint, matching, metrics, streaming, synth
from sparkfp.sink import ExactlyOnceParquetSink

START_MS = 1_700_000_000_000


@pytest.fixture()
def tmpdirs(tmp_path):
    return {
        "src": str(tmp_path / "src"),
        "sink": str(tmp_path / "sink"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _assert_stream_vs_batch(got_rows, exp_by_key, closed_end_ms):
    keys = [(r.equip_id, r.start_ms) for r in got_rows]
    assert len(keys) == len(set(keys)), "append mode must emit each window once"
    for r in got_rows:
        assert r.data == exp_by_key[(r.equip_id, r.start_ms)], (r.equip_id, r.start_ms)
    missing = [
        k for k, _ in exp_by_key.items() if k[1] + 60_000 <= closed_end_ms
    ]
    missing = [k for k in missing if k not in set(keys)]
    assert not missing, f"closed windows absent from sink: {missing}"


def test_stream_equals_batch_fingerprints(spark, tmpdirs):
    n_seconds = 240
    events = synth.sensor_events(spark, n_seconds=n_seconds, start_ms=START_MS)
    streaming.write_stream_source(events, tmpdirs["src"], n_files=6)
    src = streaming.read_sensor_stream(spark, tmpdirs["src"])
    sink = ExactlyOnceParquetSink(tmpdirs["sink"])
    q = streaming.fingerprint_stream(src, sink, tmpdirs["ckpt"])
    q.awaitTermination(300)
    # one keyed aggregation: one stateful operator (one state store per
    # shuffle partition) in every data batch
    data_batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert data_batches
    assert [len(p.stateOperators) for p in data_batches] == [1] * len(data_batches)

    got = sink.read(spark).collect()
    exp = {
        (r.equip_id, r.start_ms): r.data
        for r in fingerprint.pipeline(spark.read.parquet(tmpdirs["src"])).collect()
    }
    final_watermark = START_MS + (n_seconds - 1) * 1000 - 10_000
    _assert_stream_vs_batch(got, exp, final_watermark)
    assert len(got) > 0


def test_streaming_lineage_captured(spark, tmpdirs):
    events = synth.sensor_events(spark, n_seconds=120, start_ms=START_MS)
    streaming.write_stream_source(events, tmpdirs["src"], n_files=4)
    src = streaming.read_sensor_stream(spark, tmpdirs["src"])
    sink = ExactlyOnceParquetSink(tmpdirs["sink"])
    q = streaming.fingerprint_stream(src, sink, tmpdirs["ckpt"])
    q.awaitTermination(300)
    lineage = metrics.collect_lineage(q)
    data_batches = [row for row in lineage if (row["rows"] or 0) > 0]
    assert len(data_batches) >= 2  # multiple micro-batches
    assert all(row["end_offset"] is not None for row in data_batches)
    assert sum(row["rows"] or 0 for row in lineage) == events.count()
    # durable per-partition lineage in the checkpoint offset log
    offsets = metrics.checkpoint_offsets(tmpdirs["ckpt"])
    assert len(offsets) >= 2


def test_late_rows_dropped_by_watermark(spark, tmpdirs, tmp_path):
    """A row older than the watermark, arriving in a later micro-batch,
    must not alter an already-emitted window (Flink drop-late parity)."""
    from sparkfp import schema

    base = START_MS - START_MS % 60_000  # window-aligned
    on_time = [("E", base + i * 1000, {"s": "1.0"}) for i in range(120)]
    late = [("E", base + 5_000, {"s": "1000.0"})]  # 115 s late; watermark 10 s
    os.makedirs(tmpdirs["src"], exist_ok=True)
    sink = ExactlyOnceParquetSink(tmpdirs["sink"])
    src = streaming.read_sensor_stream(spark, tmpdirs["src"], max_files_per_trigger=2)
    fps = fingerprint.pipeline(src, watermark=fingerprint.WATERMARK)
    q = streaming.start_exactly_once(fps, sink, tmpdirs["ckpt"], available_now=False)
    try:
        spark.createDataFrame(on_time, schema.SENSOR_EVENT).coalesce(1).write.mode(
            "append"
        ).parquet(tmpdirs["src"])
        q.processAllAvailable()  # watermark -> base+110s; window [base,base+60s) emitted
        spark.createDataFrame(late, schema.SENSOR_EVENT).coalesce(1).write.mode(
            "append"
        ).parquet(tmpdirs["src"])
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(60)

    rows = sink.read(spark).collect()
    first = [r for r in rows if r.start_ms == base]
    assert len(first) == 1, "window must be emitted exactly once"
    assert first[0].data["s"]["max"] == 1.0, "late 1000.0 row must be dropped"


def test_exactly_once_resume_from_checkpoint(spark, tmpdirs):
    """Stop mid-stream, restart from the same checkpoint: the sink has
    no duplicates and every emitted row matches the batch oracle."""
    n_seconds = 240
    events = synth.sensor_events(spark, n_seconds=n_seconds, start_ms=START_MS)
    streaming.write_stream_source(events, tmpdirs["src"], n_files=8)
    sink = ExactlyOnceParquetSink(tmpdirs["sink"])

    src = streaming.read_sensor_stream(spark, tmpdirs["src"])
    fps = fingerprint.pipeline(src, watermark=fingerprint.WATERMARK)
    q1 = streaming.start_exactly_once(fps, sink, tmpdirs["ckpt"], available_now=False)
    while len(q1.recentProgress) < 2:
        time.sleep(0.2)
    q1.stop()  # kill mid-stream
    q1.awaitTermination(60)

    src2 = streaming.read_sensor_stream(spark, tmpdirs["src"])
    q2 = streaming.fingerprint_stream(src2, sink, tmpdirs["ckpt"])
    q2.awaitTermination(300)

    got = sink.read(spark).collect()
    exp = {
        (r.equip_id, r.start_ms): r.data
        for r in fingerprint.pipeline(spark.read.parquet(tmpdirs["src"])).collect()
    }
    final_watermark = START_MS + (n_seconds - 1) * 1000 - 10_000
    _assert_stream_vs_batch(got, exp, final_watermark)


def test_match_stream_equals_batch(spark, tmpdirs):
    """Session-windowed streaming matcher == batch matcher, with a
    sentinel clip advancing the watermark to close all real sessions."""
    index = matching.build_index(synth.tracks(spark, n_tracks=4)).cache()
    clips = synth.clips(spark, n_clips=20, n_tracks=4).cache()
    streaming.write_stream_source(clips, tmpdirs["src"], n_files=5)
    sink = ExactlyOnceParquetSink(tmpdirs["sink"])
    src = streaming.read_clip_stream(spark, tmpdirs["src"])
    q = streaming.match_stream(
        src, index, sink, tmpdirs["ckpt"], available_now=False
    )
    try:
        q.processAllAvailable()
        # sentinel: a far-future clip pushes the watermark past every
        # real session's close (stream keeps flowing in production)
        sentinel = synth.clips(spark, n_clips=1, n_tracks=4).selectExpr(
            "'sentinel' as clip_id",
            "bytes",
            "sr_hz",
            "dur_ms",
            "codec",
            "transcript",
            "event_ms + 3600000 as event_ms",
        )
        sentinel.coalesce(1).write.mode("append").parquet(tmpdirs["src"])
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(60)

    got = {
        r.clip_id: (r.matched_track, r.offset_ms, r.vote_count)
        for r in sink.read(spark).collect()
        if r.clip_id != "sentinel"
    }
    exp = {
        r.clip_id: (r.matched_track, r.offset_ms, r.vote_count)
        for r in matching.match_pipeline(clips, index).collect()
    }
    assert got == exp


def test_exact_dedup_stream_emits_one_row_per_content(spark, tmp_path):
    """Streaming exact dedup: duplicates across micro-batches within the
    watermark horizon collapse to one row per distinct content, state
    keyed on the md5 content hash (bounded by watermark eviction)."""
    import pandas as pd

    from pyspark.sql import functions as F
    from sparkfp import dedup

    rows = []
    for i in range(40):
        rows.append((i, 1_700_000_000_000 + i * 1000, f"doc-{i % 10}"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "ts_ms", "text"])
    df = spark.createDataFrame(pdf)
    src, sink_dir, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    streaming.write_stream_source(df, src, n_files=4, order_col="ts_ms")
    stream = streaming.read_parquet_stream(
        spark, src, "doc_id long, ts_ms long, text string"
    ).withColumn("event_time", F.timestamp_millis(F.col("ts_ms")))
    deduped = dedup.exact_dedup_stream(stream, "event_time", "10 seconds", "text")
    sink = ExactlyOnceParquetSink(sink_dir)
    q = streaming.start_exactly_once(deduped, sink, ckpt)
    assert q.awaitTermination(300)
    got = sink.read(spark).toPandas()
    assert sorted(got.text) == sorted(f"doc-{i}" for i in range(10))
    # first occurrence wins: every kept doc_id is the minimum for its text
    assert set(got.doc_id) == set(range(10))


def test_near_dup_suppress_stream_equals_batch_equals_oracle(spark, tmp_path):
    """Streaming near-dup suppressor (MinHash bands in keyed state,
    buffered until the watermark) == batch twin == an independent
    pure-Python md5-minhash oracle, on a seeded corpus with planted
    near-dups arriving OUT OF ORDER across micro-batches."""
    import hashlib

    import pandas as pd

    from sparkfp import dedup

    base = 1_700_000_000_000
    long0 = (
        "the quick brown fox jumps over the lazy dog today while the sun "
        "sets slowly behind the tall green hills and the river flows gently "
        "past the old stone bridge"
    )
    long3 = (
        "completely different text about spark shuffles and joins and "
        "aggregations over large parquet tables stored in the lake"
    )
    texts = {
        "d0": long0,
        "d1": long0,  # exact dup: all 4 bands collide
        "d2": long0.replace("jumps", "leaps"),  # near dup: 1 shared band
        "d3": long3,
        "d4": long3 + " house",  # near dup of d3: 3 shared bands
        "d5": "yet another unrelated document discussing parquet metadata",
    }
    ts = {d: base + i * 60_000 for i, d in enumerate(sorted(texts))}

    # ---- independent python oracle: md5 minhash -> bands -> greedy
    def sig(text, n_hashes=16, kg=3):
        toks = text.strip().split()
        sh = [" ".join(toks[i:i + kg]) for i in range(max(len(toks) - kg + 1, 1))]
        return [
            min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh)
            for i in range(n_hashes)
        ]

    def bands(s, n_bands=4, rpb=4):
        return [
            hashlib.md5("|".join(s[b * rpb:(b + 1) * rpb]).encode()).hexdigest()
            for b in range(n_bands)
        ]

    seen, expect = set(), set()
    for d in sorted(texts, key=lambda d: (ts[d], d)):
        bs = [(i, b) for i, b in enumerate(bands(sig(texts[d])))]
        if all(b not in seen for b in bs):
            expect.add(d)
        seen.update(bs)
    assert expect == {"d0", "d3", "d5"}

    pdf = pd.DataFrame(
        [(d, ts[d], t) for d, t in texts.items()],
        columns=["doc_id", "ts_ms", "text"],
    )
    df = spark.createDataFrame(pdf)

    # ---- batch twin
    got_batch = {
        r.doc_id
        for r in dedup.near_dup_suppress_batch(
            df, "doc_id", "text", "ts_ms"
        ).collect()
    }
    assert got_batch == expect

    # ---- stream: shuffled arrival across 3 files (disorder < watermark)
    src, sink_dir, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    arrival = [
        ["d2", "d4"],  # d2 arrives before its near-dup source d0
        ["d0", "d5", "d1"],
        ["d3"],
        ["zz_flush"],
    ]
    flush = ("zz_flush", base + 24 * 3600 * 1000, "flush sentinel row xyz")
    rows_by_id = {d: (d, ts[d], texts[d]) for d in texts}
    rows_by_id["zz_flush"] = flush
    for group in arrival:
        spark.createDataFrame(
            [rows_by_id[d] for d in group], "doc_id string, ts_ms long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
    stream = streaming.read_parquet_stream(
        spark, src, "doc_id string, ts_ms long, text string"
    )
    verdicts = dedup.near_dup_band_verdicts_stream(
        dedup.banded_docs(stream, "doc_id", "text", "ts_ms"), "doc_id", "ts_ms",
        watermark="2 hours",
    )
    sink = ExactlyOnceParquetSink(sink_dir)

    def emit(batch_df, batch_id):
        sink(dedup.collapse_band_verdicts(batch_df, "doc_id"), batch_id)

    q = streaming.start_exactly_once(verdicts, emit, ckpt)
    assert q.awaitTermination(300)
    got_stream = {
        r.doc_id for r in sink.read(spark).collect() if r.doc_id != "zz_flush"
    }
    assert got_stream == expect


def test_hash_sample_stream_equals_batch(spark, tmp_path):
    """hash_sample is a stateless pure filter, so it applies unchanged
    to a stream and selects exactly the batch-selected rows regardless
    of micro-batch boundaries — the property that makes deterministic
    downsampling safe inside an ingest pipeline."""
    import pandas as pd

    from sparkfp import sampling

    pdf = pd.DataFrame(
        {"doc_id": range(400), "ts_ms": [1_700_000_000_000 + i for i in range(400)]}
    )
    df = spark.createDataFrame(pdf)
    batch_ids = {
        r.doc_id for r in sampling.hash_sample(df, "doc_id", 0.25, seed=11).collect()
    }
    src, sink_dir, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    streaming.write_stream_source(df, src, n_files=4, order_col="ts_ms")
    stream = streaming.read_parquet_stream(spark, src, "doc_id long, ts_ms long")
    sampled = sampling.hash_sample(stream, "doc_id", 0.25, seed=11)
    sink = ExactlyOnceParquetSink(sink_dir)
    q = streaming.start_exactly_once(sampled, sink, ckpt)
    assert q.awaitTermination(300)
    got = sink.read(spark).toPandas()
    assert set(got.doc_id) == batch_ids and len(got) == len(batch_ids)


def test_hash_sample_rechunk_and_restart(spark, tmp_path):
    """Layout-stability under the streaming runner, proven two ways:
    (a) the SAME corpus re-chunked into a different file/trigger layout
    yields the identical sample membership; (b) a query stopped halfway
    and restarted from its checkpoint emits each sampled row exactly
    once with the same total membership — determinism survives both
    re-chunking and recovery."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sparkfp import sampling

    pdf = pd.DataFrame(
        {"doc_id": range(400), "ts_ms": [1_700_000_000_000 + i for i in range(400)]}
    )
    df = spark.createDataFrame(pdf)
    batch_ids = {
        r.doc_id for r in sampling.hash_sample(df, "doc_id", 0.25, seed=11).collect()
    }

    def drain(src, sink_dir, ckpt, fpt):
        stream = streaming.read_parquet_stream(
            spark, src, "doc_id long, ts_ms long", fpt
        )
        sink = ExactlyOnceParquetSink(sink_dir)
        q = streaming.start_exactly_once(
            sampling.hash_sample(stream, "doc_id", 0.25, seed=11), sink, ckpt
        )
        assert q.awaitTermination(300)
        return sink

    # (a) different chunking: 7 files, 2 per trigger (vs 4/1 above)
    src_a = str(tmp_path / "src_a")
    streaming.write_stream_source(df, src_a, n_files=7, order_col="ts_ms")
    sink_a = drain(src_a, str(tmp_path / "sink_a"), str(tmp_path / "ckpt_a"), 2)
    got_a = sink_a.read(spark).toPandas()
    assert set(got_a.doc_id) == batch_ids and len(got_a) == len(batch_ids)

    # (b) restart: drain the first half, then append the rest and
    # resume from the same checkpoint into the same sink
    src_b = str(tmp_path / "src_b")
    sink_dir_b, ckpt_b = str(tmp_path / "sink_b"), str(tmp_path / "ckpt_b")
    half = 200
    streaming.write_stream_source(
        df.filter(F.col("doc_id") < half), src_b, n_files=3, order_col="ts_ms"
    )
    drain(src_b, sink_dir_b, ckpt_b, 1)
    streaming.write_stream_source(
        df.filter(F.col("doc_id") >= half), src_b, n_files=3, order_col="ts_ms"
    )
    sink_b = drain(src_b, sink_dir_b, ckpt_b, 1)
    got_b = sink_b.read(spark).toPandas()
    assert set(got_b.doc_id) == batch_ids
    assert len(got_b) == len(batch_ids)  # exactly once across the restart


def test_near_dup_claims_compaction_bounds_state(spark, tmp_path):
    """Multi-epoch band-claim compaction (dedup.claims_from_verdicts +
    the `claims` side table): a doc duplicating an epoch-1 band is
    suppressed in epoch 2 without any carried state, and the epoch-2
    state store's final row count equals the bands NEWLY claimed in
    epoch 2 — pre-claimed bands evict once their buffers drain, so
    state is bounded per-epoch, not by lifetime band cardinality."""
    import json

    from sparkfp import dedup

    base = 1_700_000_000_000
    long0 = (
        "the quick brown fox jumps over the lazy dog today while the sun "
        "sets slowly behind the tall green hills and the river flows gently "
        "past the old stone bridge"
    )
    fresh = (
        "entirely new epoch two prose concerning columnar encodings "
        "dictionary pages and run length schemes inside modern table formats"
    )

    def run_epoch(name, rows, claims):
        src = str(tmp_path / f"src_{name}")
        ckpt = str(tmp_path / f"ckpt_{name}")
        out = str(tmp_path / f"verdicts_{name}")
        for row in rows:  # one file per row -> one micro-batch per row
            spark.createDataFrame(
                [row], "doc_id string, ts_ms long, text string"
            ).coalesce(1).write.mode("append").parquet(src)
        stream = streaming.read_parquet_stream(
            spark, src, "doc_id string, ts_ms long, text string"
        )
        verdicts = dedup.near_dup_band_verdicts_stream(
            dedup.banded_docs(stream, "doc_id", "text", "ts_ms"), "doc_id",
            "ts_ms", watermark="2 hours", claims=claims,
        )
        sink = ExactlyOnceParquetSink(out)
        q = streaming.start_exactly_once(verdicts, sink, ckpt)
        assert q.awaitTermination(300)
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in (json.loads(pp.json) for pp in q.recentProgress)
            if p.get("stateOperators")
        ]
        return sink.read(spark), state_rows

    hour = 3_600_000
    flush1 = ("zz_flush1", base + 24 * hour, "flush sentinel epoch one xyz")
    v1, _ = run_epoch(
        "e1",
        [("d0", base, long0), ("d1", base + 60_000, long0), flush1],
        claims=None,
    )
    surv1 = {r.doc_id for r in dedup.collapse_band_verdicts(v1, "doc_id").collect()}
    assert "d0" in surv1 and "d1" not in surv1

    claims1 = dedup.claims_from_verdicts(v1)
    n_claims1 = claims1.count()
    assert n_claims1 > 0

    # epoch 2: d2 duplicates long0 (all bands claimed in epoch 1),
    # d3 is fresh; a flush sentinel drains every buffer
    flush2 = ("zz_flush2", base + 24 * hour, "flush sentinel epoch two abc")
    rows2 = [("d2", base, long0), ("d3", base + 60_000, fresh), flush2]
    v2, state2 = run_epoch("e2", rows2, claims=claims1)
    surv2 = {r.doc_id for r in dedup.collapse_band_verdicts(v2, "doc_id").collect()}
    assert "d2" not in surv2  # suppressed by the cross-epoch claim
    assert "d3" in surv2

    # bounded state: final row count == bands newly claimed in epoch 2
    df2 = spark.createDataFrame(rows2, "doc_id string, ts_ms long, text string")
    bands2 = dedup.banded_docs(df2, "doc_id", "text", "ts_ms").select(
        "band_idx", "band"
    ).distinct()
    n_total2 = bands2.count()
    n_new2 = bands2.join(claims1, ["band_idx", "band"], "left_anti").count()
    assert n_new2 < n_total2  # d2's pre-claimed bands exist and evict
    assert state2, "no stateOperators progress recorded"
    assert state2[-1] == n_new2


def test_near_dup_epochs_three_epoch_lifecycle(spark, tmp_path):
    """dedup.NearDupEpochs: the packaged epoch rotation (run -> snapshot
    claims -> feed union forward). Three epochs where epoch 2 dups an
    epoch-1 text and epoch 3 dups an epoch-2 text: survivors must equal
    the batch oracle over the concatenated corpus, and each epoch's
    final state-store row count must equal the bands NEWLY claimed that
    epoch (pre-claimed bands evict; state is bounded per-epoch)."""
    from sparkfp import dedup

    base = 1_700_000_000_000
    hour = 3_600_000
    text_a = (
        "the quick brown fox jumps over the lazy dog today while the sun "
        "sets slowly behind the tall green hills and the river flows gently "
        "past the old stone bridge"
    )
    text_b = (
        "entirely new epoch two prose concerning columnar encodings "
        "dictionary pages and run length schemes inside modern table formats"
    )
    text_c = (
        "third epoch fresh material about watermark driven state eviction "
        "and bounded claims ledgers inside large stream processing engines"
    )
    schema = "doc_id string, ts_ms long, text string"
    epochs = {
        "e1": [
            ("d0", base, text_a),
            ("d1", base + 60_000, text_a),
            ("zf1", base + 24 * hour, "flush sentinel epoch one xyz"),
        ],
        "e2": [
            ("d2", base + 30 * hour, text_a),          # dup of epoch 1
            ("d3", base + 30 * hour + 60_000, text_b),
            ("zf2", base + 60 * hour, "flush sentinel epoch two abc"),
        ],
        "e3": [
            ("d4", base + 70 * hour, text_b),          # dup of epoch 2
            ("d5", base + 70 * hour + 60_000, text_c),
            ("zf3", base + 100 * hour, "flush sentinel epoch three pqr"),
        ],
    }

    ep = dedup.NearDupEpochs(
        spark, str(tmp_path / "root"), "doc_id", "ts_ms", watermark="2 hours"
    )
    surv = {}
    for name, rows in epochs.items():
        src = str(tmp_path / f"src_{name}")
        for row in rows:  # one file per row -> one micro-batch per row
            spark.createDataFrame([row], schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = streaming.read_parquet_stream(spark, src, schema)
        prior_claims = ep.claims()
        ep.run_epoch(dedup.banded_docs(stream, "doc_id", "text", "ts_ms"), name)
        surv[name] = {
            r.doc_id
            for r in ep.survivors(name).collect()
            if not r.doc_id.startswith("zf")
        }
        # bounded state: final row count == bands newly presented this
        # epoch (claimed by its docs or still buffered by its sentinel);
        # every pre-claimed band must have evicted
        df = spark.createDataFrame(rows, schema)
        bands = dedup.banded_docs(df, "doc_id", "text", "ts_ms").select(
            "band_idx", "band"
        ).distinct()
        n_new = (
            bands.count()
            if prior_claims is None
            else bands.join(prior_claims, ["band_idx", "band"], "left_anti").count()
        )
        assert ep.last_state_rows, name
        assert ep.last_state_rows[-1] == n_new, name

    assert surv == {"e1": {"d0"}, "e2": {"d3"}, "e3": {"d5"}}

    # cross-epoch survivors == the batch twin over the whole corpus
    all_rows = [r for rows in epochs.values() for r in rows]
    batch = dedup.near_dup_suppress_batch(
        spark.createDataFrame(all_rows, schema), "doc_id", "text", "ts_ms"
    )
    got_batch = {
        r.doc_id for r in batch.collect() if not r.doc_id.startswith("zf")
    }
    assert got_batch == surv["e1"] | surv["e2"] | surv["e3"]


def test_near_dup_epochs_claims_read_error_raises(spark, tmp_path):
    """NearDupEpochs.claims(): no claims directory means no prior
    claims (None), but an unreadable claims ledger must raise — read
    as "no claims", the next epoch would let earlier re-encodes
    survive without any error."""
    from sparkfp import dedup

    ep = dedup.NearDupEpochs(spark, str(tmp_path / "root"), "doc_id", "ts_ms")
    assert ep.claims() is None
    claims_dir = tmp_path / "root" / "claims"
    claims_dir.mkdir(parents=True)
    (claims_dir / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER|not a Parquet file"):
        ep.claims()


# ------------------------------------------ exactly-once under injected crashes

CRASH_POINTS = ["inside_foreach_batch", "before_commit_log"]


class _CrashBeforeMark:
    """Sink wrapper: batch ``k``'s rows land in ``batch_id=k/`` but its
    ledger mark is never written, then the call raises, once."""

    def __init__(self, sink, k):
        self.sink, self.k, self.fired = sink, k, False

    def __call__(self, batch_df, batch_id):
        if batch_id == self.k and not self.fired:
            self.fired = True
            batch_df.write.mode("overwrite").parquet(
                os.path.join(self.sink.table_path, f"batch_id={batch_id}")
            )
            raise RuntimeError("injected crash before the ledger mark")
        self.sink(batch_df, batch_id)


def _batch_ids(path, suffix=""):
    """Batch ids named by the files in ``path`` (``<n><suffix>``)."""
    names = [f[: len(f) - len(suffix)] for f in os.listdir(path) if f.endswith(suffix)]
    return sorted(int(n) for n in names if n.isdigit())


def _mtimes(path):
    return {f: os.stat(os.path.join(path, f)).st_mtime_ns for f in os.listdir(path)}


def _drain_through_crash(start, sink, ckpt, crash, k=2):
    """Run ``start(sink_fn) -> StreamingQuery`` to the end through one
    injected crash, restarting from the same checkpoint.

    inside_foreach_batch: batch k's data is written but not marked when
    the query dies; the restart re-runs batch k under the same id and
    the sink overwrites the orphan. before_commit_log: after a clean
    drain the last ``commits/<n>`` entry is deleted, as if the process
    died between the ledger mark and Spark's commit; the restart re-runs
    batch n and the sink must skip it without touching its files."""
    commits = os.path.join(ckpt, "commits")
    if crash == "inside_foreach_batch":
        q = start(_CrashBeforeMark(sink, k))
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(300)
        assert not sink.is_committed(k)
        assert os.path.isdir(os.path.join(sink.table_path, f"batch_id={k}"))
        assert k not in _batch_ids(commits)
        assert start(sink).awaitTermination(300)
    else:
        assert start(sink).awaitTermination(300)
        n = _batch_ids(commits)[-1]
        for f in (str(n), f".{n}.crc"):
            if os.path.exists(os.path.join(commits, f)):
                os.remove(os.path.join(commits, f))
        out = os.path.join(sink.table_path, f"batch_id={n}")
        before = _mtimes(out)
        assert start(sink).awaitTermination(300)
        assert n in _batch_ids(commits), "the restart did not re-run the batch"
        assert _mtimes(out) == before, "the sink rewrote a committed batch"
    # one ledger mark per batch Spark committed, no orphan batch dirs
    ledger = _batch_ids(sink.ledger_dir, ".done")
    assert ledger == _batch_ids(commits)
    assert sorted(os.listdir(sink.ledger_dir)) == sorted(f"{b}.done" for b in ledger)
    tables = [
        int(f.split("=")[1])
        for f in os.listdir(sink.table_path)
        if f.startswith("batch_id=")
    ]
    assert sorted(tables) == ledger


@pytest.mark.parametrize("crash", CRASH_POINTS)
def test_fingerprint_stream_exactly_once_under_crash(spark, tmpdirs, crash):
    """fingerprint_stream into the exactly-once sink survives a crash at
    either side of the ledger mark: after the restart the sink holds
    each closed window of the batch pipeline exactly once."""
    n_seconds = 240
    events = synth.sensor_events(spark, n_seconds=n_seconds, start_ms=START_MS)
    streaming.write_stream_source(events, tmpdirs["src"], n_files=6)
    sink = ExactlyOnceParquetSink(tmpdirs["sink"])

    def start(sink_fn):
        src = streaming.read_sensor_stream(spark, tmpdirs["src"])
        return streaming.fingerprint_stream(src, sink_fn, tmpdirs["ckpt"])

    _drain_through_crash(start, sink, tmpdirs["ckpt"], crash)
    got = sink.read(spark).collect()
    exp = {
        (r.equip_id, r.start_ms): r.data
        for r in fingerprint.pipeline(spark.read.parquet(tmpdirs["src"])).collect()
    }
    final_watermark = START_MS + (n_seconds - 1) * 1000 - 10_000
    _assert_stream_vs_batch(got, exp, final_watermark)


@pytest.mark.parametrize("crash", CRASH_POINTS)
def test_match_stream_fused_exactly_once_under_crash(spark, tmpdirs, crash):
    """match_stream_fused into the exactly-once sink survives a crash at
    either side of the ledger mark: after the restart the sink holds
    the batch matcher's rows, one per clip."""
    index = matching.build_index(synth.tracks(spark, n_tracks=4)).cache()
    clips = synth.clips(spark, n_clips=16, n_tracks=4).cache()
    streaming.write_stream_source(clips, tmpdirs["src"], n_files=4)
    sink = ExactlyOnceParquetSink(tmpdirs["sink"])

    def start(sink_fn):
        src = streaming.read_clip_stream(spark, tmpdirs["src"])
        return streaming.match_stream_fused(src, index, sink_fn, tmpdirs["ckpt"])

    _drain_through_crash(start, sink, tmpdirs["ckpt"], crash)
    rows = sink.read(spark).collect()
    ids = [r.clip_id for r in rows]
    assert len(ids) == len(set(ids)), "a clip was emitted twice"
    got = {r.clip_id: (r.matched_track, r.offset_ms, r.vote_count) for r in rows}
    exp = {
        r.clip_id: (r.matched_track, r.offset_ms, r.vote_count)
        for r in matching.match_pipeline(clips, index).collect()
    }
    assert got == exp and got
