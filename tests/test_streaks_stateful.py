"""Streak-trigger and run-state machine tests vs literal oracles.

Oracles are verbatim ports of the reference's per-row loops:
- streak trigger: process_odr.py:269-303 (fire at first row where
  accumulated True-duration >= duration_s; reset on False)
- run-state machine: process_odr.py:1028-1084
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkfp import stateful, streaks, streaming
from sparkfp.sink import ExactlyOnceParquetSink


def _streak_oracle(ts_list, flags, duration_s, step_s=60.0):
    """Reference loop: returns indices where an alarm fires."""
    fired, cum, prev_ts, active = [], 0.0, None, False
    for i, (ts, flag) in enumerate(zip(ts_list, flags)):
        dt = (ts - prev_ts).total_seconds() if prev_ts is not None else step_s
        prev_ts = ts
        if flag:
            cum += dt
            if cum >= duration_s and not active:
                fired.append(i)
                active = True
        else:
            cum = 0.0
            active = False
    return fired


@pytest.fixture(scope="module")
def flag_frame(spark):
    ts = pd.date_range("2026-01-01", periods=60, freq="1min")
    flags = [False] * 5 + [True] * 10 + [False] * 3 + [True] * 2 + [False] * 10 + [True] * 30
    pdf = pd.DataFrame({"k": "E1", "timestamp": ts, "active": flags,
                        "duration_s": 300})
    return spark.createDataFrame(pdf), pdf


def test_streak_trigger_matches_oracle(spark, flag_frame):
    df, pdf = flag_frame
    got = streaks.streak_triggers(
        df, ["k"], "timestamp", "active", "duration_s"
    ).toPandas()
    exp_idx = _streak_oracle(list(pdf.timestamp), list(pdf.active), 300)
    exp_ts = set(pdf.timestamp.iloc[exp_idx])
    assert set(got.timestamp) == exp_ts
    assert len(got) == len(exp_idx) > 0


def test_streak_duration_resets(spark, flag_frame):
    df, pdf = flag_frame
    out = (
        streaks.with_streak_duration(df, ["k"], "timestamp", "active")
        .orderBy("timestamp")
        .toPandas()
    )
    assert (out.loc[~out.active, "streak_s"] == 0).all()
    # first row of the 30-long streak restarts accumulation
    tail = out.iloc[-30:]
    assert tail.streak_s.iloc[0] == 60.0
    assert tail.streak_s.is_monotonic_increasing


def _run_state_oracle(ts_list, running, shutdown_s, transition_s, step_s=60.0):
    # per-row port of the reference state machine (process_odr.py:1028-1084);
    # note start_since survives brief dips — the reference clears start_time
    # only on a full shutdown (process_odr.py:1050-1065)
    st, down_since, start_since = "RUNNING", None, None
    labels = []
    for ts, run in zip(ts_list, running):
        ts_ms = int(ts.timestamp() * 1000)
        if not run:
            if down_since is None:
                down_since = ts_ms
            if st != "SHUTDOWN" and ts_ms - down_since >= shutdown_s * 1000:
                st, start_since = "SHUTDOWN", None
            labels.append("SHUTDOWN" if st == "SHUTDOWN" else "RUNNING")
        else:
            if st == "SHUTDOWN":
                st, start_since = "STARTING", ts_ms
            down_since = None
            if st == "STARTING":
                if start_since is None:
                    start_since = ts_ms
                if ts_ms - start_since >= transition_s * 1000:
                    st, start_since = "RUNNING", None
            labels.append(st)
    return labels


@pytest.fixture(scope="module")
def run_frame(spark):
    ts = pd.date_range("2026-01-01", periods=120, freq="1min")
    running = (
        [True] * 20          # running
        + [False] * 30       # long outage -> SHUTDOWN after 10 min
        + [True] * 5         # restart -> STARTING (15-min transition)
        + [False] * 2        # dip DURING STARTING: clock survives, no crash
        + [True] * 33        # STARTING until 15 min after restart, then RUNNING
        + [False] * 5        # short dip (< shutdown window) -> stays RUNNING
        + [True] * 25
    )
    pdf = pd.DataFrame({"k": "E1", "timestamp": ts, "running": running})
    pdf["ts_ms"] = (pdf.timestamp.astype("int64") // 10**6)
    return spark.createDataFrame(pdf), pdf


def test_run_state_batch_matches_oracle(spark, run_frame):
    df, pdf = run_frame
    got = (
        stateful.run_state_batch(
            df, ["k"], "timestamp", "running",
            shutdown_window_s=600, transition_window_s=900,
        )
        .orderBy("timestamp")
        .toPandas()
    )
    exp = _run_state_oracle(list(pdf.timestamp), list(pdf.running), 600, 900)
    mismatches = [
        (i, g, e)
        for i, (g, e) in enumerate(zip(got.run_state, exp))
        if g != e
    ]
    assert not mismatches, mismatches[:10]


def test_run_state_stream_matches_batch(spark, run_frame, tmp_path):
    df, pdf = run_frame

    src_dir, sink_dir, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    # sentinel on a throwaway key: the buffered machine releases a row
    # only once the watermark passes it (as the rate limiter below)
    flush_ms = int(pdf.ts_ms.max()) + 3_600_000
    with_sentinel = df.select("k", "ts_ms", "running").unionByName(
        spark.createDataFrame(
            [("ZZ_flush", flush_ms, True)], "k string, ts_ms long, running boolean"
        )
    )
    streaming.write_stream_source(with_sentinel, src_dir, n_files=4, order_col="ts_ms")
    src = streaming.read_parquet_stream(
        spark, src_dir, "k string, ts_ms long, running boolean"
    )
    labeled = stateful.run_state_stream(
        src, "k", "ts_ms", "running",
        shutdown_window_s=600, transition_window_s=900,
    )
    sink = ExactlyOnceParquetSink(sink_dir)
    q = streaming.start_exactly_once(labeled, sink, ckpt)
    q.awaitTermination(300)
    got = sink.read(spark).filter(F.col("k") != "ZZ_flush").orderBy("ts_ms").toPandas()
    exp = _run_state_oracle(list(pdf.timestamp), list(pdf.running), 600, 900)
    assert len(got) == len(exp)
    assert list(got.run_state) == exp


def test_run_state_stream_out_of_order_across_batches(spark, tmp_path):
    """Disorder within the watermark across micro-batches must not
    change the labels: key K is down at 10 min, then one batch later
    down at 0 and 11 min. In event time the outage starts at 0, so with
    a 600 s shutdown window the rows at 10 and 11 min are SHUTDOWN (as
    run_state_batch and the oracle say); a machine run in arrival order
    starts the outage at 10 min and labels both RUNNING."""
    import time as _time

    base = int(pd.Timestamp("2026-02-01").timestamp() * 1000)
    m = 60_000
    src, sink_dir, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    schema = "k string, ts_ms long, running boolean"
    batches = [
        [("K", base + 10 * m, False)],
        [("K", base + 0 * m, False), ("K", base + 11 * m, False)],
        [("ZZ_flush", base + 24 * 60 * 60 * 1000, True)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(0.05)  # distinct mtimes -> deterministic replay order
    stream = streaming.read_parquet_stream(spark, src, schema)
    labeled = stateful.run_state_stream(
        stream, "k", "ts_ms", "running",
        shutdown_window_s=600, transition_window_s=900, watermark="3 hours",
    )
    sink = ExactlyOnceParquetSink(sink_dir)
    q = streaming.start_exactly_once(labeled, sink, ckpt)
    assert q.awaitTermination(300)
    got = {r.ts_ms: r.run_state for r in sink.read(spark).collect() if r.k == "K"}

    ts = [base + i * m for i in (0, 10, 11)]
    exp = _run_state_oracle(
        [pd.Timestamp(t, unit="ms") for t in ts], [False] * 3, 600, 900
    )
    assert exp == ["RUNNING", "SHUTDOWN", "SHUTDOWN"]
    batch = stateful.run_state_batch(
        spark.createDataFrame([("K", t, False) for t in ts], schema).withColumn(
            "timestamp", F.timestamp_millis("ts_ms")
        ),
        ["k"], "timestamp", "running",
        shutdown_window_s=600, transition_window_s=900,
    )
    assert {r.ts_ms: r.run_state for r in batch.collect()} == dict(zip(ts, exp))
    assert got == dict(zip(ts, exp))


def test_rising_edge_dedup(spark):
    alarms = spark.createDataFrame(
        [("E1", "r1"), ("E1", "r2"), ("E2", "r1")], "equip string, rule_id string"
    )
    prev = spark.createDataFrame(
        [("E1", "r1", True), ("E1", "r2", False), ("E2", "r1", False)],
        "equip string, rule_id string, active boolean",
    )
    out = stateful.dedup_rising_edge_batch(alarms, prev, ["equip", "rule_id"])
    got = {(r.equip, r.rule_id) for r in out.collect()}
    assert got == {("E1", "r2"), ("E2", "r1")}  # E1/r1 was already active
    nxt = stateful.alert_state_from(out, alarms, ["equip", "rule_id"]).collect()
    state = {(r.equip, r.rule_id): r.active for r in nxt}
    assert state[("E1", "r2")] and state[("E2", "r1")] and not state[("E1", "r1")]


def test_run_state_batch_is_single_shuffle(spark, run_frame):
    """The whole batch state machine stays on one window partitioning
    (the key): a second (key, cohort) exchange would double the shuffle
    volume of every run-state query at scale."""
    df, _ = run_frame
    out = stateful.run_state_batch(
        df, ["k"], "timestamp", "running",
        shutdown_window_s=600, transition_window_s=900,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_rate_limit_batch_equals_stream_equals_oracle(spark, tmp_path):
    """T8 per-key rate limiter: batch (applyInPandas chain) == streaming
    (keyed state) == the reference greedy chain (llm_job.py:57-70 in
    event time): emit iff >= min_interval since the last EMITTED row."""
    ts = pd.date_range("2026-01-01", periods=50, freq="7min")
    pdf = pd.DataFrame({"k": ["E1"] * 30 + ["E2"] * 20, "timestamp": list(ts[:30]) + list(ts[:20])})
    pdf["ts_ms"] = pdf.timestamp.astype("int64") // 10**6

    def chain(group):
        out, last = [], None
        for t in group:
            s = int(t.timestamp())
            if last is None or s - last >= 1800:
                out.append(t)
                last = s
        return out

    exp = {
        (k, t)
        for k, g in pdf.groupby("k")
        for t in chain(sorted(g.timestamp))
    }

    df = spark.createDataFrame(pdf)
    got_batch = {
        (r.k, r.timestamp)
        for r in stateful.rate_limit_per_key(
            df, ["k"], "timestamp", min_interval_s=1800
        ).collect()
    }
    assert got_batch == exp

    src, sink_dir, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    # sentinel on a throwaway key: the buffered rate limiter (like any
    # watermark-closed operator) releases a row only once the watermark
    # passes it, so the stream needs one later event to flush the tail
    flush_ms = int(pdf.ts_ms.max()) + 3_600_000
    with_sentinel = df.select("k", "ts_ms").unionByName(
        spark.createDataFrame([("ZZ_flush", flush_ms)], "k string, ts_ms long")
    )
    streaming.write_stream_source(with_sentinel, src, n_files=3, order_col="ts_ms")
    stream = streaming.read_parquet_stream(spark, src, "k string, ts_ms long")
    limited = stateful.rate_limit_stream(
        stream, "k", "ts_ms", min_interval_s=1800
    )
    sink = ExactlyOnceParquetSink(sink_dir)
    q = streaming.start_exactly_once(limited, sink, ckpt)
    assert q.awaitTermination(300)
    got_stream = {
        (r.k, pd.Timestamp(r.ts_ms, unit="ms"))
        for r in sink.read(spark).collect()
        if r.k != "ZZ_flush"
    }
    assert got_stream == exp


def test_rate_limit_stream_out_of_order_across_batches(spark, tmp_path):
    """Disorder within the watermark across micro-batches must not
    change the emit set: rows are buffered in keyed state and released
    in event-time order once the watermark passes them. Arrival order
    here is t=20min, then t=0/45min — a chain applied in arrival order
    would emit {20} (0 is behind last_emit; 45-20 < 30min); the correct
    event-time greedy emits {0, 45}."""
    import time as _time

    base = int(pd.Timestamp("2026-02-01").timestamp() * 1000)
    m = 60_000
    src, sink_dir, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    batches = [
        [("K", base + 20 * m)],
        [("K", base + 0 * m), ("K", base + 45 * m)],
        [("ZZ_flush", base + 24 * 60 * 60 * 1000)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "k string, ts_ms long").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(0.05)  # distinct mtimes -> deterministic replay order
    stream = streaming.read_parquet_stream(spark, src, "k string, ts_ms long")
    limited = stateful.rate_limit_stream(
        stream, "k", "ts_ms", min_interval_s=1800, watermark="3 hours"
    )
    sink = ExactlyOnceParquetSink(sink_dir)
    q = streaming.start_exactly_once(limited, sink, ckpt)
    assert q.awaitTermination(300)
    got = {r.ts_ms for r in sink.read(spark).collect() if r.k == "K"}
    assert got == {base + 0 * m, base + 45 * m}
