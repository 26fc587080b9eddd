"""One benchmark run: set-up, the measured window, the output checks,
and, with ``--trace 1``, the per-layer legs. Layer timings come from
calls into each sparkfp module's public functions made here, and from
``StreamingQueryProgress``; nothing is timed inside sparkfp itself."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time
from dataclasses import dataclass, field

import gen
import instrument
import pyarrow.parquet as pq
import workloads as W
from instrument import median

# drains after start-up keep getting cheaper until the JVM's JIT has seen
# ~6k clips: on a 4-vCPU VM, 2048-clip drains in a row took 6.0, 4.0, 4.1,
# 3.6, 3.6, 3.5 s (20.9, 14.1, 14.4, 12.9, 12.5, 12.3 CPU s). clips_mixed
# does its work in the Python workers and is warm after one drain (its
# drains in a row: 20.6, 18.8, 18.6, 18.9 CPU s). Set-up therefore ends with
# WARM_DRAINS full drains, and the window takes the median of at least
# MIN_DRAINS more, drained until --seconds have passed.
WARM_DRAINS = {"clips_drain": 3, "clips_mixed": 1}
MIN_DRAINS = 3
CHAIN_SAMPLE = 64  # clean clips timed through the Spark-free chain
WINDOW_MS = 60_000  # fingerprint.WINDOW
WATERMARK_MS = 10_000  # fingerprint.WATERMARK


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)


def run(args, manifest, tracer, work, t_process, steal_process, excluded_s) -> Result:
    ctx = W.Ctx(None, tracer, manifest, work, instrument.n_cores(), args.seconds)
    ctx.spark = W.session(ctx.cores, work, tracer)
    fpt = gen.FILES_PER_TRIGGER[args.workload]
    idx = W.build_index(ctx)
    for i in range(WARM_DRAINS[args.workload]):
        W.drain(ctx, idx, fpt, f"warm{i}")
    setup_s = time.perf_counter() - t_process - excluded_s
    steal_setup = instrument.steal_share(steal_process, instrument.steal_jiffies())

    if args.trace:
        # one untraced and one traced drain: their ratio is the tracing
        # overhead
        tracer.enabled = False
        drains = [W.drain(ctx, idx, fpt, "m0")]
        tracer.enabled = True
        drains.append(W.drain(ctx, idx, fpt, "m1"))
    else:
        drains = []
        t0 = time.perf_counter()
        while len(drains) < MIN_DRAINS or time.perf_counter() - t0 < ctx.seconds:
            drains.append(W.drain(ctx, idx, fpt, f"m{len(drains)}"))
    steal_run = instrument.steal_share(steal_process, instrument.steal_jiffies())

    res = Result()
    truth, ids = manifest["truth"], W.staged_ids(ctx)
    for d in drains:
        W.check(d, truth, ids)
        res.attempted += len(ids)
        res.failed += d.failed
    res.record["checks"] = [d.detail for d in drains]
    reasons = {}
    if args.workload == "clips_mixed":
        qfail, reasons = W.quarantine_check(ctx)
        res.failed += qfail
        res.record["quarantine"] = {"failed": qfail, "reasons": reasons}
    W.log(f"checked: {res.failed} failed of {res.attempted}")
    rate = median(d.rate for d in drains)
    cpu_ms = median(d.cpu_s * 1000.0 / d.clips for d in drains)
    valid = max(steal_setup, steal_run) <= instrument.STEAL_MAX
    if not valid:
        W.log(f"invalid run: the host stole {steal_setup:.1%} of set-up and "
              f"{steal_run:.1%} of the run (limit {instrument.STEAL_MAX:.0%})")
    res.record.update(clips_per_s=rate, cpu_ms_per_clip=cpu_ms, setup_s=setup_s,
                      drain_rates=[d.rate for d in drains],
                      drain_cpu_s=[d.cpu_s for d in drains],
                      drain_steal=[d.steal for d in drains],
                      steal_setup=steal_setup, steal_run=steal_run, valid=valid)
    if not args.trace:
        res.metrics.update(clips_per_s=(rate, "1/s"), setup_s=(setup_s, "s"))
        _finish(res)
        return res

    m = res.metrics
    m["noise.steal_frac"] = (steal_run, "ratio")
    m["noise.steal_frac_setup"] = (steal_setup, "ratio")
    m["trace.overhead_frac"] = (drains[1].seconds / drains[0].seconds - 1.0, "ratio")
    m["session.get_spark_s"] = (_span_s(ctx, "session.get_spark"), "s")
    m["matching.build_index_s"] = (_span_s(ctx, "matching.build_index"), "s")
    m["dsp.quarantined_clips"] = (sum(reasons.values()), "count")
    for k in ("ValueError", "UnsupportedCodec"):
        m[f"dsp.quarantined_clips.{k}"] = (reasons.get(k, 0), "count")
    traced = drains[1]
    _stream_layers(m, traced)
    m["streaming.backlog_files_max"] = (
        _backlog_files_max(traced.ckpt, len(os.listdir(manifest["src"]))), "count")
    _sink_layers(ctx, m, traced.sink)
    _index_layers(ctx, m, idx)
    _chain_layers(ctx, m, args.workload == "clips_mixed")
    _engine_layers(ctx, m, idx)
    # how much of the traced drain the layers explain: the fused operator
    # (itself split into scan, codec, dsp and residual), trigger
    # overhead, query lifecycle and the sink's writes
    total = ctx.cores * traced.seconds * 1000.0 / traced.clips
    n_batches = m["streaming.batches"][0]
    other = (m["streaming.overhead_ms_p50"][0] * n_batches + m["streaming.lifecycle_ms"][0]
             + m["sink.write_ms_per_batch"][0] * n_batches) * ctx.cores / traced.clips
    m["engine.drain_core_ms_per_clip"] = (total, "ms")
    # CPU time the process tree spent, against the cores x wall above
    m["engine.cpu_ms_per_clip"] = (traced.cpu_s * 1000.0 / traced.clips, "ms")
    m["trace.accounted_frac"] = ((m["matching.fused_core_ms_per_clip"][0] + other) / total,
                                 "ratio")
    if args.workload == "clips_mixed":
        # the stateful job rides on the shorter traced run
        windows, bad = _sensor_leg(ctx, m, args.seed)
        res.attempted += windows
        res.failed += bad
    if args.workload == "clips_drain":
        _single_core(ctx, m, fpt, rate)
    for k, unit in PER_LAYER.items():
        m.setdefault(k, (0.0, unit))  # a layer this workload never reaches
    _finish(res)
    return res


def _finish(res: Result) -> None:
    res.correct = res.failed == 0
    res.record["error_frac"] = res.failed / res.attempted


def shutdown() -> None:
    """Stop Spark and the JVM it launched, and wait until that process
    tree (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    tree = {p: instrument.start_time(p) for p in [proc.pid, *instrument.descendants(proc.pid)]}
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None

    def alive() -> list[int]:
        # same PID and same start time: still the process of the tree
        return [p for p, t in tree.items() if t is not None and instrument.start_time(p) == t]

    end = time.time() + 30
    while time.time() < end and alive():
        time.sleep(0.05)
    for p in alive():
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


# ------------------------------------------------------------------ layers


def _span_s(ctx: W.Ctx, name: str) -> float:
    s = next(s for s in ctx.tracer.spans if s["name"] == name)
    return s["end"] - s["start"]


def _stream_layers(m, d: W.Drain) -> None:
    """Median trigger phases from StreamingQueryProgress.durationMs over
    the batches that read data, and the drain's time outside triggers."""
    data = [p for p in d.progress if int(p.get("numInputRows") or 0) > 0]
    dur = [p["durationMs"] for p in data]
    trig = [x.get("triggerExecution", 0) for x in dur]
    add = [x.get("addBatch", 0) for x in dur]
    m.update({
        "streaming.batches": (len(data), "count"),
        "streaming.rows_per_batch_p50": (median(int(p["numInputRows"]) for p in data), "count"),
        "streaming.trigger_ms_p50": (median(trig), "ms"),
        "streaming.add_batch_ms_p50": (median(add), "ms"),
        "streaming.planning_ms_p50": (median(x.get("queryPlanning", 0) for x in dur), "ms"),
        "streaming.wal_commit_ms_p50": (median(x.get("walCommit", 0) for x in dur), "ms"),
        "streaming.commit_offsets_ms_p50": (median(x.get("commitOffsets", 0) for x in dur), "ms"),
        "streaming.latest_offset_ms_p50": (median(x.get("latestOffset", 0) for x in dur), "ms"),
        "streaming.overhead_ms_p50": (median(t - a for t, a in zip(trig, add)), "ms"),
        # query start-up after start() returned, and shutdown
        "streaming.lifecycle_ms": (d.seconds * 1000.0 - sum(
            p["durationMs"].get("triggerExecution", 0) for p in d.progress), "ms"),
    })


def _backlog_files_max(ckpt: str, n_files: int) -> int:
    """Most staged files not yet read when a batch was planned, from the
    checkpoint's source log (one JSON line per file a batch reads; a
    ``.compact`` entry lists every file up to its batch). In a closed
    drain every file is staged before the start, so this is the file
    count unless a trigger reads nothing."""
    log = os.path.join(ckpt, "sources", "0")
    read = worst = 0
    names = [f for f in os.listdir(log) if not f.startswith(".")]  # no .crc files
    for name in sorted(names, key=lambda f: int(f.split(".")[0])):
        worst = max(worst, n_files - read)
        with open(os.path.join(log, name)) as f:
            n = sum(1 for line in f if line.startswith("{"))
        read = n if name.endswith(".compact") else read + n
    return worst


def _sink_layers(ctx: W.Ctx, m, sink: W.TimedSink) -> None:
    """Call time from the wrapper (includes the lazy batch compute);
    write time by replaying the committed rows into a fresh sink; skip
    time by offering a committed batch id again, which must leave the
    table untouched."""
    from sparkfp.sink import ExactlyOnceParquetSink

    m["sink.call_ms_p50"] = (median((b - a) * 1000.0 for a, b in sink.calls.values()), "ms")
    fresh = ExactlyOnceParquetSink(ctx.fresh_dir("replay"))
    writes, first = [], None
    for b in sorted(sink.ledger()):
        df = ctx.spark.read.parquet(os.path.join(sink.sink.table_path, f"batch_id={b}")).cache()
        df.count()
        t0 = time.perf_counter()
        fresh(df, b)
        writes.append((time.perf_counter() - t0) * 1000.0)
        first = first or (df, b)
    m["sink.write_ms_per_batch"] = (median(writes), "ms")
    out = os.path.join(fresh.table_path, f"batch_id={first[1]}")
    before = {f: os.stat(os.path.join(out, f)).st_mtime_ns for f in os.listdir(out)}
    t0 = time.perf_counter()
    fresh(*first)
    m["sink.replay_skip_ms"] = ((time.perf_counter() - t0) * 1000.0, "ms")
    after = {f: os.stat(os.path.join(out, f)).st_mtime_ns for f in os.listdir(out)}
    if before != after:
        raise RuntimeError("the sink rewrote an already-committed batch on replay")


def _index_layers(ctx: W.Ctx, m, idx) -> None:
    from sparkfp import matching

    with ctx.tracer.span("matching.index_arrays"):
        t0 = time.perf_counter()
        arr = matching.index_arrays(idx)
        dt = time.perf_counter() - t0
    m.update({
        "matching.index_arrays_s": (dt, "s"),
        "matching.index_rows": (len(arr[0]), "count"),
        "matching.index_bytes": (arr[0].nbytes + arr[1].nbytes + arr[3].nbytes, "bytes"),
    })


def _chain_sample(ctx: W.Ctx, per_stratum: bool) -> list[dict]:
    """Clean staged clips in file order: the first CHAIN_SAMPLE, or the
    first of each (codec, rate) stratum."""
    src, truth = ctx.manifest["src"], ctx.manifest["truth"]
    out, seen = [], set()
    for f in sorted(os.listdir(src)):
        for c in pq.read_table(os.path.join(src, f)).to_pylist():
            key = (c["codec"], c["sr_hz"]) if per_stratum else c["clip_id"]
            if "corrupt" in truth[c["clip_id"]] or key in seen:
                continue
            seen.add(key)
            out.append(c)
            if not per_stratum and len(out) == CHAIN_SAMPLE:
                return out
    return out


def _chain_layers(ctx: W.Ctx, m, per_stratum: bool) -> None:
    """The Spark-free per-clip chain on one thread, over a sample of the
    workload's own clips: codec.decode -> dsp.resample -> dsp.stft_mag
    -> dsp.constellation_peaks -> dsp.landmark_hashes."""
    from sparkfp import codec, dsp

    clips = _chain_sample(ctx, per_stratum)
    t = dict.fromkeys(("decode", "resample", "stft", "peaks", "hashes"), 0.0)
    by_codec: dict[str, list[float]] = {}
    n_ok = n_lm = 0
    with ctx.tracer.span("chain"):
        for c in clips:
            raw, sr, name = c["bytes"], int(c["sr_hz"]), c["codec"]
            t0 = time.perf_counter()
            pcm = codec.decode(raw, name)
            t1 = time.perf_counter()
            if sr != dsp.SR_REF:
                pcm = dsp.resample(pcm, sr, dsp.SR_REF)
            t2 = time.perf_counter()
            mag = dsp.stft_mag(pcm)
            t3 = time.perf_counter()
            peaks = dsp.constellation_peaks(mag)
            t4 = time.perf_counter()
            h, _ = dsp.landmark_hashes(peaks, dsp.SR_REF)
            t5 = time.perf_counter()
            n_ok += 1
            n_lm += len(h)
            for k, a, b in (("decode", t0, t1), ("resample", t1, t2), ("stft", t2, t3),
                            ("peaks", t3, t4), ("hashes", t4, t5)):
                t[k] += b - a
            by_codec.setdefault(name, []).append((t1 - t0) * 1000.0)
    per = 1000.0 / n_ok
    m.update({
        "chain.sample_clips": (n_ok, "count"),
        "codec.decode_core_ms_per_clip": (t["decode"] * per, "ms"),
        "codec.bytes_per_clip": (sum(len(c["bytes"]) for c in clips) / len(clips), "bytes"),
        "dsp.resample_core_ms_per_clip": (t["resample"] * per, "ms"),
        "dsp.stft_core_ms_per_clip": (t["stft"] * per, "ms"),
        "dsp.peaks_core_ms_per_clip": (t["peaks"] * per, "ms"),
        "dsp.hashes_core_ms_per_clip": (t["hashes"] * per, "ms"),
        "dsp.landmarks_per_clip": (n_lm / n_ok, "count"),
    })
    for name, xs in by_codec.items():
        m[f"codec.decode_core_ms_per_clip.{name}"] = (sum(xs) / len(xs), "ms")


def _engine_layers(ctx: W.Ctx, m, idx) -> None:
    """Batch legs over the staged clips into the noop sink: the Arrow
    scan alone (a pass-through mapInPandas that touches ``bytes``), and
    the fused matcher. Core-ms per clip = cores x wall / clips."""
    import pandas as pd
    from sparkfp import matching

    spark, src = ctx.spark, ctx.manifest["src"]
    n = len(ctx.manifest["truth"])

    def touch(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [sum(len(b) for b in pdf["bytes"])]})

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    with ctx.tracer.span("engine.arrow_scan"):
        scan_s = timed(spark.read.parquet(src).mapInPandas(touch, "n long"))
    fused_df = matching.match_clips_fused(spark.read.parquet(src), idx)
    with ctx.tracer.span("matching.fused"):
        fused_s = timed(fused_df)
    k = ctx.cores * 1000.0 / n
    parts = ("codec.decode_core_ms_per_clip", "dsp.resample_core_ms_per_clip",
             "dsp.stft_core_ms_per_clip", "dsp.peaks_core_ms_per_clip",
             "dsp.hashes_core_ms_per_clip")
    m.update({
        "engine.arrow_scan_core_ms_per_clip": (scan_s * k, "ms"),
        "matching.fused_core_ms_per_clip": (fused_s * k, "ms"),
        # the probe, the vote and the Python boundary
        "matching.residual_core_ms_per_clip": (
            (fused_s - scan_s) * k - sum(m[p][0] for p in parts), "ms"),
    })


def _sensor_leg(ctx: W.Ctx, m, seed: int) -> tuple[int, int]:
    """The reference's core job: one availableNow drain of staged sensor
    events through ``streaming.fingerprint_stream`` (1-min tumbling
    window, 10 s watermark, RocksDB state) into the timed sink, with the
    state layers from ``stateOperators``. Its rows must equal
    ``fingerprint.pipeline`` run in batch over the same files, and every
    window the final watermark closed must be there. Returns (expected
    windows, failures)."""
    from sparkfp import fingerprint, streaming

    sens = gen.stage_sensors(seed)
    d = ctx.fresh_dir("sensors")
    sink = W.TimedSink(os.path.join(d, "sink"), ctx.tracer)
    with ctx.tracer.span("streaming.fingerprint_stream"):
        stream = streaming.read_sensor_stream(ctx.spark, sens["src"])
        q = streaming.fingerprint_stream(stream, sink, os.path.join(d, "ckpt"))
        t0 = time.perf_counter()
        done = q.awaitTermination(W.QUERY_TIMEOUT_S)
        secs = time.perf_counter() - t0
    if not done:
        q.stop()
        raise RuntimeError(f"sensor drain did not finish in {W.QUERY_TIMEOUT_S} s")
    if q.exception() is not None:
        raise RuntimeError(f"sensor drain: {q.exception()}")
    prog = [json.loads(p.json) for p in q.recentProgress]
    data = [p for p in prog if int(p.get("numInputRows") or 0) > 0]

    def per_batch(key: str) -> float:  # summed over the stateful operators
        return median(sum(o[key] for o in p["stateOperators"]) for p in data)

    m.update({
        "sensor.events_per_s": (sens["events"] / secs, "1/s"),
        "sensor.trigger_ms_p50": (
            median(p["durationMs"].get("triggerExecution", 0) for p in data), "ms"),
        "state.commit_ms_per_batch": (per_batch("commitTimeMs"), "ms"),
        "state.updates_ms_per_batch": (per_batch("allUpdatesTimeMs"), "ms"),
        "state.rows_total": (sum(o["numRowsTotal"] for o in prog[-1]["stateOperators"]),
                             "count"),
        "state.memory_bytes": (max(sum(o["memoryUsedBytes"] for o in p["stateOperators"])
                                   for p in prog), "bytes"),
        "state.rows_dropped_by_watermark": (sum(o["numRowsDroppedByWatermark"]
                                                for p in prog for o in p["stateOperators"]),
                                            "count"),
    })
    W.log(f"sensor drain: {sens['events']} events in {secs:.2f} s")

    exp = {(r.equip_id, r.start_ms): r.data
           for r in fingerprint.pipeline(ctx.spark.read.parquet(sens["src"])).collect()}
    closed = sens["end_ms"] - WATERMARK_MS
    want = {k for k in exp if k[1] + WINDOW_MS <= closed}
    got = sink.sink.read(ctx.spark).collect()
    keys = [(r.equip_id, r.start_ms) for r in got]
    bad = (len(keys) - len(set(keys))
           + sum(1 for r in got if exp.get((r.equip_id, r.start_ms)) != r.data)
           + len(want - set(keys))
           + len(sink.ledger() ^ set(sink.calls)))
    W.log(f"sensor check: {bad} failed of {len(want)} windows")
    return len(want), min(len(want), bad)


def _single_core(ctx: W.Ctx, m, fpt: int, rate_n: float) -> None:
    """The same drain at local[1] against the local[N] median."""
    ctx.spark.stop()
    ctx.spark = W.session(1, ctx.work, ctx.tracer)
    idx = W.build_index(ctx)
    # the JVM and its JIT state survive the restart; the index build
    # starts the one Python worker, so no warm-up drain is needed here
    one = W.drain(ctx, idx, fpt, "1core")
    m["engine.clips_per_s_1core"] = (one.rate, "1/s")
    m["engine.scaling_eff_1to4"] = (rate_n / (ctx.cores * one.rate), "ratio")


# every per-layer metric, with its unit
PER_LAYER = {
    "session.get_spark_s": "s", "matching.build_index_s": "s",
    "matching.index_arrays_s": "s", "matching.index_rows": "count",
    "matching.index_bytes": "bytes",
    "chain.sample_clips": "count",
    "codec.decode_core_ms_per_clip": "ms", "codec.bytes_per_clip": "bytes",
    **{f"codec.decode_core_ms_per_clip.{c}": "ms"
       for c in ("pcm_s16le", "ulaw", "adpcm", "flac", "mp1", "mp2")},
    "dsp.resample_core_ms_per_clip": "ms", "dsp.stft_core_ms_per_clip": "ms",
    "dsp.peaks_core_ms_per_clip": "ms", "dsp.hashes_core_ms_per_clip": "ms",
    "dsp.landmarks_per_clip": "count", "dsp.quarantined_clips": "count",
    "dsp.quarantined_clips.ValueError": "count",
    "dsp.quarantined_clips.UnsupportedCodec": "count",
    "engine.arrow_scan_core_ms_per_clip": "ms", "engine.drain_core_ms_per_clip": "ms",
    "engine.cpu_ms_per_clip": "ms",
    "engine.clips_per_s_1core": "1/s", "engine.scaling_eff_1to4": "ratio",
    "matching.fused_core_ms_per_clip": "ms", "matching.residual_core_ms_per_clip": "ms",
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms", "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms", "streaming.latest_offset_ms_p50": "ms",
    "streaming.overhead_ms_p50": "ms", "streaming.lifecycle_ms": "ms",
    "streaming.backlog_files_max": "count",
    "sensor.events_per_s": "1/s", "sensor.trigger_ms_p50": "ms",
    "state.commit_ms_per_batch": "ms", "state.updates_ms_per_batch": "ms",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.rows_dropped_by_watermark": "count",
    "sink.call_ms_p50": "ms", "sink.write_ms_per_batch": "ms", "sink.replay_skip_ms": "ms",
    "mem.peak_rss_mb": "MB", "mem.peak_rss_python_mb": "MB",
    "gen.stage_s": "s", "noise.probe_ratio": "ratio", "noise.steal_frac": "ratio",
    "noise.steal_frac_setup": "ratio",
    "trace.overhead_frac": "ratio", "trace.accounted_frac": "ratio",
}
