"""The engine side of a run, driven only through sparkfp's public API
(``streaming.match_stream_fused`` into ``sink.ExactlyOnceParquetSink``),
and the checks of its outputs."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import instrument
import pyarrow.parquet as pq
from instrument import Tracer

T0 = time.perf_counter()
QUERY_TIMEOUT_S = 120
BIN_MS = 100  # the matcher's vote bin


def log(msg: str) -> None:
    sys.stderr.write(f"perfbench {time.perf_counter() - T0:7.2f}s {msg}\n")
    sys.stderr.flush()


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    manifest: dict
    work: str
    cores: int
    seconds: int
    _n: int = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{tag}-{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d


class TimedSink:
    """The exactly-once sink behind a timing wrapper: records when each
    batch's sink call started and returned (= committed)."""

    def __init__(self, path: str, tracer: Tracer):
        from sparkfp.sink import ExactlyOnceParquetSink

        self.sink = ExactlyOnceParquetSink(path)
        self.tracer = tracer
        self.calls: dict[int, tuple[float, float]] = {}

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        self.sink(batch_df, batch_id)
        t1 = time.perf_counter()
        self.calls[batch_id] = (t0, t1)
        self.tracer.add("sink.call", t0, t1)

    def ledger(self) -> set[int]:
        return {int(f.split(".")[0]) for f in os.listdir(self.sink.ledger_dir)
                if f.endswith(".done")}


@dataclass
class Drain:
    clips: int
    seconds: float
    progress: list[dict]
    sink: TimedSink
    ckpt: str
    cpu_s: float  # CPU time of the whole process tree during the drain
    steal: float  # share of all vCPU time the host stole during the drain
    failed: int = 0
    detail: dict = field(default_factory=dict)

    @property
    def rate(self) -> float:
        return self.clips / self.seconds


def session(cores: int, work: str, tracer: Tracer):
    """SparkSession with every temporary path inside the run's work dir."""
    from sparkfp.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with tracer.span("session.get_spark"):
        spark = get_spark(
            "perfbench", cores=cores,
            extra_conf={
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    log(f"session local[{cores}] up")
    return spark


def build_index(ctx: Ctx):
    from sparkfp import matching

    with ctx.tracer.span("matching.build_index"):
        idx = matching.build_index(ctx.spark.read.parquet(ctx.manifest["catalogue"]))
        idx = idx.cache()
        n = idx.count()
    log(f"index built: {n} rows")
    return idx


def drain(ctx: Ctx, idx, files_per_trigger: int, tag: str) -> Drain:
    """One availableNow drain of the staged clips into a fresh sink and
    checkpoint; the clock runs from the started query to its end."""
    from sparkfp import streaming

    d = ctx.fresh_dir(tag)
    sink = TimedSink(os.path.join(d, "sink"), ctx.tracer)
    ckpt = os.path.join(d, "ckpt")
    with ctx.tracer.span(f"drain.{tag}"):
        stream = streaming.read_clip_stream(ctx.spark, ctx.manifest["src"],
                                            files_per_trigger)
        with ctx.tracer.span("streaming.match_stream_fused"):
            q = streaming.match_stream_fused(stream, idx, sink, ckpt)
        st0, cpu0 = instrument.steal_jiffies(), instrument.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        with ctx.tracer.span("streaming.run"):
            done = q.awaitTermination(QUERY_TIMEOUT_S)
        t1 = time.perf_counter()
        cpu1, st1 = instrument.tree_cpu_s(os.getpid()), instrument.steal_jiffies()
    if not done:
        q.stop()
        raise RuntimeError(f"drain {tag} did not finish in {QUERY_TIMEOUT_S} s")
    if q.exception() is not None:
        raise RuntimeError(f"drain {tag}: {q.exception()}")
    prog = [json.loads(p.json) for p in q.recentProgress]
    n = sum(int(p.get("numInputRows") or 0) for p in prog)
    steal = instrument.steal_share(st0, st1)
    log(f"drain {tag}: {n} clips in {t1 - t0:.2f} s, {cpu1 - cpu0:.2f} CPU s, "
        f"steal {steal:.1%}")
    return Drain(n, t1 - t0, prog, sink, ckpt, cpu1 - cpu0, steal)


def staged_ids(ctx: Ctx) -> set[str]:
    src = ctx.manifest["src"]
    ids = set()
    for f in os.listdir(src):
        ids.update(pq.read_table(os.path.join(src, f), columns=["clip_id"])
                   .column(0).to_pylist())
    return ids


def check(d: Drain, truth: dict, ids: set[str]) -> None:
    """Failures: a clip matched to the wrong track or offset, a clip with
    no row, a duplicate row, a row for noise or a corrupt clip, and any
    batch the ledger does not hold exactly once."""
    rows = []
    for b in sorted(d.sink.ledger()):
        p = os.path.join(d.sink.sink.table_path, f"batch_id={b}")
        if os.path.isdir(p):
            rows += pq.read_table(p).to_pylist()
    seen: dict[str, int] = {}
    wrong = spurious = 0
    for r in rows:
        cid = r["clip_id"]
        seen[cid] = seen.get(cid, 0) + 1
        t = truth.get(cid) if cid in ids else None
        if t is None or t["noise"]:
            spurious += 1
        elif (r["matched_track"] != t["track"]
              or abs(r["offset_ms"] - t["offset_ms"] // BIN_MS * BIN_MS) > BIN_MS):
            # the reported offset is a bin's lower edge, and the STFT hop
            # can carry it across one bin edge: it must land in the true
            # bin or a neighbour
            wrong += 1
    dup = sum(c - 1 for c in seen.values())
    missing = sum(1 for c in ids if not truth[c]["noise"] and c not in seen)
    ledger_bad = len(d.sink.ledger() ^ set(d.sink.calls))
    d.detail = {"wrong": wrong, "missing": missing, "duplicate": dup,
                "spurious": spurious, "ledger_mismatch": ledger_bad}
    d.failed = min(len(ids), wrong + missing + dup + spurious + ledger_bad)


def quarantine_check(ctx: Ctx) -> tuple[int, dict]:
    """The quarantined rows must be exactly the corrupt ones. Runs
    outside the timed window. Returns (failures, count by reason)."""
    from sparkfp import dsp

    q = dsp.quarantine_clips(ctx.spark.read.parquet(ctx.manifest["src"])).collect()
    want = {c for c, t in ctx.manifest["truth"].items() if t.get("corrupt")}
    reasons: dict[str, int] = {}
    for r in q:
        k = r.reason.split(":")[0]
        reasons[k] = reasons.get(k, 0) + 1
    return len({r.clip_id for r in q} ^ want), reasons
