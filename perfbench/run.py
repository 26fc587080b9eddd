"""Streaming benchmark for sparkfp.

    python3 perfbench/run.py --workload clips_drain --seed 1 --seconds 8 --trace 0

Run from the repository root. One workload per call, through sparkfp's
public streaming API: availableNow drains of staged parquet clips
through ``streaming.match_stream_fused`` into the exactly-once sink,
repeated for at least ``--seconds``. Every output row is checked
against the generator's ground truth. The last stdout line is one JSON
object, ``{"correct", "attempted", "failed", "metrics"}``: ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
BENCHMARK.json for both lists). Each run also appends a record with the
staged-input digest, the noise probe and every detail to
``perfbench/.results/runs.jsonl``; ``compare.py`` reads those records.

Workloads (both closed loops against the 8-track catalogue):
  clips_drain  2048 8 kHz pcm_s16le clips, 70% track excerpts, 30% noise
  clips_mixed  64 four-second clips in ulaw/adpcm/flac/mp1/mp2 at 8-48 kHz,
               two of them corrupt (truncated, unknown codec)
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import instrument  # noqa: E402

STEAL_PROCESS = instrument.steal_jiffies()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
from multiprocessing import resource_tracker  # noqa: E402

WORKLOADS = ("clips_drain", "clips_mixed")


def _fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("sparkfp") is None:
        _fail("the sparkfp package is not importable from the working directory")

    import gen
    import legs
    import workloads

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temporary file of the run (Spark shuffle and broadcast
    # blocks, Python temp files) inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files under /tmp from the JVMs Spark launches
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    t = time.perf_counter()
    noise = instrument.noise_probe()
    manifest = gen.stage(args.workload, args.seed)
    excluded_s = time.perf_counter() - t  # probe + staging: not setup
    workloads.log(f"noise ratio {noise['ratio']:.2f}, staged in {manifest['stage_s']:.2f} s")

    tracer = instrument.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
    try:
        with instrument.RssSampler() as rss:
            res = legs.run(args, manifest, tracer, work, T_PROCESS, STEAL_PROCESS,
                           excluded_s)
    finally:
        legs.shutdown()
        # the spawn pools of the probe and the stager leave multiprocessing's
        # resource tracker running until exit: stop it, so that no process
        # of the run outlives the run
        tracker = getattr(resource_tracker, "_resource_tracker", None)
        if hasattr(tracker, "_stop"):
            tracker._stop()
        shutil.rmtree(work, ignore_errors=True)
    workloads.log("engine stopped")
    res.record.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, digest=manifest["digest"], noise=noise,
        stage_s=manifest["stage_s"], peak_rss_mb=rss.peak / 2**20,
        peak_rss_python_mb=rss.peak_python / 2**20,
        unix_time=time.time(),
    )
    if args.trace:
        res.metrics.update({
            "gen.stage_s": (manifest["stage_s"], "s"),
            "noise.probe_ratio": (noise["ratio"], "ratio"),
            "mem.peak_rss_mb": (rss.peak / 2**20, "MB"),
            "mem.peak_rss_python_mb": (rss.peak_python / 2**20, "MB"),
        })
        tracer.write(os.path.join(HERE, ".results",
                                  f"trace-{args.workload}-s{args.seed}.json"))
    out = {
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()},
    }
    res.record["result"] = out
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    with open(os.path.join(HERE, ".results", "runs.jsonl"), "a") as f:
        f.write(json.dumps(res.record, default=str) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
