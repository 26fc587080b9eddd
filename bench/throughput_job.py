"""Scaling-runner worker: the fused audio match streaming job at a
given parallelism, launched via spark-submit --py-files sparkfp.zip
(the north rule's launch mode) by bench/run_scaling.py.

    spark-submit --master local[N] --py-files sparkfp.zip \
        bench/throughput_job.py --cores N --clips 8192

Prints one JSON line: {"cores": N, "clips": M, "elapsed_s": T,
"clips_per_sec": M/T, "steady_clips_per_sec": ..., ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
import time

TRACKS = 8
FILES = 64
FILES_PER_TRIGGER = 32
# shuffle partition count is FIXED across parallelism levels: it is a
# property of the query, not the cluster, so the legs vary only compute
SHUFFLE_PARTITIONS = 32


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--clips", type=int, default=2048)
    args = ap.parse_args()

    from sparkfp import matching, metrics, streaming, synth
    from sparkfp.session import get_spark
    from sparkfp.sink import ExactlyOnceParquetSink

    spark = get_spark(
        f"sparkfp-scale-{args.cores}",
        cores=args.cores,
        shuffle_partitions=SHUFFLE_PARTITIONS,
    )
    tmp = tempfile.mkdtemp(prefix=f"sparkfp_scale_{args.cores}_")
    try:
        src = os.path.join(tmp, "src")
        sink_dir = os.path.join(tmp, "sink")
        ckpt = os.path.join(tmp, "ckpt")

        index = matching.build_index(synth.tracks(spark, n_tracks=TRACKS)).cache()
        index.count()
        clips = synth.clips(
            spark, n_clips=args.clips, n_tracks=TRACKS,
            partitions=max(args.cores * 2, 8),
        )
        streaming.write_stream_source(clips, src, n_files=FILES)

        stream = streaming.read_clip_stream(
            spark, src, max_files_per_trigger=FILES_PER_TRIGGER
        )
        sink = ExactlyOnceParquetSink(sink_dir)
        # pre-warm OUTSIDE the timed window, identically at every
        # parallelism: one small batch through the same fused matcher
        # spins up the per-core Python workers (spark.python.worker.
        # reuse keeps them alive), pays numpy/sparkfp import and
        # first-call JIT/codegen once, and deserializes the broadcast
        # index on every worker. Without this the timed window charges
        # ~1-2 s of interpreter startup against the run — a fixed cost
        # a long-running cluster job amortizes away, and the dominant
        # distortion of the narrow-vs-wide comparison (the wide leg's
        # run is shorter, so the same fixed cost costs it more).
        warm = synth.clips(
            spark, n_clips=max(args.cores * 8, 32), n_tracks=TRACKS,
            partitions=args.cores,
        )
        matching.match_clips_fused(warm, index).count()
        t0 = time.time()
        q = streaming.match_stream_fused(stream, index, sink, ckpt)
        terminated = q.awaitTermination(900)
        elapsed = time.time() - t0
        # a timed-out availableNow run would yield clips/elapsed over a
        # partial drain and overstate throughput in BENCH/BASELINE.md
        if not terminated:
            raise RuntimeError("scaling leg timed out before draining the stream")
        lineage = metrics.collect_lineage(q)
        fed = sum(
            int(json.loads(p.json).get("numInputRows") or 0)
            for p in q.recentProgress
        )
        if fed != args.clips:
            raise RuntimeError(f"scaling leg drained {fed} of {args.clips} clips")

        # steady-state rate: rows/triggerExecution of the LAST data
        # batch. End-to-end clips/s carries ~2-4 s of per-run serial
        # cost (query start, worker spin-up, final commit) that a
        # long-running cluster job amortizes away; that serial slice
        # deflates the wide leg's measured speedup (Amdahl on harness
        # overhead, not on the engine).
        batches = [
            (
                int(json.loads(p.json).get("numInputRows") or 0),
                int(json.loads(p.json)["durationMs"].get("triggerExecution") or 0),
            )
            for p in q.recentProgress
        ]
        data_batches = [(r, ms) for r, ms in batches if r > 0]
        sr, sms = data_batches[-1] if data_batches else (0, 1)
        print(
            json.dumps(
                {
                    "cores": args.cores,
                    "clips": args.clips,
                    "elapsed_s": round(elapsed, 3),
                    "clips_per_sec": round(args.clips / elapsed, 3),
                    "steady_clips_per_sec": round(sr / (sms / 1000.0), 3),
                    "batches": data_batches,
                    "lineage_batches": len(lineage),
                    "rows_seen": sum(r["rows"] or 0 for r in lineage),
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
