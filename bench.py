"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "clips_per_sec": ...}

The audio graft throughput (clips fingerprinted+matched per second —
the BASELINE.json north metric) is measured over a deterministic
synthesized clip corpus through the fused streaming matcher
(decode -> landmarks -> index probe -> per-clip vote -> exactly-once
sink). The N-vs-4N scaling evidence lives in bench/run_scaling.py
(appends to BENCH/scaling_runs.jsonl).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from perfbench.instrument import noise_probe  # noqa: E402
from sparkfp.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline queries: one per operator family, all scale-relevant at sf0.1
HEADLINE = [
    "fingerprint_stats",
    "pricing_summary",
    "interval_join",
    "broadcast_join",
    "topk_per_group",
    "sessionize",
    "run_state",
    "hampel",
    "dedup_exact",
    "minhash_signatures",
    "simhash",
    "text_quality",
    "ann_topk",
    "lowess",
    "lsh_topk",
    # NOT jaccard_pairs: the synthetic corpus is so template-heavy that
    # ~half of all doc pairs are genuine near-dups (6.3M output rows at
    # sf0.1, vs 231 s for DuckDB to produce the same set) — the runtime
    # is output-bound, so it benchmarks the corpus, not the engine.
    # The sf0.01 correctness gate still verifies it every round.
    "pii_scrub",
    "near_dup_keep",
]

# 8192 clips over two 4096-clip triggers: at 1024 clips the per-trigger
# fixed cost (stream init + per-batch Python worker spin-up + broadcast
# index deserialization, ~2 s) dominates and the bench measures trigger
# overhead, not engine throughput. 8192 matches the scaling runner's
# corpus (bench/run_scaling.py), so clips_per_sec is comparable to its
# legs.
N_BENCH_CLIPS = 8192
N_BENCH_FILES = 16
N_FILES_PER_TRIGGER = 8
# min-of-N per query: single-shot timings on a shared host swing with
# CPU contention. The MIN over N back-to-back runs is the
# least-disturbed observation and the right cross-round comparator;
# the spread records window dirt.
BENCH_REPS = 3


def _run_query(spark, fn) -> float:
    t0 = time.time()
    # count() drains the whole plan without driver-side materialization
    fn(spark, SF_DIR).count()
    return time.time() - t0


def _audio_throughput(spark) -> tuple[float, float]:
    """Full streaming graft pipeline; returns (clips/s, elapsed_s)."""
    from sparkfp import matching, streaming, synth
    from sparkfp.sink import ExactlyOnceParquetSink

    tmp = tempfile.mkdtemp(prefix="sparkfp_bench_")
    try:
        src, sink_dir, ckpt = (
            os.path.join(tmp, "src"),
            os.path.join(tmp, "sink"),
            os.path.join(tmp, "ckpt"),
        )
        index = matching.build_index(synth.tracks(spark, n_tracks=8)).cache()
        index.count()  # build the index outside the timed window
        clips = synth.clips(spark, n_clips=N_BENCH_CLIPS, n_tracks=8)
        streaming.write_stream_source(clips, src, n_files=N_BENCH_FILES)
        stream = streaming.read_clip_stream(
            spark, src, max_files_per_trigger=N_FILES_PER_TRIGGER
        )
        sink = ExactlyOnceParquetSink(sink_dir)
        t0 = time.time()
        q = streaming.match_stream_fused(stream, index, sink, ckpt)
        terminated = q.awaitTermination(600)
        elapsed = time.time() - t0
        # clips/s over a PARTIAL run would overstate throughput: require
        # the availableNow query to have drained every input clip
        if not terminated:
            raise RuntimeError("audio bench timed out before draining the stream")
        fed = sum(
            int(json.loads(p.json).get("numInputRows") or 0)
            for p in q.recentProgress
        )
        if fed != N_BENCH_CLIPS:
            raise RuntimeError(
                f"audio bench drained {fed} of {N_BENCH_CLIPS} clips"
            )
        return N_BENCH_CLIPS / elapsed, elapsed
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    # Spark-free noise probe BEFORE the session: CPU contention on a
    # shared host varies over time, so cross-round BENCH comparisons
    # need the window quality recorded next to the numbers
    probe = noise_probe()
    spark = get_spark("sparkfp-bench")
    queries = entrymod.queries()
    # untimed warmup: the first query otherwise pays ~5 s of one-time
    # JVM/codegen/scan-footer setup (measured 5.5 s cold vs 0.65 s warm
    # for the same query) and the bench would report harness startup,
    # not engine throughput
    # ...every table a headline query scans: a cold parquet footer read
    # costs ~1-3 s here and shows up as first-rep-only jitter (r5's
    # interval_join spread 3.24 s on a 2.02 s min traced to the cold
    # `orders` scan, not the join)
    for t in ("events", "lineitem", "documents", "orders", "part", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    queries["fingerprint_stats"](spark, SF_DIR).count()
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        try:
            reps = [_run_query(spark, queries[name]) for _ in range(BENCH_REPS)]
            timings[name] = round(min(reps), 3)
            spreads[name] = round(max(reps) - min(reps), 3)
        except Exception as e:  # a failed query shows as -1, not a crash
            sys.stderr.write(f"bench {name} failed: {e}\n")
            timings[name] = -1.0
    # the streaming pipeline is the headline metric AND the most
    # contention-exposed (longest wall-clock): best of 2 full drains
    audio_runs = [_audio_throughput(spark) for _ in range(2)]
    clips_per_sec, audio_sec = max(audio_runs, key=lambda r: r[0])
    timings["audio_match_stream"] = round(audio_sec, 3)
    spreads["audio_match_stream"] = round(
        max(s for _, s in audio_runs) - min(s for _, s in audio_runs), 3
    )
    total = round(sum(v for v in timings.values() if v > 0), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_spread": spreads,
                "bench_reps": BENCH_REPS,
                "sf": SF_DIR,
                "clips_per_sec": round(clips_per_sec, 2),
                "n_bench_clips": N_BENCH_CLIPS,
                "ambient_probe": probe,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
