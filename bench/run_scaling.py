"""N-vs-4N scaling runner: the identical streaming match job and input
at two parallelism levels, each in its own JVM launched with
``spark-submit --py-files sparkfp.zip`` (the north rule's launch mode)
and pinned with ``taskset`` to exactly its core count.

N = nproc // 4 and 4N = 4 * N, so the 4N leg fits the machine; below 4
CPUs a 4N leg cannot be pinned and the runner exits with an error.
Each leg drains ``CLIPS`` clips (bench.py's corpus) through
``streaming.match_stream_fused``, N leg first. The result is one JSON
line, printed and appended to BENCH/scaling_runs.jsonl.

Usage: python bench/run_scaling.py
"""

from __future__ import annotations

import json
import os
import resource
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLIPS = 8192

# A pinned 8-proc burn at <= this multiple of the 1-proc time marks a
# wide-parallelism-clean window. The ratio alone is not sufficient:
# uniformly slow windows also exist, where even the 1-proc burn runs
# well over its nominal time, so clean also requires the absolute
# 1-proc time near nominal.
CLEAN_PROBE_RATIO = 1.6
NOMINAL_1P_S = 0.95  # calibrated idle-window 1-proc burn
CLEAN_1P_SLOWDOWN = 1.25


def _fft_burn(n_iter: int = 1000) -> None:
    # ~1 s at 1 proc: long enough that the ~0.1 s process-spawn cost
    # doesn't distort the 8-proc ratio
    import numpy as np

    rng = np.random.default_rng(0)
    x = rng.standard_normal(1 << 16)
    for _ in range(n_iter):
        np.fft.rfft(x)


def ambient_probe() -> dict:
    """Spark-free CPU-contention probe, run immediately before each
    leg: identical FFT work at 1 proc and 8 procs. On dedicated
    hardware with >= 8 cores the 8-proc wall time ~= the 1-proc time;
    under contention wide parallelism runs many times slower.
    Recording it next to the leg lets a reader flag degraded-window
    pairs mechanically instead of narratively."""
    import multiprocessing as mp
    import time

    _fft_burn(100)  # numpy/page-cache warmup, untimed
    # min-of-3: a single 1p burn is noisy (core placement / frequency
    # scaling); the MINIMUM is the right statistic for a speed-limit
    # probe.
    one = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        _fft_burn()
        one = min(one, time.perf_counter() - t0)
    eights = []
    for _ in range(2):
        procs = [mp.Process(target=_fft_burn) for _ in range(8)]
        t2 = time.perf_counter()
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        eights.append(time.perf_counter() - t2)
    eight = min(eights)
    return {
        "probe_1p_s": round(one, 3),
        "probe_8p_s": round(eight, 3),
        "probe_ratio": round(eight / one, 2),
        "probe_8p_spread": round(max(eights) / eight, 2),
        "slowdown_1p": round(one / NOMINAL_1P_S, 2),
        # a heuristic correlate of window quality, not a classifier:
        # efficiency is a ratio, so uniformly slow windows can still
        # yield valid pairs
        "clean_window": (
            eight / one <= CLEAN_PROBE_RATIO
            and one <= CLEAN_1P_SLOWDOWN * NOMINAL_1P_S
        ),
    }


def zip_engine(out_path: str) -> None:
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "sparkfp")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))


def _proc_stat_snapshot() -> tuple[int, int] | None:
    """(steal jiffies, total jiffies) from the aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return None
    if parts[:1] != ["cpu"] or len(parts) < 9:
        return None
    vals = [int(v) for v in parts[1:]]
    return vals[7], sum(vals)


def run_leg(cpus: list[int], zip_path: str) -> dict:
    """One leg at local[len(cpus)], its whole process tree (JVM +
    Python workers) pinned to ``cpus``: local[N] limits task slots but
    not JVM/GC/IO threads, so an unpinned leg would leak or
    oversubscribe parallelism."""
    import pyspark

    cores = len(cpus)
    probe = ambient_probe()
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    cmd = [
        "taskset", "-c", ",".join(map(str, cpus)),
        submit,
        "--master", f"local[{cores}]",
        "--py-files", zip_path,
        "--driver-memory", "8g",  # local mode: the only JVM heap knob
        "--conf", "spark.ui.enabled=false",
        os.path.join(REPO, "bench", "throughput_job.py"),
        "--cores", str(cores),
        "--clips", str(CLIPS),
    ]
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    # CPU-seconds of the reaped spark-submit tree (work conservation:
    # flat cpu_s/clip across legs means the engine adds no parallel
    # overhead) and /proc/stat steal over the leg
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    st0 = _proc_stat_snapshot()
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=1800, env=env, cwd=REPO
    )
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    st1 = _proc_stat_snapshot()
    cpu_s = (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and "clips_per_sec" in line:
            r = json.loads(line)
            steal = None
            if st0 and st1:
                steal = round(100.0 * (st1[0] - st0[0]) / max(st1[1] - st0[1], 1), 2)
            return {
                "clips_per_s": r["clips_per_sec"],
                "steady_clips_per_s": r["steady_clips_per_sec"],
                "cpu_s_per_clip": round(cpu_s / CLIPS, 4),
                "steal_pct": steal,
                "ambient_probe": probe,
            }
    sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:] + "\n")
    raise RuntimeError(f"no result line from spark-submit at local[{cores}]")


def main() -> None:
    cpus = sorted(os.sched_getaffinity(0))
    n = len(cpus) // 4
    if n < 1:
        sys.exit(f"run_scaling: need >= 4 CPUs for a pinned 4N leg, have {len(cpus)}")
    zip_path = os.path.join(REPO, "bench", "sparkfp.zip")
    zip_engine(zip_path)
    leg_n = run_leg(cpus[:n], zip_path)
    leg_4n = run_leg(cpus[: 4 * n], zip_path)
    speedup = leg_4n["clips_per_s"] / leg_n["clips_per_s"]
    result = {
        "n_cores": n,
        "4n_cores": 4 * n,
        "clips": CLIPS,
        "legs": {"n": leg_n, "4n": leg_4n},
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(speedup / 4, 3),
    }
    line = json.dumps(result)
    print(line)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling_runs.jsonl"), "a") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
