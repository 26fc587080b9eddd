"""N-vs-4N scaling runner: the identical streaming match job and input
at two parallelism levels, each in its own JVM launched with
``spark-submit --py-files sparkfp.zip`` (the north rule's launch mode)
and pinned with ``taskset`` to exactly its core count.

N = nproc // 4 and 4N = 4 * N, so the 4N leg fits the machine; below 4
CPUs a 4N leg cannot be pinned and the runner exits with an error.
Each leg drains ``CLIPS`` clips (bench.py's corpus) through
``streaming.match_stream_fused``, N leg first. Each leg records
perfbench's noise probe (sized to nproc) taken just before it as
``ambient_probe`` and the host's steal over the leg as ``steal_pct``.
The result is one JSON line, printed and appended to
BENCH/scaling_runs.jsonl.

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

sys.path.insert(0, REPO)
from perfbench.instrument import noise_probe, steal_jiffies, steal_share  # noqa: E402


def zip_engine(out_path: str) -> None:
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "sparkfp")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))


def run_leg(cpus: list[int], zip_path: str) -> dict:
    """One leg at local[len(cpus)], its whole process tree (JVM +
    Python workers) pinned to ``cpus``: local[N] limits task slots but
    not JVM/GC/IO threads, so an unpinned leg would leak or
    oversubscribe parallelism."""
    import pyspark

    cores = len(cpus)
    probe = noise_probe()
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
    # overhead) and the host's steal over the leg
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    st0 = steal_jiffies()
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=1800, env=env, cwd=REPO
    )
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    st1 = steal_jiffies()
    cpu_s = (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and "clips_per_sec" in line:
            r = json.loads(line)
            return {
                "clips_per_s": r["clips_per_sec"],
                "steady_clips_per_s": r["steady_clips_per_sec"],
                "cpu_s_per_clip": round(cpu_s / CLIPS, 4),
                "steal_pct": round(100.0 * steal_share(st0, st1), 2),
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
