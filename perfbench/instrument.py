"""Measurement plumbing that lives outside the engine: an in-memory span
recorder, /proc readers for the benchmark's process tree (RSS, CPU
time) and the VM's steal time, and a machine-noise probe sized to the
core count."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ------------------------------------------------------------------ spans


class Tracer:
    """Spans kept in memory as {name, start, end, parent, run_id} and
    written out once, when the run ends. A disabled tracer records
    nothing, so untraced runs pay only a context-manager call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append({"name": name, "start": time.perf_counter(),
                               "end": None, "parent": parent, "run_id": self.run_id})
            self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx]["end"] = time.perf_counter()
                self._stack.remove(idx)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (e.g. inside a sink callback,
        which Spark runs on its own thread) as a child of the open span."""
        if not self.enabled:
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: duration minus the union of the
        intervals its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, hi = 0.0, float("-inf")
            for a, b in sorted(kids.get(i, [])):
                a = max(a, hi)
                if b > a:
                    covered += b - a
                hi = max(hi, b)
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


# ------------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        tree.setdefault(ppid, []).append(int(d))
    return tree


def start_time(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks since boot, or None once it
    has gone: with the PID, it names one process even if the PID is
    reused."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return int(stat[stat.rindex(")") + 2:].split()[19])


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in tree.get(p, []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used by ``pid`` and its descendants,
    reaped children included. Time the host steals from this VM's vCPUs
    is not in it, which makes it steadier than wall time on a shared VM."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


# a run during which the host stole more than this share of the vCPU
# time, over set-up or over the whole run, measured the host rather than
# the program (on a 4-vCPU VM, 5-25% steal made set-up up to 45% slower):
# it is marked invalid, and compare.py leaves it out
STEAL_MAX = 0.03


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies since boot over all vCPUs, from /proc/stat:
    the host's contention shows as steal."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_share(since: tuple[int, int], until: tuple[int, int]) -> float:
    """Share of all vCPU time the host stole between two steal_jiffies()."""
    return (until[0] - since[0]) / max(1, until[1] - since[1])


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc on a thread; also the
    peak of the same sum without the JVM."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = py = 0
            for p in [me, *descendants(me)]:
                rss = _rss_bytes(p)
                total += rss
                if _comm(p) != "java":
                    py += rss
            self.peak = max(self.peak, total)
            self.peak_python = max(self.peak_python, py)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------------ noise


def _burn(_: int) -> float:
    import numpy as np

    # element-wise only: single-threaded whatever BLAS is linked
    a = np.random.default_rng(0).standard_normal(1 << 16)
    t0 = time.perf_counter()
    for _ in range(120):
        a = np.tanh(np.sin(a) * 1.5)
    return time.perf_counter() - t0


def noise_probe() -> dict:
    """Fixed CPU burn timed alone, then on every core at once, in
    ``nproc`` spawned workers (never more workers than cores, so a
    quiet machine reads ~1.0). ratio = median parallel / median solo."""
    n = n_cores()
    with ProcessPoolExecutor(n, mp_context=get_context("spawn")) as ex:
        list(ex.map(_burn, range(n)))  # start and warm every worker
        solo = [ex.submit(_burn, 0).result() for _ in range(2)]
        par = list(ex.map(_burn, range(n)))
    return {"workers": n, "solo_s": median(solo), "parallel_s": median(par),
            "ratio": median(par) / median(solo)}
