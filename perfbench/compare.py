"""Compare two sets of benchmark runs (e.g. parent commit vs change).

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds run records as ``run.py`` appends them to
``perfbench/.results/runs.jsonl``. Runs of one workload and seed must
have staged identical inputs: if their input digests differ the
comparison is refused (exit 2). Runs marked invalid, because the host
stole more than instrument.STEAL_MAX of the vCPU time during their
set-up or their whole run, are left out and counted. For every workload
and end-to-end metric it prints both medians, each side's spread
(IQR / median) and the change against the bound in BENCHMARK.json:
REGRESSION when the change is worse than the bound, UNRESOLVED when
either side's spread is wider than the bound (unless every change run
beats every base run), ok otherwise.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> list[dict]:
    with open(path) as f:
        runs = [r for r in map(json.loads, f) if not r.get("trace")]
    bad = sum(1 for r in runs if not r.get("valid", True))
    if bad:
        print(f"{path}: {bad} of {len(runs)} runs left out (host steal)")
    return [r for r in runs if r.get("valid", True)]


def spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main() -> None:
    base, change = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    digests: dict[tuple, str] = {}
    for r in base + change:
        key = (r["workload"], r["seed"])
        if digests.setdefault(key, r["digest"]) != r["digest"]:
            sys.stderr.write(f"refusing: inputs differ for {key}\n")
            sys.exit(2)
    for w in sorted({r["workload"] for r in base + change}):
        print(w)
        for name, m in spec.items():
            a = [r["result"]["metrics"][name]["value"] for r in base if r["workload"] == w]
            b = [r["result"]["metrics"][name]["value"] for r in change if r["workload"] == w]
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            sign = 1 if m["better"] == "lower" else -1
            worse = (mb - ma) / ma * sign
            all_better = max(x * sign for x in b) < min(x * sign for x in a)
            if max(spread(a), spread(b)) > m["bound"] and not all_better:
                flag = "UNRESOLVED"
            elif worse > m["bound"]:
                flag = "REGRESSION"
            else:
                flag = "ok"
            print(f"  {name:16s} {ma:12.3f} -> {mb:12.3f} {m['unit']:6s} "
                  f"spread {spread(a):.3f}/{spread(b):.3f} worse {worse:+.3f} "
                  f"(bound {m['bound']}) {flag}")


if __name__ == "__main__":
    main()
