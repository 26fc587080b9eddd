"""Dump .explain('formatted') for every declared query to plans/r07/.

Usage: python tools/dump_plans.py <suffix> [query ...]
Writes plans/r07/<name>_<suffix>.txt for each declared query (or the
named subset) and prints one line per query: ``ok <name>`` followed by
the physical-plan operator counts of that file (see ``OPS``), so two
runs can be diffed line by line. Measurement-only tool (guide §1): not
part of bench.py.
"""
import io
import os
import re
import sys
from collections import Counter
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from sparkfp.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07")

# printed label -> test on a plan node's operator name
OPS = {
    "Exchange": lambda n: n == "Exchange",
    "BroadcastExchange": lambda n: n == "BroadcastExchange",
    "SMJ": lambda n: n == "SortMergeJoin",
    "BHJ": lambda n: n == "BroadcastHashJoin",
    "NLJ": lambda n: "NestedLoopJoin" in n or n == "CartesianProduct",
    "HashAggregate": lambda n: n == "HashAggregate",
    "Generate": lambda n: n == "Generate",
    "PythonEval": lambda n: "Python" in n or "InPandas" in n or "InArrow" in n,
    "Window": lambda n: n == "Window",
}
# a node line of the formatted plan tree: "<indent>+- Name args (id)"
_NODE = re.compile(r"^[\s:|+-]*([A-Za-z]\w*)[^()]* \((\d+)\)$")


def op_counts(plan: str) -> dict[str, int]:
    """Operator counts over the node lines of a formatted plan (each
    node id counted once; subquery trees included)."""
    nodes = {m.groups() for m in map(_NODE.match, plan.splitlines()) if m}
    names = Counter(name for name, _ in nodes)
    return {
        label: sum(c for n, c in names.items() if test(n))
        for label, test in OPS.items()
    }


def main():
    suffix = sys.argv[1]
    names = sys.argv[2:]
    # no console progress bar: it would interleave with the "ok" lines
    spark = get_spark("sparkfp-plans", extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entrymod.queries()
    os.makedirs(OUT, exist_ok=True)
    for name, fn in qs.items():
        if names and name not in names:
            continue
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(OUT, f"{name}_{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            counts = " ".join(f"{k}={v}" for k, v in op_counts(buf.getvalue()).items())
            print("ok", name, counts)
        except Exception as e:
            print("FAIL", name, repr(e))
    spark.stop()


if __name__ == "__main__":
    main()
