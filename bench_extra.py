"""Extra per-query isolation bench (guide §1.4): times each declared
query with BOTH the noop sink (computes every column, no driver
materialization) and the bench.py count() methodology, min-of-N.

NOT part of the frozen bench.py contract — measurement tooling only.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [q ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from sparkfp.session import default_parallelism, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = 3  # per query and pass


def main() -> None:
    names = sys.argv[1:]
    cores = default_parallelism()
    spark = get_spark("sparkfp-bench-extra", cores=cores)
    qs = entrymod.queries()
    if not names:
        names = [n for n in qs]
    # warmup identical to bench.py: parquet footers + one query
    for t in ("events", "lineitem", "documents", "orders", "part", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    qs["fingerprint_stats"](spark, SF_DIR).count()
    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        row: dict = {}
        counts = []
        for _ in range(REPS):
            t0 = time.time()
            fn(spark, SF_DIR).count()
            counts.append(time.time() - t0)
        row["count_min"] = round(min(counts), 3)
        row["count_all"] = [round(c, 3) for c in counts]
        noops = []
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            noops.append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
        row["noop_min"] = round(min(noops), 3)
        row["noop_all"] = [round(c, 3) for c in noops]
        out[name] = row
        print(name, json.dumps(row), flush=True)
    print(json.dumps({"sf": SF_DIR, "cores": cores, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
