"""Fingerprint every sensor window's JSON row from a batch run of the
reference job.

Reads the parquet sensor events under the given directory, runs
``fingerprint.fingerprints_json(fingerprint.pipeline(events))`` in
batch and prints one ``equip_id  start_ms  sha256`` line per output row,
sorted, where the digest covers the row's whole JSON envelope. Two
checkouts whose lines are equal produce the same fingerprint rows
(ids, window bounds, map order and every stat's printed value).

Usage: python tools/fingerprint_digest.py PARQUET_DIR
(for example perfbench's staged sensor input,
perfbench/.cache/sensors-s1/src; the directory is only read)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sparkfp import fingerprint  # noqa: E402
from sparkfp.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        sys.exit("usage: python tools/fingerprint_digest.py PARQUET_DIR")
    # no console progress bar: it would interleave with the digest lines
    spark = get_spark(
        "fingerprint_digest", cores=2, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        events = spark.read.parquet(sys.argv[1])
        rows = fingerprint.fingerprints_json(fingerprint.pipeline(events)).collect()
    finally:
        spark.stop()
    lines = []
    for r in rows:
        fp = json.loads(r.value)["fingerprint"]
        digest = hashlib.sha256(r.value.encode()).hexdigest()
        lines.append((fp["equip_id"], fp["start_ms"], digest))
    for equip, start, digest in sorted(lines):
        print(f"{equip}  {start}  {digest}")


if __name__ == "__main__":
    main()
