"""Fingerprint every match row of a batch run of the fused matcher.

Builds the index from the parquet tracks under CATALOGUE_DIR, runs
``matching.match_clips_fused`` in batch over the parquet clips under
CLIPS_DIR and prints one ``clip_id  sha256`` line per output row,
sorted, where the digest covers the row's ``matched_track``,
``offset_ms``, ``vote_count`` and ``repr(score)``. Two checkouts whose
lines are equal produce the same match rows bit for bit (the same
clips matched, to the same track and offset bin, with the same votes
and the same float score).

Spark's Python workers import sparkfp from the working directory, so
the tool changes into its own checkout before Spark starts: the
workers then run the same sparkfp as the driver.

Usage: python tools/match_digest.py CATALOGUE_DIR CLIPS_DIR
(for example perfbench's staged catalogue and clips,
perfbench/.cache/catalogue-8 and perfbench/.cache/clips_drain-s61/src;
the directories are only read)
"""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sparkfp import matching  # noqa: E402
from sparkfp.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) != 3 or not all(os.path.isdir(p) for p in sys.argv[1:]):
        sys.exit("usage: python tools/match_digest.py CATALOGUE_DIR CLIPS_DIR")
    catalogue, clips_dir = (os.path.abspath(p) for p in sys.argv[1:])
    os.chdir(REPO)
    # no console progress bar: it would interleave with the digest lines
    spark = get_spark(
        "match_digest", cores=2, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        index = matching.build_index(spark.read.parquet(catalogue))
        clips = spark.read.parquet(clips_dir)
        rows = matching.match_clips_fused(clips, index).collect()
    finally:
        spark.stop()
    lines = []
    for r in rows:
        d = hashlib.sha256(
            f"{r.matched_track}|{r.offset_ms}|{r.vote_count}|{r.score!r}".encode()
        )
        lines.append((r.clip_id, d.hexdigest()))
    for cid, digest in sorted(lines):
        print(f"{cid}  {digest}")


if __name__ == "__main__":
    main()
