"""Lineage + metrics capture (north rule: "resumable from checkpoint
with per-partition lineage + metrics").

Structured Streaming already checkpoints per-source, per-partition
offsets; this module surfaces them as a queryable lineage record, the
analog of the reference's consumer-lag metric
(src/data_input/main.py:105-147 total_lag) and Flink's checkpoint
offsets.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql.streaming import StreamingQuery


def lineage_from_progress(progress: list[dict]) -> list[dict[str, Any]]:
    """Flatten StreamingQueryProgress into one lineage row per
    (batch, source): start/end offsets, rows read, duration."""
    out = []
    for p in progress:
        if isinstance(p, str):
            p = json.loads(p)
        for i, s in enumerate(p.get("sources", [])):
            out.append(
                {
                    "batch_id": p.get("batchId"),
                    "source_idx": i,
                    "source": s.get("description"),
                    "start_offset": s.get("startOffset"),
                    "end_offset": s.get("endOffset"),
                    "rows": s.get("numInputRows"),
                    "input_rows_per_sec": s.get("inputRowsPerSecond"),
                    "batch_duration_ms": p.get("batchDuration"),
                    "watermark": p.get("eventTime", {}).get("watermark"),
                    "state_rows": sum(
                        op.get("numRowsTotal", 0)
                        for op in p.get("stateOperators", [])
                    ),
                }
            )
    return out


def collect_lineage(query: StreamingQuery) -> list[dict[str, Any]]:
    return lineage_from_progress([json.loads(p.json) for p in query.recentProgress])


def checkpoint_offsets(checkpoint_dir: str) -> dict[int, Any]:
    """Read the offset log Spark wrote to the checkpoint — the durable
    per-partition lineage that makes the job resumable."""
    odir = os.path.join(checkpoint_dir, "offsets")
    out: dict[int, Any] = {}
    if not os.path.isdir(odir):
        return out
    for name in sorted(os.listdir(odir), key=lambda x: int(x) if x.isdigit() else -1):
        if not name.isdigit():
            continue
        with open(os.path.join(odir, name)) as f:
            lines = [ln for ln in f.read().splitlines() if ln and not ln.startswith("v")]
        out[int(name)] = lines
    return out
