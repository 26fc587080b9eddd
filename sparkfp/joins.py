"""Join operators: interval (window-correlation) join, broadcast dim
join, anti-join dedup, as-of join.

Reference shapes (cited into /root/reference):
- J1 stream-stream window-correlation join: buffer readings per key,
  probe fingerprints with start <= ts < end
  (src/postprocess/save_fingerprints.py:66-153)
- J2 broadcast lookup join (tag metadata dicts)
  (src/data_input/process_odr.py:699-732)
- J4 state anti-join / alert dedup (process_odr.py:1131-1145)

Scale notes: the interval join is an equi-join on the key plus a
range predicate — Spark plans the equi part as a hash/sort-merge join
and applies the range as a post-filter, so it shuffles once on the
key. In streaming both sides carry watermarks, which bound the join
state exactly like the reference's 5-minute buffer trim
(save_fingerprints.py:83-89).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    key: str,
    ts_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Rows of `facts` matched to `intervals` where
    intervals.start <= facts.ts < intervals.end, equi on `key`.
    Batch form of the reference's fingerprint<->readings correlation."""
    f, iv = facts.alias("f"), intervals.alias("iv")
    cond = (
        (F.col(f"f.{key}") == F.col(f"iv.{key}"))
        & (F.col(f"f.{ts_col}") >= F.col(f"iv.{start_col}"))
        & (F.col(f"f.{ts_col}") < F.col(f"iv.{end_col}"))
    )
    return f.join(iv, cond, "inner")


def interval_join_stream(
    facts: DataFrame,
    intervals: DataFrame,
    key: str,
    ts_col: str,
    start_col: str,
    end_col: str,
    facts_watermark: str = "5 minutes",
    intervals_watermark: str = "5 minutes",
) -> DataFrame:
    """Stream-stream interval join with watermark-bounded state
    (replaces the reference's hand-rolled 5-min buffer,
    save_fingerprints.py:83-89). Both ts columns must be TimestampType."""
    f = facts.withWatermark(ts_col, facts_watermark).alias("f")
    iv = intervals.withWatermark(end_col, intervals_watermark).alias("iv")
    cond = (
        (F.col(f"f.{key}") == F.col(f"iv.{key}"))
        & (F.col(f"f.{ts_col}") >= F.col(f"iv.{start_col}"))
        & (F.col(f"f.{ts_col}") < F.col(f"iv.{end_col}"))
    )
    return f.join(iv, cond, "inner")


def anti_join_dedup(df: DataFrame, seen: DataFrame, on: str | list[str]) -> DataFrame:
    """Drop rows whose key exists in `seen` (J4 alert dedup)."""
    return df.join(seen, on, "left_anti")


def semi_join(df: DataFrame, other: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS filter."""
    return df.join(other, on, "left_semi")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """For each left row, the latest right row with right_ts <= left_ts
    (per key). Spark lacks a native as-of join; this composes an
    equi-join bounded by right_ts <= left_ts + row_number top-1, which keeps the
    single shuffle on `key`. Used for point-in-time enrichment
    (reference `value_at` lookup, helpers.py:480-497, W5).

    The top-1 window partitions by a synthetic left-row id, not the
    left row's columns: partitioning by every left column would ship
    the whole (possibly wide) left row as the shuffle key and break
    on duplicate left rows."""
    rid = "_asof_rid"
    l = left.withColumn(rid, F.monotonically_increasing_id()).alias("l")
    r = right.alias("r")
    cond = (F.col(f"l.{key}") == F.col(f"r.{key}")) & (
        F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}")
    )
    joined = l.join(r, cond, "left")
    w = Window.partitionBy(F.col(f"l.{rid}")).orderBy(F.desc(F.col(f"r.{right_ts}")))
    return joined.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    ).drop("_rn", rid)
