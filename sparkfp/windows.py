"""Window helpers: tumbling / sliding / session wrappers and the
salted, skew-aware windowed hash-aggregate (north_star component).

Landmark-hash keys are Zipf-ish: a handful of common note-pair hashes
dominate (hot keys), which would make a naive
``groupBy(window, hash)`` shuffle skewed — one reducer gets the hot
hash's entire window. The salted two-phase aggregate bounds any
single task's share to 1/k of a hot key:

  phase 1: groupBy(window, key, salt)  — salt = pmod(hash(row-id), k)
           partial counts (map-side combine applies here too)
  phase 2: groupBy(window, key)        — merge the k partials

Both phases keep the event-time window column, so the same plan runs
under Structured Streaming append mode: Spark propagates the watermark
through chained stateful aggregations only via the window column
itself. Each phase is its own stateful operator there, with its own
state store per shuffle partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumbling(ts_col: str, size: str) -> Column:
    return F.window(ts_col, size)


def sliding(ts_col: str, size: str, slide: str) -> Column:
    return F.window(ts_col, size, slide)


def session(ts_col: str, gap: str) -> Column:
    return F.session_window(ts_col, gap)


def salted_windowed_count(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_size: str,
    salt_buckets: int = 8,
    salt_source: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window count per key with two-phase salted aggregation.

    ``salt_source``: a high-cardinality column to derive the salt from
    (defaults to the key itself + a uniform random-free spread via
    spark_partition_id, keeping the plan deterministic).
    Returns (win struct, key, n).
    """
    win = F.window(ts_col, window_size).alias("win")
    if salt_source is not None:
        salt = F.pmod(F.xxhash64(F.col(salt_source)), F.lit(salt_buckets))
    else:
        # deterministic spread without a secondary column: partition id
        # decorrelates rows of a hot key across salt buckets
        salt = F.pmod(F.spark_partition_id(), F.lit(salt_buckets))
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    partial = df.groupBy(win, F.col(key_col), salt.alias("_salt")).agg(
        F.count("*").alias("_partial")
    )
    return partial.groupBy("win", key_col).agg(
        F.sum("_partial").cast("long").alias("n")
    )
