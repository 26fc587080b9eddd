"""Structured Streaming jobs: the unbounded versions of the pipelines.

Reference semantics carried over (citations into /root/reference):
- bounded out-of-orderness watermark, 10 s   src/flink_job/kafka_config.py:46-49
- keyed event-time tumbling window            src/flink_job/job.py:78-82
- checkpoint / resume                         docker-compose.yml (60 s interval)
- stream-stream window correlation            src/postprocess/save_fingerprints.py:66-153

Source strategy: on a real cluster the input is an Iceberg table read
as a stream (`spark.readStream.format("iceberg")` with
stream-from-timestamp). Iceberg jars are not in this container, so the
local source is a parquet *directory* stream with ``maxFilesPerTrigger``
— identical micro-batch semantics (file listing = snapshot listing),
swap-in connector. Sinks go through :class:`sparkfp.sink.
ExactlyOnceParquetSink` (idempotent by batch_id).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from . import dsp, fingerprint, matching, schema
from .sink import ExactlyOnceParquetSink


def write_stream_source(
    df: DataFrame, path: str, n_files: int = 8, order_col: str | None = None
) -> None:
    """Materialize a bounded table as n parquet files replayed as n
    micro-batches (maxFilesPerTrigger=1).

    Files are written as contiguous event-time slices with increasing
    modification times: FileStreamSource processes oldest-modTime
    first, so the replay is time-ordered within watermark tolerance —
    the same property a Kafka topic / Iceberg stream-from-timestamp
    source has. (A randomly-sharded directory would present data
    arbitrarily out of event-time order and the watermark would
    correctly drop most of it.)
    """
    import time

    order_col = order_col or ("ts_ms" if "ts_ms" in df.columns else "event_ms")
    # materialize once: slicing would otherwise recompute the (possibly
    # expensive, e.g. synthesized) upstream plan n_files + 1 times
    staged = os.path.join(path + "_staged")
    df.write.mode("overwrite").parquet(staged)
    df = df.sparkSession.read.parquet(staged)
    pct = [i / n_files for i in range(1, n_files)]
    bounds = df.approxQuantile(order_col, pct, 0.001) if n_files > 1 else []
    lo = None
    for i in range(n_files):
        hi = bounds[i] if i < len(bounds) else None
        sl = df
        if lo is not None:
            sl = sl.filter(F.col(order_col) >= lo)
        if hi is not None:
            sl = sl.filter(F.col(order_col) < hi)
        sl.coalesce(1).write.mode("append").parquet(path)
        time.sleep(0.05)  # distinct mtimes -> deterministic replay order
        lo = hi


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """The one stream source: a parquet directory replayed oldest file
    first, ``max_files_per_trigger`` files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def read_clip_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return read_parquet_stream(spark, path, schema.CLIP, max_files_per_trigger)


def read_sensor_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return read_parquet_stream(spark, path, schema.SENSOR_EVENT, max_files_per_trigger)


def start_exactly_once(
    df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """The one stream start: append-mode ``foreachBatch(sink)`` with
    checkpointed source offsets. Exactly-once needs both halves: Spark
    replays an uncommitted batch under the same ``batch_id``, and the
    sink (an :class:`ExactlyOnceParquetSink`, or a callable that ends in
    one) skips ids already in its ledger. ``available_now`` drains what
    is there and stops; False keeps Spark's default trigger (a new batch
    as soon as the previous one finishes)."""
    writer = df.writeStream.foreachBatch(sink).outputMode("append").option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------------------------------------------------- jobs


def fingerprint_stream(
    events: DataFrame,
    sink: ExactlyOnceParquetSink,
    checkpoint_dir: str,
) -> StreamingQuery:
    """The reference streaming job: events -> windowed stats fingerprints,
    drained with the availableNow trigger.

    Append output mode: a window's row is emitted exactly once, after
    the watermark (``fingerprint.WATERMARK``) passes its end — same
    final rows as Flink's on-watermark firing for the same input +
    watermark (SURVEY §7.5.5).
    """
    fps = fingerprint.pipeline(events, watermark=fingerprint.WATERMARK)
    return start_exactly_once(fps, sink, checkpoint_dir)


def match_stream(
    clips: DataFrame,
    index: DataFrame,
    sink: ExactlyOnceParquetSink,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """The graft streaming job: clip stream -> landmarks -> stream-static
    hash join against the index -> per-session offset voting -> match rows.

    The session window per clip_id (north_star) closes a clip's match
    accumulation when no further landmarks arrive within 30 seconds
    (the landmarks' watermark is 10 seconds) — the streaming analog of
    the reference's "emit once per streak" rising-edge state
    (process_odr.py:1131-1145): one final match row per clip session
    with ``matching.MIN_VOTES`` votes, emitted on window close (append
    mode).

    The vote runs over every row that shares a ``clip_id`` within the
    gap. Each row's landmark times come from that row's own bytes and
    no chunk start offset is applied, so rows that are chunks of one
    longer clip vote at offset bins shifted by each chunk's start: the
    session vote is not the whole-clip vote for chunked input.
    """
    lm = dsp.landmarks(clips).withColumn(
        "event_time", F.timestamp_millis(F.col("event_ms"))
    )
    joined = lm.withWatermark("event_time", "10 seconds").join(
        F.broadcast(index), "hash"
    )
    votes = joined.groupBy(
        F.session_window("event_time", "30 seconds").alias("session"),
        "clip_id",
        "track_id",
        ((F.col("t_track_ms") - F.col("t_ms")) / matching.OFFSET_BIN_MS)
        .cast("long")
        .alias("offset_bin"),
    ).agg(F.count("*").alias("vote_count"))

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        best = matching._best_per_clip(
            batch_df, matching.OFFSET_BIN_MS, matching.MIN_VOTES
        )
        sink(best, batch_id)

    return start_exactly_once(votes, emit, checkpoint_dir, available_now)


def match_stream_fused(
    clips: DataFrame,
    index: DataFrame,
    sink: ExactlyOnceParquetSink,
    checkpoint_dir: str,
) -> StreamingQuery:
    """High-throughput streaming matcher: the fused per-clip operator
    (matching.match_clips_fused, default thresholds) over the clip
    stream, drained with the availableNow trigger.

    A clip is one input row, so its landmarks never span micro-batches
    — per-clip matching is complete within the batch and needs no
    cross-batch state. Exactly-once still holds (checkpointed offsets
    + idempotent sink). `match_stream` instead pools the votes of all
    rows sharing a ``clip_id`` within its session gap; neither matcher
    applies chunk start offsets.
    """
    matches = matching.match_clips_fused(clips, index)
    return start_exactly_once(matches, sink, checkpoint_dir)
