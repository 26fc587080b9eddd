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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

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


def read_clip_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(schema.CLIP)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def read_sensor_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(schema.SENSOR_EVENT)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


# ------------------------------------------------------------- jobs


def fingerprint_stream(
    events: DataFrame,
    sink: ExactlyOnceParquetSink,
    checkpoint_dir: str,
    watermark: str = fingerprint.WATERMARK,
    available_now: bool = True,
) -> StreamingQuery:
    """The reference streaming job: events -> windowed stats fingerprints.

    Append output mode: a window's row is emitted exactly once, after
    the watermark passes its end — same final rows as Flink's
    on-watermark firing for the same input + watermark (SURVEY §7.5.5).
    """
    fps = fingerprint.pipeline(events, watermark=watermark)
    writer = fps.writeStream.foreachBatch(sink).outputMode("append").option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def match_stream(
    clips: DataFrame,
    index: DataFrame,
    sink: ExactlyOnceParquetSink,
    checkpoint_dir: str,
    watermark: str = "10 seconds",
    session_gap: str = "30 seconds",
    min_votes: int = matching.MIN_VOTES,
    available_now: bool = True,
) -> StreamingQuery:
    """The graft streaming job: clip stream -> landmarks -> stream-static
    hash join against the index -> per-session offset voting -> match rows.

    The session window per clip_id (north_star) closes a clip's match
    accumulation when no further landmarks arrive within ``session_gap``
    — the streaming analog of the reference's "emit once per streak"
    rising-edge state (process_odr.py:1131-1145): one final match row
    per clip session, emitted on window close (append mode).
    """
    lm = dsp.landmarks(clips).withColumn(
        "event_time", F.timestamp_millis(F.col("event_ms"))
    )
    joined = lm.withWatermark("event_time", watermark).join(
        F.broadcast(index), "hash"
    )
    votes = joined.groupBy(
        F.session_window("event_time", session_gap).alias("session"),
        "clip_id",
        "track_id",
        ((F.col("t_track_ms") - F.col("t_ms")) / matching.OFFSET_BIN_MS)
        .cast("long")
        .alias("offset_bin"),
    ).agg(F.count("*").alias("vote_count"))

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("clip_id").orderBy(
            F.desc("vote_count"), F.asc("track_id"), F.asc("offset_bin")
        )
        best = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .filter(F.col("vote_count") >= min_votes)
            .select(
                "clip_id",
                F.col("track_id").alias("matched_track"),
                (F.col("offset_bin") * matching.OFFSET_BIN_MS).alias("offset_ms"),
                "vote_count",
            )
        )
        sink(best, batch_id)

    writer = votes.writeStream.foreachBatch(emit).outputMode("append").option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def match_stream_fused(
    clips: DataFrame,
    index: DataFrame,
    sink: ExactlyOnceParquetSink,
    checkpoint_dir: str,
    min_votes: int = matching.MIN_VOTES,
    min_score: float = matching.MIN_SCORE,
    available_now: bool = True,
) -> StreamingQuery:
    """High-throughput streaming matcher: the fused per-clip operator
    (matching.match_clips_fused) over the clip stream.

    A clip is one input row, so its landmarks never span micro-batches
    — per-clip matching is complete within the batch and needs no
    cross-batch state. Exactly-once still holds (checkpointed offsets
    + idempotent sink). Use `match_stream` (session windows + stateful
    vote aggregation) when clip audio arrives in multiple chunks.
    """
    matches = matching.match_clips_fused(
        clips, index, min_votes=min_votes, min_score=min_score
    )
    writer = matches.writeStream.foreachBatch(sink).outputMode("append").option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
