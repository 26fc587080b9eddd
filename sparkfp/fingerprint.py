"""The windowed stats "fingerprint" pipeline — parity core.

Reference semantics being reproduced (cited into /root/reference):

- unnest + null-filter     src/flink_job/job.py:63-75
- float32 on the wire      src/flink_job/job.py:72 (Types.FLOAT())
- keyed 1-min event-time tumbling window
                           src/flink_job/job.py:78-82
- per-window stats {min,max,median(exact, mean-of-middles),mean,
  std_dev(population, 0.0 for n==1)}
                           src/flink_job/aggregations.py:6-16
- output row shape         src/flink_job/serialization.py:23-38
  (uuid4 replaced by a deterministic sha2 id — SURVEY.md §7.5.4)

Spark-first design notes:

- The whole chain is declarative DataFrame ops: `explode` for the
  flatMap, `window()` for the tumbling window, one shuffle at the one
  keyed aggregation by (window, equip) (the reference's single key_by
  exchange), WholeStageCodegen everywhere — no Python on the hot path.
  Under streaming that is one stateful operator, so one state store
  per shuffle partition to commit each micro-batch.
- Stats are computed from `collect_list` + array expressions rather
  than `median()`/`stddev_pop()` aggregates so the *identical plan*
  runs under Structured Streaming append mode (Spark's streaming
  aggregation cannot run full-dataset aggregates like median, but
  collect_list is incremental). Batch and streaming therefore share
  one code path and produce byte-identical rows.
- Group cardinality is (n_keys x n_windows); each group holds
  <= window_seconds x n_sensors (sensor_id, value) pairs, so
  collect_list state is bounded and small — safe at any scale-out
  since groups are independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WINDOW = "1 minute"
WATERMARK = "10 seconds"  # reference: src/utils/config.py:37


def unnest(events: DataFrame) -> DataFrame:
    """SensorEvent(equip_id, ts_ms, data) -> long-form sensor values.

    Drops literal "null" payloads before the cast (reference drops them
    inside the flatMap at src/flink_job/job.py:68). The value is cast
    to float *then* double: the reference declares Types.FLOAT() on
    the wire (job.py:72), so stats must be computed over float32-
    truncated values to match golden outputs (SURVEY.md §7.5.1).
    """
    return (
        events.select(
            "equip_id",
            "ts_ms",
            F.explode("data").alias("sensor_id", "raw_value"),
        )
        .filter(F.col("raw_value") != "null")
        .select(
            "equip_id",
            "sensor_id",
            F.col("raw_value").cast("float").cast("double").alias("value"),
            "ts_ms",
        )
    )


def _array_stats(sorted_arr: Column) -> list[Column]:
    """Exact stats over an ascending, null-free value array
    (streaming-safe). The caller sorts: `pipeline`'s slices arrive in
    order, and a sort here would re-run at each of the ~16 references.

    median = mean of the two middle elements for even n (same rule as
    Python's statistics.median, reference aggregations.py:13);
    std_dev = population sigma (statistics.pstdev, aggregations.py:15),
    0.0 for n == 1 (explicit guard at aggregations.py:15).
    """
    n = F.size(sorted_arr)
    lo = F.element_at(sorted_arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(sorted_arr, (n / 2).cast("int") + 1)
    total = F.aggregate(sorted_arr, F.lit(0.0), lambda acc, x: acc + x)
    mean = total / n
    var = (
        F.aggregate(sorted_arr, F.lit(0.0), lambda acc, x: acc + (x - mean) * (x - mean))
        / n
    )
    return [
        F.element_at(sorted_arr, 1).alias("min"),
        F.element_at(sorted_arr, n).alias("max"),
        ((lo + hi) / 2).alias("median"),
        mean.alias("mean"),
        F.when(n == 1, F.lit(0.0)).otherwise(F.sqrt(var)).alias("std_dev"),
    ]


def windowed_stats_fast(values: DataFrame, window: str = WINDOW) -> DataFrame:
    """Batch-only per-sensor stats: one row per (window, equip, sensor)
    from native min/max/median/avg/stddev_pop aggregates (map-side
    partial aggregation, no per-group array state), for bounded
    analytics such as the ``fingerprint_stats`` query.

    Not usable under streaming append mode (median/stddev aren't
    incremental there) and not byte-identical to :func:`pipeline`'s
    stats: merge-based mean/stddev accumulate in a different order than
    the sorted-array fold, so values agree to ~1e-10 relative, not to
    the last ulp. Use :func:`pipeline` wherever stream==batch byte
    equality is asserted.
    """
    ts = F.timestamp_millis(F.col("ts_ms")).alias("event_time")
    df = values.withColumn("event_time", ts)
    agg = df.groupBy(
        F.window("event_time", window).alias("win"), "equip_id", "sensor_id"
    ).agg(
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.median("value").alias("median"),
        F.avg("value").alias("mean"),
        F.count("value").alias("_n"),
        F.stddev_pop("value").alias("_sd"),
    )
    return agg.select(
        "win",
        F.unix_millis(F.col("win.start")).alias("start_ms"),
        F.unix_millis(F.col("win.end")).alias("end_ms"),
        "equip_id",
        "sensor_id",
        "min",
        "max",
        "median",
        "mean",
        F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(F.col("_sd")).alias("std_dev"),
    )


def fingerprints_json(fps: DataFrame) -> DataFrame:
    """Fingerprint rows -> the reference's JSON envelope
    (src/flink_job/serialization.py:23-38: {"fingerprint": {...}})."""
    return fps.select(
        F.to_json(
            F.struct(
                F.struct("uuid", "equip_id", "type", "start_ms", "end_ms", "data").alias(
                    "fingerprint"
                )
            )
        ).alias("value")
    )


def pipeline(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """events -> one fingerprint row per (window, equip): the reference
    job end-to-end as one keyed aggregation.

    Each group collects (sensor_id, value) pairs and sorts them, so every
    sensor's slice is contiguous and ascending; `data` maps each distinct
    sensor_id (ascending, so the map is canonical: the reference's dict
    order is nondeterministic across runs, SURVEY.md §7.5.6) to the
    stats of its slice. Pass ``watermark`` to make this a streaming
    append-mode aggregation; final rows are identical either way for
    the same input + watermark (the north-rule equality condition).
    """
    values = unnest(events).withColumn("event_time", F.timestamp_millis("ts_ms"))
    if watermark:
        values = values.withWatermark("event_time", watermark)
    agg = values.groupBy(F.window("event_time", WINDOW).alias("win"), "equip_id").agg(
        F.sort_array(F.collect_list(F.struct("sensor_id", "value"))).alias("pairs")
    )
    sensors = F.array_distinct(F.transform("pairs", lambda p: p.sensor_id))

    def values_of(sensor: Column) -> Column:
        # a null value (an unparseable string with ANSI casts off) is
        # skipped, as collect_list skips it
        mine = F.filter("pairs", lambda p: (p.sensor_id == sensor) & p.value.isNotNull())
        return F.transform(mine, lambda p: p.value)

    # bind each slice to a lambda variable once: _array_stats refers to
    # its input ~16 times, and Spark shares no common subexpressions
    # inside a lambda, so inlined each reference would re-run the
    # filter over the whole group
    stats = F.transform(F.transform(sensors, values_of), lambda v: F.struct(*_array_stats(v)))
    start_ms = F.unix_millis(F.col("win.start"))
    return agg.select(
        F.sha2(F.concat_ws(":", "equip_id", start_ms), 256).alias("uuid"),
        "equip_id",
        F.lit("kiln").alias("type"),
        start_ms.alias("start_ms"),
        F.unix_millis(F.col("win.end")).alias("end_ms"),
        F.map_from_arrays(sensors, stats).alias("data"),
    )
