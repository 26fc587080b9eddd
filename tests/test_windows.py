"""Salted windowed aggregate: results equal a plain windowed count
(salting is a physical concern, not a semantic one) in both batch and
streaming append mode; sliding windows produce one row per covering
window."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkfp import streaming, windows
from sparkfp.sink import ExactlyOnceParquetSink


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (90% of rows) + a cold tail — the skew scenario
    base = pd.Timestamp("2026-01-01")
    pdf = pd.DataFrame(
        {
            "id": range(2000),
            "k": ["HOT" if i % 10 else f"cold_{i % 7}" for i in range(2000)],
            "ts": [base + pd.Timedelta(seconds=i * 2) for i in range(2000)],
        }
    )
    return spark.createDataFrame(pdf)


def test_salted_count_equals_plain_count(spark, skewed):
    salted = windows.salted_windowed_count(
        skewed, "k", "ts", "10 minutes", salt_buckets=8, salt_source="id"
    )
    plain = skewed.groupBy(F.window("ts", "10 minutes").alias("win"), "k").agg(
        F.count("*").alias("n")
    )
    a = {(r.win.start, r.k): r.n for r in salted.collect()}
    b = {(r.win.start, r.k): r.n for r in plain.collect()}
    assert a == b


def test_salted_count_partials_are_split(spark, skewed):
    """The phase-1 plan really does split the hot key into k partials."""
    win = F.window("ts", "10 minutes").alias("win")
    salt = F.pmod(F.xxhash64(F.col("id")), F.lit(8))
    partial = skewed.groupBy(win, "k", salt.alias("s")).agg(F.count("*").alias("p"))
    hot = partial.filter(F.col("k") == "HOT").groupBy("win").agg(
        F.countDistinct("s").alias("n_salts"), F.max("p").alias("max_partial"),
        F.sum("p").alias("total"),
    )
    for r in hot.collect():
        assert r.n_salts >= 6  # hot key spread over (almost) all buckets
        assert r.max_partial < r.total  # no single task owns the hot key


def test_salted_count_streaming_equals_batch(spark, skewed, tmp_path):
    src = str(tmp_path / "src")
    df = skewed.withColumn("ts_ms", F.unix_millis("ts"))
    streaming.write_stream_source(df, src, n_files=4, order_col="ts_ms")
    stream = streaming.read_parquet_stream(
        spark, src, "id long, k string, ts timestamp, ts_ms long"
    )
    out = windows.salted_windowed_count(
        stream, "k", "ts", "10 minutes",
        salt_buckets=8, salt_source="id", watermark="30 seconds",
    ).select(F.col("win.start").alias("ws"), "k", "n")
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    q = streaming.start_exactly_once(out, sink, str(tmp_path / "ck"))
    q.awaitTermination(300)
    got = {(r.ws, r.k): r.n for r in sink.read(spark).collect()}
    exp = {
        (r.win.start, r.k): r.n
        for r in skewed.groupBy(F.window("ts", "10 minutes").alias("win"), "k")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # emitted rows correct; all watermark-closed windows present
    assert set(got) <= set(exp)
    for k_, v in got.items():
        assert exp[k_] == v
    assert len(got) >= len(exp) - 2 * 8  # at most the trailing window open


def test_sliding_window_covers_two(spark, skewed):
    out = skewed.groupBy(
        windows.sliding("ts", "20 minutes", "10 minutes").alias("win"), "k"
    ).agg(F.count("*").alias("n"))
    plain = skewed.groupBy(
        windows.tumbling("ts", "10 minutes").alias("win"), "k"
    ).agg(F.count("*").alias("n"))
    # every row lands in exactly 2 sliding windows
    assert (
        out.agg(F.sum("n")).first()[0] == 2 * plain.agg(F.sum("n")).first()[0]
    )
