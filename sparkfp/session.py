"""SparkSession factory.

Local-mode defaults mirror what we would submit to a real cluster via
``spark-submit --py-files sparkfp.zip``: AQE on (runtime coalescing +
skew-join splitting), shuffle partitions sized to cores (not the 200
default), Arrow enabled for every pandas-UDF boundary, UTC session
timezone so event-time windows are deterministic and comparable with
external oracles.

At 100 TB the same knobs hold: ``spark.sql.shuffle.partitions`` is set
to 2-4x total executor cores by the launcher, AQE re-coalesces at
runtime, and ``spark.sql.files.maxPartitionBytes`` keeps scan tasks
~128 MB so a 1000-executor cluster gets even work distribution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """$SPARK_GRAFT_CPUS when set, exactly, else every CPU of the host
    (``get_spark(cores=None)`` masters ``local[default_parallelism()]``)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env is not None:
        return max(1, int(env))
    return max(1, os.cpu_count() or 1)


def fan_out(df, key: str):
    """Repartition a BATCH DataFrame up to the session's parallelism
    when its current layout has fewer partitions (guide §2.5 "input
    skew: one huge unsplittable file — repartition immediately after
    the read").

    Single-row-group parquet files (the local fixtures; any unsplittable
    input at scale) yield one scan task no matter how many cores exist,
    which serializes every expensive per-row stage above the scan —
    measured 36 s -> ~2 s for near_dup_keep at sf1.0 where the whole
    minhash UDF ran in one task. At cluster scale a well-laid-out table
    already has >= cores scan partitions and this is a no-op (the
    partition count is inspected, never assumed), so no shuffle is paid
    when the layout is already parallel.

    The repartition hashes ``key`` (deterministic, no
    sort-before-repartition pass).
    """
    if getattr(df, "isStreaming", False):
        return df  # micro-batch layout is the trigger's concern
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current >= target:
        return df
    from pyspark.sql import functions as F

    return df.repartition(target, F.col(key))


def get_spark(
    app_name: str = "sparkfp",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cores=None`` -> ``local[default_parallelism()]``. The scaling
    runner (bench/run_scaling.py) passes explicit ``cores`` for its N
    and 4N legs.
    """
    n = cores or default_parallelism()
    sp = shuffle_partitions or max(2 * n, 8)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # clip rows carry ~100 KB binary payloads: cap Arrow batches BY
        # BYTES (Spark 4 knob) so a pandas batch stays ~32 MB. The old
        # row cap of 256 applied to every UDF, shrinking text/numeric
        # batches 40x below the 10k default and defeating per-batch
        # vectorization (and the minhash shingle cache: measured 34 s
        # vs 7 s single-threaded for 256-row vs large batches); the
        # byte cap only bites where rows are actually fat.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "33554432b")
        # same for the vectorized parquet reader: the default 4096-row
        # columnar batch of blob rows is ~400 MB per task and OOMs a
        # default heap (blob tables at 100 TB need this set regardless)
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        # scan split sizing for blob tables: the 128 MB default packs
        # many small files into one partition, capping DSP parallelism
        # at a handful of tasks regardless of cores
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.files.openCostInBytes", "8m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARKFP_DRIVER_MEM", "8g"))
        # RocksDB-backed streaming state (north_star: "RocksDB-style state");
        # scales state past executor heap on a real cluster.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # commit changelogs instead of full RocksDB snapshots per batch:
        # snapshot-per-commit makes state commit time scale with
        # (partitions x concurrent tasks) and inverts N-vs-4N scaling
        # (measured: 150s vs 13s total commit time at 32 vs 8 cores)
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
