"""Idempotent exactly-once sink.

The reference's Kafka sink is *not* transactional
(src/flink_job/kafka_config.py:34-43 — no delivery guarantee
configured), so the reference is at-least-once at best. The north
rule upgrades this: our sink must be exactly-once under micro-batch
replay after a crash/restart.

Design (SURVEY.md §7.6): ``foreachBatch`` writes each micro-batch to
a table directory, plus a committed-batch ledger. On restart Spark
replays the last uncommitted batch with the *same batch_id*; the sink
sees the ledger entry and skips the rewrite. Checkpointed source
offsets (upstream) + idempotent-by-batch_id writes (here) compose to
end-to-end exactly-once.

On a real cluster the table is Iceberg and the ledger is the Iceberg
snapshot summary property (commit and ledger are one atomic swap);
Iceberg jars aren't in this container, so the local implementation
uses a parquet directory per batch + an atomic rename for the ledger
mark — same protocol, same replay-safety, swap-in connector.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _run_replayed(batch_df: DataFrame) -> None:
    """A replayed batch is already in the table, but its plan must still
    run: Spark rejects a batch whose stateful operators did not commit
    their state stores (STATE_STORE_COMMIT_VALIDATION_FAILED), and only
    running the plan commits them. The noop sink runs it, writes nothing."""
    batch_df.write.format("noop").mode("overwrite").save()


class ExactlyOnceParquetSink:
    """foreachBatch target: parquet table + committed-batch ledger."""

    def __init__(self, table_path: str):
        self.table_path = table_path
        self.ledger_dir = os.path.join(table_path, "_committed_batches")
        os.makedirs(self.ledger_dir, exist_ok=True)

    def _mark(self, batch_id: int) -> str:
        return os.path.join(self.ledger_dir, f"{batch_id}.done")

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._mark(batch_id))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            # replay after restart — batch already fully committed
            _run_replayed(batch_df)
            return
        out = os.path.join(self.table_path, f"batch_id={batch_id}")
        # overwrite: a partially-written batch dir from a crash is
        # replaced wholesale, so the commit point is the ledger mark.
        batch_df.write.mode("overwrite").parquet(out)
        tmp = self._mark(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_df.sparkSession.sparkContext.applicationId))
        os.replace(tmp, self._mark(batch_id))  # atomic commit

    def read(self, spark) -> DataFrame:
        """Read back only committed batches."""
        committed = {
            int(f.split(".")[0])
            for f in os.listdir(self.ledger_dir)
            if f.endswith(".done")
        }
        paths = [
            os.path.join(self.table_path, f"batch_id={b}") for b in sorted(committed)
        ]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            raise FileNotFoundError(f"no committed batches under {self.table_path}")
        return spark.read.parquet(*paths)


def iceberg_available(spark) -> bool:
    """True iff the Iceberg Spark runtime is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class ExactlyOnceIcebergSink:
    """foreachBatch target for a real cluster: Iceberg table commits
    with the committed-batch ledger carried IN the table's snapshot
    summary, so data + ledger move in one atomic snapshot swap (the
    parquet sink above needs two steps; Iceberg collapses them).

    Protocol per micro-batch:
      1. scan the table's snapshot history for ``sparkfp.batch_id`` in
         any snapshot summary == ledger lookup;
      2. if absent, append the batch with
         ``option("snapshot-property.sparkfp.batch_id", str(batch_id))``
         — Iceberg stamps the property into the new snapshot atomically
         with the data commit, so a crash between write and mark is
         impossible by construction.

    CONNECTOR-GATED: the Iceberg runtime jars are not in this
    container, so constructing this sink without them raises
    immediately with the config it needs; the protocol itself is what
    the streaming tests exercise through the parquet twin
    (same replay contract, see module docstring).
    """

    PROP = "sparkfp.batch_id"

    def __init__(self, spark, table: str):
        if not iceberg_available(spark):
            raise ModuleNotFoundError(
                "Iceberg Spark runtime not on the classpath; launch with "
                "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13 "
                "and a catalog config (spark.sql.catalog.<name>=org.apache."
                "iceberg.spark.SparkCatalog). Use ExactlyOnceParquetSink "
                "for the connector-free twin."
            )
        self.spark = spark
        self.table = table

    def committed_batch_ids(self) -> set[int]:
        rows = self.spark.sql(
            f"SELECT summary FROM {self.table}.snapshots"
        ).collect()
        out = set()
        for r in rows:
            v = (r.summary or {}).get(self.PROP)
            if v is not None:
                out.add(int(v))
        return out

    def is_committed(self, batch_id: int) -> bool:
        return batch_id in self.committed_batch_ids()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            # replay after restart — snapshot already carries it
            _run_replayed(batch_df)
            return
        (
            batch_df.writeTo(self.table)
            .option(f"snapshot-property.{self.PROP}", str(batch_id))
            .append()
        )

    def read(self, spark) -> DataFrame:
        return spark.read.table(self.table)
