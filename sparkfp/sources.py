"""Batch sources/sinks beyond parquet: CSV round-trip with the
reference's storage timezone convention, JSONL sink, metadata
dimension loading.

Reference shapes (cited into /root/reference):
- S6 CSV save/load with +05:30 offset applied on save and removed on
  load, RUNNING_FLAG dropped on reload
  (src/data_input/kiln_data_producer.py:200-287, process_odr.py:1098-1106)
- S8 JSONL sink, one record per line (generate_fingerprints.py:226-231)
- S10 Excel metadata mapping -> in-memory dict
  (kiln_data_producer.py:98-108); here: any small dim table ->
  broadcast-ready DataFrame (openpyxl isn't in this container, so the
  Excel reader is gated behind an import-try; CSV/parquet dims load
  directly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

IST_OFFSET = "INTERVAL 5 HOURS 30 MINUTES"  # reference storage convention (E12)


def save_csv_ist(df: DataFrame, path: str, ts_col: str) -> None:
    """Write CSV with timestamps shifted to IST (+05:30), header on —
    byte-compatible with the reference's alerts_dataframe CSVs."""
    shifted = df.withColumn(ts_col, F.col(ts_col) + F.expr(IST_OFFSET))
    shifted.write.mode("overwrite").option("header", True).csv(path)


def load_csv_ist(spark: SparkSession, path: str, ts_col: str) -> DataFrame:
    """Reload a CSV written by save_csv_ist: subtract the offset, drop
    the replay-only RUNNING_FLAG column (as the reference does on
    reload)."""
    df = spark.read.option("header", True).option("inferSchema", True).csv(path)
    df = df.withColumn(ts_col, F.col(ts_col) - F.expr(IST_OFFSET))
    return df.drop("RUNNING_FLAG") if "RUNNING_FLAG" in df.columns else df


def write_jsonl(df: DataFrame, path: str) -> None:
    """One JSON document per line (S8)."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def load_metadata_dim(spark: SparkSession, path: str) -> DataFrame:
    """Small metadata mapping -> broadcast-ready dim DataFrame.

    xlsx (its first sheet) requires openpyxl (absent here) ->
    import-try; csv/parquet load natively. The result is meant for a broadcast join (``F.broadcast(dim)``).
    """
    if path.endswith(".xlsx"):
        try:
            import openpyxl  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "xlsx metadata needs openpyxl; convert to csv/parquet"
            ) from e
        import pandas as pd

        pdf = pd.read_excel(path, sheet_name=0, engine="openpyxl")
        return spark.createDataFrame(pdf)
    if path.endswith(".csv"):
        return spark.read.option("header", True).option("inferSchema", True).csv(path)
    return spark.read.parquet(path)


# ------------------------------------------------------------- S5 REST


def group_tags(equipment_name: str, mapping: dict) -> list[dict]:
    """Tag dedup (reference api.py:37-56): generic params that map to
    the same physical (machine, tag) share ONE request; each fetched
    record fans back out to every generic param in the group."""
    groups: dict[tuple[str, str], list[str]] = {}
    for generic_param, equipment_tag in mapping.items():
        if isinstance(equipment_tag, dict):
            key = (equipment_tag["equipment"], equipment_tag["tag"])
        else:
            key = (equipment_name, equipment_tag)
        groups.setdefault(key, []).append(generic_param)
    return [
        {"machine": m, "tag": t, "params": ps}
        for (m, t), ps in sorted(groups.items())
    ]


def _post(url: str, payload: str, headers: dict) -> tuple[int, str]:
    """POST the reference's request shape; returns (status, body).
    stdlib-only so executors need no extra deps."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url,
        data=payload.encode(),
        headers={"Content-Type": "application/json", **headers},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:  # non-2xx still has a body/status
        return e.code, e.read().decode()


def rest_timeseries_source(
    spark: SparkSession,
    equipment_name: str,
    mapping: dict,
    start: int,
    end: int,
    url: str,
    headers: dict | None = None,
    base_delay: float = 1.0,
) -> DataFrame:
    """S5: REST time-series source (reference api.py:18-154), made
    distributed: the deduped tag groups become a small request table
    and ``mapInPandas`` fan-outs the HTTP fetches across executors —
    each task runs the reference's retry loop (HTTP 429 -> exponential
    backoff ``base_delay * 2**attempt``, 3 attempts in all; other
    non-200 or an ``{"error": ...}`` payload -> tag skipped), parses
    dict-or-list JSON bodies, and fans each record out to every generic
    param mapped to the tag. At a real deployment the request table is
    (tag x time-slice) so a backfill parallelizes over both; the
    per-task logic is identical.

    Returns (param, machine, tag, timestamp, value) rows. Each fetch
    is a stdlib urllib POST carrying ``headers`` (e.g. credentials).
    """
    import json as _json

    from pyspark.sql import types as T

    groups = group_tags(equipment_name, mapping)
    req_schema = T.StructType(
        [
            T.StructField("machine", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("params", T.ArrayType(T.StringType())),
        ]
    )
    out_schema = T.StructType(
        [
            T.StructField("param", T.StringType()),
            T.StructField("machine", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("timestamp", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    requests_df = spark.createDataFrame(groups, req_schema).repartition(
        max(len(groups), 1)
    )
    hdrs = dict(headers or {})

    def run(batches):
        import time as _time

        import pandas as pd

        for pdf in batches:
            rows = []
            for machine, tag, params in zip(pdf["machine"], pdf["tag"], pdf["params"]):
                payload = _json.dumps(
                    {
                        "machineName": machine,
                        "parameterName": tag,
                        "min": start,
                        "max": end,
                    }
                )
                records = None
                for attempt in range(3):
                    status, body = _post(url, payload, hdrs)
                    if status == 429:
                        _time.sleep(base_delay * (2**attempt))
                        continue
                    if status != 200:
                        break
                    parsed = _json.loads(body)
                    if isinstance(parsed, dict):
                        if "error" in parsed:
                            break
                        parsed = [parsed]
                    records = parsed
                    break
                if not records:
                    continue  # skipped tag (reference logs + moves on)
                for param in params:
                    for rec in records:
                        rows.append(
                            (
                                param,
                                machine,
                                tag,
                                int(rec["timestamp"]),
                                float(rec["value"]),
                            )
                        )
            yield pd.DataFrame(
                rows, columns=["param", "machine", "tag", "timestamp", "value"]
            )

    return requests_df.mapInPandas(run, out_schema)
