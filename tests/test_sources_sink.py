"""Source/sink round-trips: CSV with IST offset (S6/E12), JSONL (S8),
exactly-once sink replay behavior, stream-stream interval join (J1)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkfp import joins, sources, streaming
from sparkfp.sink import ExactlyOnceParquetSink


def test_csv_ist_roundtrip(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "timestamp": pd.date_range("2026-01-01", periods=5, freq="1min"),
            "TAG_A": [1.0, 2.0, 3.0, 4.0, 5.0],
            "RUNNING_FLAG": [True] * 5,
        }
    )
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "csv")
    sources.save_csv_ist(df, path, "timestamp")
    back = sources.load_csv_ist(spark, path, "timestamp").orderBy("timestamp")
    got = back.toPandas()
    assert "RUNNING_FLAG" not in got.columns  # dropped on reload
    assert list(got.timestamp) == list(pdf.timestamp)  # offset round-trips
    assert list(got.TAG_A) == list(pdf.TAG_A)
    # on-disk CSV really is shifted +05:30
    raw = spark.read.option("header", True).csv(path).toPandas()
    assert raw.timestamp.min().startswith("2026-01-01T05:30")


def test_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    path = str(tmp_path / "jl")
    sources.write_jsonl(df, path)
    files = [f for f in os.listdir(path) if f.endswith(".json")]
    assert files
    back = sources.read_jsonl(spark, path, "id long, s string")
    assert {(r.id, r.s) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_exactly_once_sink_skips_committed_batch(spark, tmp_path):
    sink = ExactlyOnceParquetSink(str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1,)], "x long")
    df2 = spark.createDataFrame([(2,)], "x long")
    sink(df1, 0)
    sink(df2, 0)  # replay of batch 0 with different data must be a no-op
    vals = {r.x for r in sink.read(spark).collect()}
    assert vals == {1}
    sink(df2, 1)
    vals = {r.x for r in sink.read(spark).collect()}
    assert vals == {1, 2}


def test_stream_stream_interval_join(spark, tmp_path):
    """J1 streaming: readings joined to fingerprint windows with
    watermark-bounded state (save_fingerprints.py:66-153 analog)."""
    base = 1_700_000_000_000
    readings = [("E", base + i * 10_000) for i in range(60)]  # 10 min of data
    windows = [
        ("E", base + w * 60_000, base + (w + 1) * 60_000) for w in range(10)
    ]
    rdir, wdir = str(tmp_path / "r"), str(tmp_path / "w")
    rdf = spark.createDataFrame(readings, "equip string, ts_ms long")
    wdf = spark.createDataFrame(windows, "equip string, start_ms long, end_ms long")
    streaming.write_stream_source(rdf, rdir, n_files=3, order_col="ts_ms")
    streaming.write_stream_source(wdf, wdir, n_files=2, order_col="end_ms")

    r = streaming.read_parquet_stream(
        spark, rdir, "equip string, ts_ms long"
    ).withColumn("ts", F.timestamp_millis("ts_ms"))
    w = (
        streaming.read_parquet_stream(
            spark, wdir, "equip string, start_ms long, end_ms long"
        )
        .withColumn("start_ts", F.timestamp_millis("start_ms"))
        .withColumn("end_ts", F.timestamp_millis("end_ms"))
    )
    joined = joins.interval_join_stream(
        r, w, "equip", "ts", "start_ts", "end_ts",
        facts_watermark="2 minutes", intervals_watermark="2 minutes",
    ).select(F.col("f.ts_ms").alias("ts_ms"), F.col("iv.start_ms").alias("start_ms"))
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"))
    q = streaming.start_exactly_once(joined, sink, str(tmp_path / "ck"))
    q.awaitTermination(300)
    got = {(r.ts_ms, r.start_ms) for r in sink.read(spark).collect()}
    exp = {
        (ts, s)
        for _, ts in readings
        for _, s, e in windows
        if s <= ts < e
    }
    # stream-stream inner join emits only watermark-safe matches; all
    # emitted rows must be correct and cover everything the final
    # watermark closed (trailing windows may be withheld)
    assert got <= exp
    final_wm = base + 59 * 10_000 - 120_000
    closed = {(ts, s) for (ts, s) in exp if s + 60_000 <= final_wm}
    assert closed <= got
    assert len(got) > 0


def test_sink_crash_between_write_and_ledger_is_replay_safe(spark, tmp_path):
    """Simulate a crash after the parquet write but before the ledger
    mark: the replayed batch must overwrite cleanly (no dupes)."""
    import os

    sink = ExactlyOnceParquetSink(str(tmp_path / "t"))
    df = spark.createDataFrame([(1,), (2,)], "x long")

    # crash: parquet written, ledger mark missing
    out = os.path.join(sink.table_path, "batch_id=0")
    df.write.mode("overwrite").parquet(out)
    assert not sink.is_committed(0)

    # restart: Spark replays batch 0 (same id, same data)
    sink(df, 0)
    assert sink.is_committed(0)
    vals = sorted(r.x for r in sink.read(spark).collect())
    assert vals == [1, 2]


def test_load_metadata_dim_csv_and_xlsx_gate(spark, tmp_path):
    """S10: the metadata dim loads from csv (the in-container path;
    xlsx needs openpyxl and raises NotImplementedError when absent —
    reference kiln_data_producer.py:98-108 reads the same mapping
    from a spreadsheet)."""
    import pytest as _pytest

    from sparkfp import sources

    csv = tmp_path / "dim.csv"
    csv.write_text("tag,unit,scale\nt1,degC,1.5\nt2,bar,2.0\n")
    dim = sources.load_metadata_dim(spark, str(csv))
    assert {r.tag: (r.unit, r.scale) for r in dim.collect()} == {
        "t1": ("degC", 1.5), "t2": ("bar", 2.0)
    }
    facts = spark.createDataFrame([("t1", 10.0), ("t3", 1.0)], "tag string, v double")
    out = facts.join(F.broadcast(dim), "tag", "left").collect()
    assert {(r.tag, r.unit) for r in out} == {("t1", "degC"), ("t3", None)}
    try:
        import openpyxl  # noqa: F401
        has_openpyxl = True
    except ImportError:
        has_openpyxl = False
    if not has_openpyxl:
        import zipfile

        xlsx = tmp_path / "dim.xlsx"
        with zipfile.ZipFile(xlsx, "w") as z:  # xlsx is a zip container
            z.writestr("stub.xml", "<x/>")
        with _pytest.raises(NotImplementedError):
            sources.load_metadata_dim(spark, str(xlsx))


def test_rest_timeseries_source_backoff_dedup_and_skip(spark):
    """S5 REST source (reference api.py:18-154) against a live local
    HTTP stub: tag dedup (two generic params sharing one physical tag
    -> ONE request, rows fanned out to both), HTTP 429 -> exponential
    backoff then success, dict payloads treated as single records,
    persistent non-200 tags skipped without failing the job."""
    import json
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from sparkfp import sources

    calls = Counter()
    lock = threading.Lock()

    class Stub(BaseHTTPRequestHandler):
        def do_POST(self):
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            tag = body["parameterName"]
            with lock:
                calls[tag] += 1
                n = calls[tag]
            if tag == "TAG_A":  # 429 twice, then a 2-record list
                if n <= 2:
                    self.send_response(429)
                    self.end_headers()
                    return
                out = [
                    {"timestamp": body["min"], "value": 1.5},
                    {"timestamp": body["max"], "value": 2.5},
                ]
            elif tag == "TAG_B":  # single dict record
                out = {"timestamp": body["min"], "value": 9.0}
            else:  # TAG_C: hard failure -> tag skipped
                self.send_response(500)
                self.end_headers()
                self.wfile.write(b"boom")
                return
            payload = json.dumps(out).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):  # silence request logging
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Stub)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        mapping = {
            "kiln_speed": "TAG_A",
            "kiln_rpm": "TAG_A",  # same physical tag -> deduped request
            "feed_rate": {"equipment": "MILL_2", "tag": "TAG_B"},
            "broken_sensor": "TAG_C",
        }
        out = sources.rest_timeseries_source(
            spark, "KILN_1", mapping, start=100, end=200,
            url=f"http://127.0.0.1:{port}/ts", base_delay=0.01,
        ).collect()
        rows = {(r.param, r.machine, r.tag, r.timestamp, r.value) for r in out}
        assert rows == {
            ("kiln_speed", "KILN_1", "TAG_A", 100, 1.5),
            ("kiln_speed", "KILN_1", "TAG_A", 200, 2.5),
            ("kiln_rpm", "KILN_1", "TAG_A", 100, 1.5),
            ("kiln_rpm", "KILN_1", "TAG_A", 200, 2.5),
            ("feed_rate", "MILL_2", "TAG_B", 100, 9.0),
        }
        # dedup: one request-chain per physical tag (A: 2x429 + 1 ok)
        assert calls["TAG_A"] == 3
        assert calls["TAG_B"] == 1
        assert calls["TAG_C"] == 1  # non-429 errors are terminal, no retry
    finally:
        srv.shutdown()


def test_iceberg_sink_connector_gate(spark):
    """The Iceberg exactly-once sink is connector-gated in this
    container: constructing it without the runtime jars must raise a
    clear ModuleNotFoundError naming the --packages coordinate, and
    iceberg_available must report the absence (not crash)."""
    from sparkfp.sink import ExactlyOnceIcebergSink, iceberg_available

    assert iceberg_available(spark) is False
    with pytest.raises(ModuleNotFoundError, match="iceberg-spark-runtime"):
        ExactlyOnceIcebergSink(spark, "cat.db.matches")
    # the batch-id snapshot property the protocol keys on is pinned:
    # renaming it would silently break replay dedup on a real cluster
    assert ExactlyOnceIcebergSink.PROP == "sparkfp.batch_id"


def test_iceberg_sink_replay_protocol_with_stub_session():
    """Drive ExactlyOnceIcebergSink's replay protocol without the
    runtime jars (the connector gate above proves they're absent here):
    stub the three session surfaces the sink touches — ``spark.sql``
    over ``<table>.snapshots`` for the ledger lookup,
    ``batch_df.writeTo(...).option(...).append()`` for the commit, and
    ``batch_df.write.format("noop")...save()`` for a replay — and
    assert batch-id idempotence end-to-end: a replayed batch_id appends
    nothing but still runs its plan (so a stateful query's state
    stores commit), a new batch_id appends exactly once and stamps the
    ``sparkfp.batch_id`` snapshot property the lookup keys on. The
    real-runtime twin below runs the same contract wherever the jars
    exist."""
    from sparkfp.sink import ExactlyOnceIcebergSink

    class _Snapshots:
        """Snapshot summaries as the sink reads them back."""

        def __init__(self):
            self.rows = []  # one dict per committed snapshot

    class _Row:
        def __init__(self, summary):
            self.summary = summary

    class _StubSpark:
        def __init__(self, snaps):
            self._snaps = snaps

        def sql(self, q):
            assert q.endswith(".snapshots")

            class _Res:
                def __init__(self, rows):
                    self._rows = rows

                def collect(self):
                    return [_Row(s) for s in self._rows]

            return _Res(self._snaps.rows)

    class _Writer:
        def __init__(self, snaps, payload, table):
            self._snaps, self._payload, self._table = snaps, payload, table
            self._props = {}

        def option(self, k, v):
            assert k.startswith("snapshot-property.")
            self._props[k[len("snapshot-property."):]] = v
            return self

        def append(self):
            # Iceberg semantics: data + summary props in ONE snapshot
            self._snaps.rows.append(dict(self._props, rows=self._payload))

    class _NoopWriter:
        def __init__(self, ran):
            self._ran = ran

        def format(self, source):
            assert source == "noop"
            return self

        def mode(self, _):
            return self

        def save(self):
            self._ran.append(True)

    class _StubBatchDF:
        def __init__(self, snaps, payload):
            self._snaps, self._payload = snaps, payload
            self.plan_runs = []

        def writeTo(self, table):
            return _Writer(self._snaps, self._payload, table)

        @property
        def write(self):
            return _NoopWriter(self.plan_runs)

    snaps = _Snapshots()
    sink = object.__new__(ExactlyOnceIcebergSink)  # bypass the jar gate only
    sink.spark = _StubSpark(snaps)
    sink.table = "cat.db.matches"

    sink(_StubBatchDF(snaps, [1]), 0)
    assert sink.is_committed(0) and not sink.is_committed(1)
    replay = _StubBatchDF(snaps, [999])
    sink(replay, 0)  # restart replay: appends nothing, still runs the plan
    assert [s["rows"] for s in snaps.rows] == [[1]]
    assert replay.plan_runs == [True]
    assert snaps.rows[0][ExactlyOnceIcebergSink.PROP] == "0"
    sink(_StubBatchDF(snaps, [2]), 1)
    assert [s["rows"] for s in snaps.rows] == [[1], [2]]
    assert sink.committed_batch_ids() == {0, 1}


def test_iceberg_sink_crash_replay_real_runtime(spark, tmp_path):
    """The real-runtime twin (VERDICT r5 task #8): wherever the Iceberg
    jars ARE on the classpath, run the crash-replay contract against an
    actual hadoop-catalog table — replayed batch_id is a no-op, the
    snapshot summary carries the ledger. Skipped (not failed) in
    containers without the connector; the stub test above pins the
    protocol there."""
    from pyspark.sql import SparkSession

    from sparkfp.sink import ExactlyOnceIcebergSink, iceberg_available

    if not iceberg_available(spark):
        pytest.skip("Iceberg Spark runtime not on the classpath")

    spark.stop()  # need a session with a catalog conf; rebuild below
    it = (
        SparkSession.builder.master("local[4]")
        .appName("sparkfp-iceberg-test")
        .config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config("spark.sql.catalog.t", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.t.type", "hadoop")
        .config("spark.sql.catalog.t.warehouse", str(tmp_path / "wh"))
        .getOrCreate()
    )
    try:
        it.sql("CREATE TABLE t.db.m (x long) USING iceberg")
        sink = ExactlyOnceIcebergSink(it, "t.db.m")
        sink(it.createDataFrame([(1,)], "x long"), 0)
        sink(it.createDataFrame([(999,)], "x long"), 0)  # replay: no-op
        sink(it.createDataFrame([(2,)], "x long"), 1)
        assert sorted(r.x for r in sink.read(it).collect()) == [1, 2]
        assert sink.committed_batch_ids() == {0, 1}
    finally:
        it.stop()
