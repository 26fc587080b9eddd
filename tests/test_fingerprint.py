"""Parity tests: the fingerprint pipeline vs a literal Python oracle.

The oracle is a verbatim re-statement of the reference semantics
(/root/reference/src/flink_job/job.py:103-125 window iteration +
src/flink_job/aggregations.py:6-16 stats), including the float32
truncation of values on the wire (job.py:72).
"""

import statistics
from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkfp import fingerprint, synth


def _oracle(events_pdf):
    groups = defaultdict(list)
    for _, r in events_pdf.iterrows():
        for sid, v in r["data"].items():
            if v == "null":
                continue
            val = float(np.float32(float(v)))  # Types.FLOAT() on the wire
            win = (r["ts_ms"] // 60000) * 60000
            groups[(r["equip_id"], win, sid)].append(val)
    out = {}
    for (e, w, s), vals in groups.items():
        out[(e, w, s)] = {
            "min": min(vals),
            "max": max(vals),
            "median": statistics.median(vals),
            "mean": statistics.fmean(vals),
            "std_dev": statistics.pstdev(vals) if len(vals) > 1 else 0.0,
        }
    return out


def _stats_rows(events):
    """One stats row per (window, equip, sensor): `pipeline` rows
    exploded over their `data` map."""
    fps = fingerprint.pipeline(events)
    return fps.select(
        "start_ms", "end_ms", "equip_id", F.explode("data").alias("sensor_id", "s")
    ).select("start_ms", "end_ms", "equip_id", "sensor_id", "s.*")


@pytest.fixture(scope="module")
def events(spark):
    return synth.sensor_events(spark, n_seconds=180).cache()


def test_unnest_drops_nulls_and_casts_float32(spark, events):
    long = fingerprint.unnest(events)
    pdf = long.toPandas()
    assert (pdf["value"] <= 100).all() and (pdf["value"] >= 0).all()
    # float32 truncation visible: value equals float32(value)
    assert np.array_equal(pdf["value"].values, pdf["value"].values.astype(np.float32))
    # null count matches source
    src = events.toPandas()
    n_null = sum(v == "null" for _, r in src.iterrows() for v in r["data"].values())
    n_total = sum(len(r["data"]) for _, r in src.iterrows())
    assert len(pdf) == n_total - n_null


def test_windowed_stats_match_reference_oracle(spark, events):
    stats = _stats_rows(events).collect()
    oracle = _oracle(events.toPandas())
    assert len(stats) == len(oracle)
    for row in stats:
        o = oracle[(row.equip_id, row.start_ms, row.sensor_id)]
        assert row.end_ms == row.start_ms + 60_000
        for k in ["min", "max", "median", "mean", "std_dev"]:
            assert np.isclose(getattr(row, k), o[k], rtol=1e-9, atol=1e-12), (
                row.equip_id,
                row.sensor_id,
                k,
            )


def test_fingerprint_rollup_shape_and_deterministic_uuid(spark, events):
    fps = fingerprint.pipeline(events)
    rows = fps.collect()
    by_key = {(r.equip_id, r.start_ms): r for r in rows}
    assert len(by_key) == len(rows)  # one row per (equip, window)
    r = rows[0]
    assert r.type == "kiln"
    assert set(next(iter(r.data.values())).asDict()) == {
        "min",
        "max",
        "median",
        "mean",
        "std_dev",
    }
    # uuid deterministic across runs (replaces reference uuid4 — SURVEY §7.5.4)
    rows2 = {(x.equip_id, x.start_ms): x.uuid for x in fingerprint.pipeline(events).collect()}
    for k, row in by_key.items():
        assert rows2[k] == row.uuid


def test_pipeline_filters_each_sensor_slice_once(spark, events):
    """Each sensor's values are filtered out of the group's pairs once and
    bound to a lambda variable: inlined into `_array_stats`, every one of
    its references re-ran the filter over the whole group (Spark shares
    no common subexpressions inside a lambda)."""
    plan = fingerprint.pipeline(events)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("filter(") == 1, plan


def test_pipeline_sorts_each_group_once(spark, events):
    """The group's (sensor_id, value) pairs are sorted once, in the
    aggregation; each sensor's slice of them is already ascending, so
    `_array_stats` folds it without a sort of its own (a re-sort at each
    reference to the slice made 17 `sort_array` in this plan). The
    optimized plan is read because the executed plan prints no
    aggregate result expressions, where the one sort lives."""
    plan = fingerprint.pipeline(events)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("sort_array(") == 1, plan


def test_json_envelope(spark, events):
    j = fingerprint.fingerprints_json(fingerprint.pipeline(events)).first()
    import json

    doc = json.loads(j.value)
    fp = doc["fingerprint"]
    assert set(fp) == {"uuid", "equip_id", "type", "start_ms", "end_ms", "data"}
    anytag = next(iter(fp["data"].values()))
    assert set(anytag) == {"min", "max", "median", "mean", "std_dev"}


def test_windowed_stats_fast_path_matches_exact(spark):
    """The native-aggregate batch fast path agrees with the shared
    batch==stream collect_list plan to well past the 6-dp precision
    the engine publishes (merge-order float differences only)."""
    ev = synth.sensor_events(spark, n_seconds=180)
    exact = _stats_rows(ev).toPandas()
    fast = fingerprint.windowed_stats_fast(fingerprint.unnest(ev)).drop("win").toPandas()
    key = ["start_ms", "equip_id", "sensor_id"]
    exact = exact.sort_values(key).reset_index(drop=True)
    fast = fast.sort_values(key).reset_index(drop=True)
    assert len(exact) == len(fast) > 0
    for c in ("min", "max", "median", "mean", "std_dev"):
        assert fast[c].values == pytest.approx(exact[c].values, abs=1e-9), c
