"""Rules-engine compiler tests vs a literal pandas oracle.

Oracle mirrors /root/reference/src/data_input/helpers.py semantics:
ops table (:47-60), NaN/inf zeroing before compare (:371-374),
missing-param rule skip (:455-457), IF/THEN/ELSE algebra (:421-452).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkfp import rules


@pytest.fixture(scope="module")
def frame(spark):
    pdf = pd.DataFrame(
        {
            "timestamp": pd.date_range("2026-01-01", periods=50, freq="1min"),
            "TAG_A": np.linspace(-10, 10, 50),
            "TAG_B": np.r_[np.full(25, 5.0), np.full(25, 50.0)],
            "TAG_C": [np.nan if i % 7 == 0 else float(i) for i in range(50)],
            "LIMIT_COL": np.full(50, 3.0),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _clean(s):
    s = pd.to_numeric(s, errors="coerce").replace([np.inf, -np.inf], 0).fillna(0)
    return s


def test_all_ops_match_pandas_oracle(spark, frame):
    df, pdf = frame
    cases = [
        ({"param": "TAG_A", "op": ">", "value": 0}, _clean(pdf.TAG_A) > 0),
        ({"param": "TAG_A", "op": "<=", "value": -5}, _clean(pdf.TAG_A) <= -5),
        ({"param": "TAG_C", "op": "==", "value": 0}, _clean(pdf.TAG_C) == 0),
        ({"param": "TAG_A", "op": "abs_gt", "value": 8}, _clean(pdf.TAG_A).abs() > 8),
        (
            {"param": "TAG_A", "op": "between", "value": [-2, 2]},
            _clean(pdf.TAG_A).between(-2, 2),
        ),
        (
            {"param": "TAG_A", "op": "outside", "value": {"low": -8, "high": 8}},
            ~_clean(pdf.TAG_A).between(-8, 8),
        ),
        (
            {"param": "TAG_B", "op": "deviation", "value": {"base": 10, "pct": 0.5}},
            (_clean(pdf.TAG_B) < 5) | (_clean(pdf.TAG_B) > 15),
        ),
        # column-valued threshold (helpers.py:398-400)
        (
            {"param": "TAG_A", "op": ">", "value": "LIMIT_COL"},
            _clean(pdf.TAG_A) > _clean(pdf.LIMIT_COL),
        ),
    ]
    sel = df.select(
        *[rules.compile_check(c).alias(f"m{i}") for i, (c, _) in enumerate(cases)]
    ).toPandas()
    for i, (case, exp) in enumerate(cases):
        got = sel[f"m{i}"].values
        assert np.array_equal(got, exp.values), case


def test_nan_zeroed_before_compare(spark, frame):
    df, pdf = frame
    # reference quirk: `== 0` matches NaN rows (zeroed first)
    mask = rules.compile_check({"param": "TAG_C", "op": "==", "value": 0})
    got = df.select(mask.alias("m")).toPandas()["m"]
    exp = _clean(pdf.TAG_C) == 0
    assert got.sum() == exp.sum() and exp.sum() > 0


def test_group_and_or_nesting(spark, frame):
    df, pdf = frame
    tree = {
        "logic": "OR",
        "checks": [{"param": "TAG_A", "op": ">", "value": 9}],
        "groups": [
            {
                "logic": "AND",
                "checks": [
                    {"param": "TAG_B", "op": ">", "value": 10},
                    {"param": "TAG_A", "op": "<", "value": 0},
                ],
            }
        ],
    }
    mask = rules.compile_group(tree, set(df.columns))
    got = df.select(mask.alias("m")).toPandas()["m"].values
    exp = (
        (_clean(pdf.TAG_A) > 9)
        | ((_clean(pdf.TAG_B) > 10) & (_clean(pdf.TAG_A) < 0))
    ).values
    assert np.array_equal(got, exp)


def test_if_then_else_algebra(spark, frame):
    df, pdf = frame
    tree = {
        "logic": "IF",
        "if": {"checks": [{"param": "TAG_B", "op": ">", "value": 10}]},
        "then": {"checks": [{"param": "TAG_A", "op": ">", "value": 5}]},
        "else": {"checks": [{"param": "TAG_A", "op": "<", "value": -5}]},
    }
    mask = rules.compile_group(tree, set(df.columns))
    got = df.select(mask.alias("m")).toPandas()["m"].values
    c_if = _clean(pdf.TAG_B) > 10
    c_then = _clean(pdf.TAG_A) > 5
    c_else = _clean(pdf.TAG_A) < -5
    exp = ((c_if & c_then) | (c_if & ~c_then & c_else)).values
    assert np.array_equal(got, exp)


def test_missing_param_skips_rule(spark, frame):
    df, _ = frame
    tree = {"checks": [{"param": "NOT_A_COLUMN", "op": ">", "value": 1}]}
    assert rules.compile_group(tree, set(df.columns)) is None
    # column-valued threshold referencing a missing column also skips
    tree2 = {"checks": [{"param": "TAG_A", "op": ">", "value": "NOPE"}]}
    assert rules.compile_group(tree2, set(df.columns)) is None


def test_derived_parameters_expr(spark, frame):
    df, pdf = frame
    out = rules.derived_parameters(
        df,
        {
            "D1": "sqrt(abs(TAG_A)) + TAG_B / 2",
            "D2": "TAG_A * MISSING_INPUT",  # skipped
        },
    )
    assert "D1" in out.columns and "D2" not in out.columns
    got = out.select("D1").toPandas()["D1"].values
    exp = np.sqrt(np.abs(pdf.TAG_A)) + pdf.TAG_B / 2
    assert np.allclose(got, exp)


def test_observation_text():
    desc = {"TAG_A": "Kiln Speed", "TAG_B": "Torque"}
    units = {"TAG_A": "RPM"}
    rule = {
        "rule_id": "r9",
        "logic": "AND",
        "checks": [
            {"param": "TAG_A", "op": ">", "value": 4.2},
            {"param": "TAG_B", "op": "between", "value": [10, 20]},
        ],
    }
    txt = rules.describe_rule(rule, desc, units)
    assert txt == (
        "Kiln Speed is greater than 4.2 RPM AND Torque is between 10 and 20"
    )
    iftxt = rules.describe_rule(
        {
            "logic": "IF",
            "if": {"checks": [{"param": "TAG_A", "op": ">", "value": 1}]},
            "then": {"checks": [{"param": "TAG_B", "op": "<", "value": 2}]},
        },
        desc,
        units,
    )
    assert iftxt.startswith("if Kiln Speed is greater than 1 RPM then ")
