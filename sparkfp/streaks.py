"""Gaps-and-islands streak detection and duration-gated triggers.

Reference semantics (cited into /root/reference):
- consecutive-True duration accumulation
    src/data_input/helpers.py:82-101 (consecutive_duration_boolseries)
    and the inline variant src/data_input/process_odr.py:269-303
- trigger once per streak: the alarm fires at the FIRST row where the
  accumulated duration reaches duration_s; it can fire again only
  after the condition resets to False (process_odr.py:269-303).

Spark restatement (pure window functions, no Python):
  lag(flag)   -> change marker
  sum(marker) -> island id (cumulative over time)
  dt          -> coalesce(ts - lag(ts), step_fallback)  [W4]
  cum dur     -> sum(dt) over (key, island order ts)
  trigger     -> row_number over qualifying rows per island == 1

All windows partition by (key, island): state per partition is one
running sum — scales to arbitrary key cardinality; a single global
time-ordered key would serialize, which is why every API here demands
key columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _order(ts_col: str, order_cols: list[str] | None) -> list[str]:
    """Window ordering: ts plus caller-supplied tiebreak columns.

    Timestamp ties are real at scale (multiple rows per second per
    key); without a deterministic tiebreak every window result here
    is nondeterministic across shuffles. Callers with a unique id
    column should always pass it."""
    return list(order_cols) if order_cols else [ts_col]


def with_islands(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    flag_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Add an ``island`` id that increments whenever `flag_col` changes."""
    w = Window.partitionBy(*key_cols).orderBy(*_order(ts_col, order_cols))
    changed = (
        F.lag(flag_col).over(w).isNull()
        | (F.lag(flag_col).over(w) != F.col(flag_col))
    ).cast("long")
    return df.withColumn("island", F.sum(changed).over(w))


def with_streak_duration(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    flag_col: str,
    step_fallback_s: float = 60.0,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Accumulated in-streak duration in seconds (0 where flag is
    False), as a ``streak_s`` column next to ``island``.

    dt for the first row of a streak falls back to `step_fallback_s`
    (reference row_duration fallback — process_odr.py:279-287)."""
    order = _order(ts_col, order_cols)
    df = with_islands(df, key_cols, ts_col, flag_col, order_cols=order)
    w = Window.partitionBy(*key_cols).orderBy(*order)
    wi = Window.partitionBy(*key_cols, "island").orderBy(*order)
    dt = F.coalesce(
        F.unix_timestamp(ts_col) - F.lag(F.unix_timestamp(ts_col)).over(w),
        F.lit(step_fallback_s),
    )
    return df.withColumn(
        "streak_s",
        F.when(F.col(flag_col), F.sum(dt).over(wi)).otherwise(F.lit(0.0)),
    )


def streak_triggers(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    flag_col: str,
    duration_s_col: str = "duration_s",
    step_fallback_s: float = 60.0,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Emit ONE row per streak: the first row whose accumulated duration
    reaches the required duration (per-row column `duration_s_col`).

    Reference: the alarm row at process_odr.py:269-303; resets when the
    condition goes False, so a long outage alarms once.
    """
    order = _order(ts_col, order_cols)
    df = with_streak_duration(
        df, key_cols, ts_col, flag_col, step_fallback_s=step_fallback_s,
        order_cols=order,
    )
    qualified = df.filter(F.col(flag_col) & (F.col("streak_s") >= F.col(duration_s_col)))
    w = Window.partitionBy(*key_cols, "island").orderBy(*order)
    return (
        qualified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "island")
    )
