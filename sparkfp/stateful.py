"""Stateful operators: run-state machine + rising-edge alert dedup.

Reference semantics (cited into /root/reference):

- **Run-state machine** (process_odr.py:1028-1084, config
  files/cement/cement_run_time_tags.json): per equipment,
  RUNNING -> (down for >= shutdown_window_h) -> SHUTDOWN
  -> (runs again) -> STARTING -> (for transition_window_h) -> RUNNING.
  Rows in SHUTDOWN/STARTING are excluded from rule evaluation.

- **Rising-edge alert dedup** (process_odr.py:1131-1145, state IO
  helpers.py:23-33): an alarm is emitted only if its rule was NOT
  active at the end of the previous run; state = {key: {rule_id: bool}}.

Both exist twice, sharing semantics:
- a **batch** form (pure DataFrame ops — gaps-and-islands + anti-join),
  used by the request-driven pipeline and the pytest oracles;
- a **streaming** form keyed on equipment via
  ``applyInPandasWithState`` (Arrow-batched per-group state), the
  analog of Flink keyed state (T6/T7 in SURVEY §2.7).
"""

from __future__ import annotations

import bisect

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import streaks

RUNNING, SHUTDOWN, STARTING = "RUNNING", "SHUTDOWN", "STARTING"


# ------------------------------------------------------------------ batch


def run_state_batch(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    running_col: str,
    shutdown_window_s: int,
    transition_window_s: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Label every row RUNNING / SHUTDOWN / STARTING.

    Gaps-and-islands formulation (no Python, one shuffle per window
    partition key):
      - a row is SHUTDOWN once its not-running streak reaches
        shutdown_window_s;
      - after a shutdown, running rows within transition_window_s of
        the FIRST running row after that shutdown are STARTING. The
        STARTING clock survives brief dips: the reference keeps
        start_time across not-running rows and clears it only on a
        full shutdown (process_odr.py:1050-1065), so a dip inside the
        transition window neither crashes nor restarts the clock;
      - everything else is RUNNING.

    ``order_cols``: deterministic tiebreak ordering (ts plus an id
    column); required whenever (key, ts) is not unique.
    """
    order = list(order_cols) if order_cols else [ts_col]
    down_flag = "_down"
    df = df.withColumn(down_flag, ~F.col(running_col))
    df = streaks.with_islands(df, key_cols, ts_col, down_flag, order_cols=order)
    w_isl = Window.partitionBy(*key_cols, "island").orderBy(*order)
    w_key = Window.partitionBy(*key_cols).orderBy(*order)
    cum = Window.unboundedPreceding, 0

    ts_s = F.unix_timestamp(ts_col)
    # seconds since this down/run episode began (state-machine clock:
    # the reference's downtime_state timestamps count from the first
    # row of the episode)
    df = df.withColumn("_ts_s", ts_s).withColumn(
        "_elapsed", F.col("_ts_s") - F.first("_ts_s").over(w_isl)
    )
    is_shutdown = F.col(down_flag) & (F.col("_elapsed") >= shutdown_window_s)
    df = df.withColumn("_shut", is_shutdown)
    # STARTING clock origin = the first running row after the most
    # recent shutdown row. Everything below stays on the SAME window
    # partitioning (key, ordered by `order`) so the whole operator is
    # ONE shuffle — a (key, cohort)-partitioned window would add a
    # second exchange. Row positions (not timestamps) drive the
    # comparisons so ts ties cannot misattribute cohort starts.
    pos = F.row_number().over(w_key)
    df = df.withColumn("_pos", pos)
    last_shut_pos = F.max(F.when(F.col("_shut"), F.col("_pos"))).over(
        w_key.rowsBetween(*cum)
    )
    prev_run_pos = F.max(F.when(~F.col(down_flag), F.col("_pos"))).over(
        w_key.rowsBetween(Window.unboundedPreceding, -1)
    )
    # a running row opens a cohort iff the last shutdown is more recent
    # than the previous running row
    is_start = (
        (~F.col(down_flag))
        & last_shut_pos.isNotNull()
        & (F.coalesce(prev_run_pos, F.lit(-1)) < last_shut_pos)
    )
    df = df.withColumn("_is_start", is_start)
    # latest cohort-start ts at or before this row == this row's cohort
    # start (cohort starts are ordered)
    df = df.withColumn(
        "_start_s",
        F.max(F.when(F.col("_is_start"), F.col("_ts_s"))).over(
            w_key.rowsBetween(*cum)
        ),
    )
    state = (
        F.when(F.col("_shut"), F.lit(SHUTDOWN))
        .when(
            (~F.col(down_flag))
            & F.col("_start_s").isNotNull()
            & (F.col("_ts_s") - F.col("_start_s") < transition_window_s),
            F.lit(STARTING),
        )
        .otherwise(F.lit(RUNNING))
    )
    return df.withColumn("run_state", state).drop(
        down_flag, "_ts_s", "_elapsed", "_shut", "_pos", "_is_start",
        "_start_s", "island",
    )


def dedup_rising_edge_batch(
    alarms: DataFrame, prev_state: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Drop alarms whose rule was already active at the end of the
    previous run (anti-join vs the state table — J4 in SURVEY §2.4)."""
    active = prev_state.filter(F.col("active")).select(*key_cols).distinct()
    return alarms.join(active, key_cols, "left_anti")


def alert_state_from(alarms: DataFrame, all_rules: DataFrame, key_cols: list[str]) -> DataFrame:
    """Produce the next run's state table: every known rule key, active
    where it alarmed (reference persists {equip: {rule_id: bool}})."""
    fired = alarms.select(*key_cols).distinct().withColumn("active", F.lit(True))
    return (
        all_rules.select(*key_cols)
        .distinct()
        .join(fired, key_cols, "left")
        .fillna(False, subset=["active"])
    )


def rate_limit_per_key(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    min_interval_s: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """T8: per-key rate limiter (reference _should_run_equip_analyse,
    llm_job.py:57-70: run the side action iff >= min_interval since the
    key's last run, then record the run). Event-time formulation so
    results are deterministic and replayable — the reference compares
    against the wall clock.

    The emit decision is a greedy chain (each emission moves the
    threshold), which no window function expresses — it's a per-key
    sequential dependency, so this is applyInPandas per key (one
    shuffle; groups are independent, any key cardinality scales out).
    Within a group the chain is computed by searchsorted jumps: each
    emission looks up the next emittable row in O(log n), so the Python
    loop runs once per EMITTED row, not once per input row (a group of
    n rows with e emissions costs O(n log n) numpy + O(e) Python).
    Emits the surviving rows unchanged.
    """
    import numpy as np
    import pandas as pd  # noqa: F401

    # ts_col always leads the sort: the searchsorted chain below is only
    # correct on a non-decreasing ts array, so order_cols are tiebreaks
    # after ts, never a reordering of it (a caller-supplied order not
    # led by ts would silently produce a wrong emit set).
    extra = [c for c in (order_cols or []) if c != ts_col]
    order = [ts_col, *extra]
    schema = df.schema

    def limit(pdf):
        pdf = pdf.sort_values(order).reset_index(drop=True)
        ts = (
            pdf[ts_col].astype("datetime64[ns]").astype(np.int64) // 10**9
        ).to_numpy()
        # correctness-critical invariant: raise, don't assert — assert
        # is stripped under `python -O` and the searchsorted chain
        # would silently produce a wrong emit set on a decreasing ts
        if len(ts) and not (np.diff(ts) >= 0).all():
            raise ValueError("rate_limit_per_key: ts must lead the sort")
        # nxt[i] = first row index emittable after an emission at row i
        nxt = np.searchsorted(ts, ts + min_interval_s, side="left")
        keep_idx = []
        i, n = 0, len(ts)
        while i < n:
            keep_idx.append(i)
            i = nxt[i]
        return pdf.iloc[keep_idx]

    return df.groupBy(*key_cols).applyInPandas(limit, schema)


# --------------------------------------------------------------- streaming


def rate_limit_stream(
    values: DataFrame,
    key_col: str,
    ts_col: str,
    min_interval_s: int,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming T8: keyed state = (last emitted event-time, buffer of
    pending event-times). Rows are BUFFERED until the watermark passes
    them, then released in event-time order through the same greedy
    chain as the batch path — so out-of-order arrival across
    micro-batches (any disorder within the watermark delay) yields
    exactly the batch/oracle emit set; rows later than the watermark
    are dropped by Spark upstream (standard T2 semantics). The Flink
    keyed-state analog of the reference's persisted last_run_by_equip
    dict (llm_job.py:40-70).

    Release and the EventTimeTimeout that flushes tails are
    :func:`_release_ripe`'s, shared with ``run_state_stream``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} string, ts_ms long"
    state_schema = "last_emit_ms long, buf array<long>"

    def fn(key, pdfs, state: GroupState):
        (k,) = key
        if state.exists:
            last, buf = state.get
            buf = list(buf) if buf is not None else []
        else:
            last, buf = None, []
        for pdf in pdfs:
            buf.extend(int(t) for t in pdf[ts_col])
        ready, buf = _release_ripe(state, buf)
        out = []
        for ts in ready:
            if last is None or ts - last >= min_interval_s * 1000:
                out.append((k, ts))
                last = ts
        state.update((last, buf))
        yield pd.DataFrame(out, columns=[key_col, "ts_ms"])

    with_time = values.withColumn("event_time", F.timestamp_millis(F.col(ts_col)))
    return (
        with_time.withWatermark("event_time", watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def _release_ripe(state, buf: list, ts_of=int) -> tuple[list, list]:
    """The watermark release of the buffered stream operators: sort the
    keyed-state buffer by event time (``ts_of`` of an entry), return
    (rows STRICTLY before the watermark, in event-time order; rows still
    held) and arm an EventTimeTimeout at the earliest held row, so a
    group releases ripe rows in Spark's no-data micro-batch once the
    watermark advances, without new input of its own. Like any
    watermark-closed operator, rows within the final watermark delay of
    stream end stay buffered until a later event advances the watermark.

    STRICT t < wm matches EventTimeTimeout's firing condition (timeout
    fires only when the watermark strictly exceeds the armed timestamp).
    With t <= wm here, a watermark landing exactly on an event time
    would release it in input-driven groups but not timeout-only groups
    — one batch of skew between the two release paths (and silent doc
    drops in the near-dup collapse, which needs all bands in ONE batch).
    """
    buf.sort()
    wm = state.getCurrentWatermarkMs()
    cut = bisect.bisect_left(buf, wm, key=ts_of)
    held = buf[cut:]
    if held:
        state.setTimeoutTimestamp(max(ts_of(held[0]), wm + 1))
    return buf[:cut], held


def _run_state_step(
    st, down_since, start_since, ts, running, shutdown_ms, transition_ms
):
    """One run-state-machine transition (T6) of ``run_state_stream``.
    Reference semantics: process_odr.py:1028-1084 — a full shutdown is
    the only thing that clears the STARTING clock (brief dips
    survive)."""
    if not running:
        if down_since is None:
            down_since = ts
        if st != SHUTDOWN and ts - down_since >= shutdown_ms:
            st = SHUTDOWN
            start_since = None
        label = SHUTDOWN if st == SHUTDOWN else RUNNING
    else:
        if st == SHUTDOWN:
            st = STARTING
            start_since = ts
        down_since = None
        if st == STARTING:
            if start_since is None:  # resumed from persisted state
                start_since = ts
            if ts - start_since >= transition_ms:
                st = RUNNING
                start_since = None
        label = st
    return st, down_since, start_since, label


def run_state_stream(
    values: DataFrame,
    key_col: str,
    ts_col: str,
    running_col: str,
    shutdown_window_s: int,
    transition_window_s: int,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming run-state machine via applyInPandasWithState.

    Per-key state = (state, down_since_ms, start_since_ms, buf). Rows
    are BUFFERED in keyed state until the watermark passes them, then
    run through ``_run_state_step`` in event-time order
    (:func:`_release_ripe`, as in ``rate_limit_stream``): out-of-order
    arrival across micro-batches within the watermark delay yields the
    batch/oracle labels. Emits one labeled row per released input row.
    Arrow-batched per group — the Flink keyed-state analog (T6). The
    ``buf`` field is not in the state schema of earlier versions, whose
    checkpoints cannot resume here.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} string, ts_ms long, running boolean, run_state string"
    state_schema = (
        "state string, down_since_ms long, start_since_ms long, "
        "buf array<struct<ts_ms: long, running: boolean>>"
    )

    def fn(key, pdfs, state: GroupState):
        (k,) = key
        if state.exists:
            st, down_since, start_since, buf = state.get
            buf = [(int(t), bool(r)) for t, r in buf or []]
        else:
            st, down_since, start_since, buf = RUNNING, None, None, []
        for pdf in pdfs:
            buf.extend(
                (int(t), bool(r)) for t, r in zip(pdf[ts_col], pdf[running_col])
            )
        ready, buf = _release_ripe(state, buf, ts_of=lambda r: r[0])
        rows = []
        for ts, running in ready:
            st, down_since, start_since, label = _run_state_step(
                st, down_since, start_since, ts, running,
                shutdown_window_s * 1000, transition_window_s * 1000,
            )
            rows.append((k, ts, running, label))
        state.update((st, down_since, start_since, buf))
        yield pd.DataFrame(rows, columns=[key_col, "ts_ms", "running", "run_state"])

    with_time = values.withColumn("event_time", F.timestamp_millis(F.col(ts_col)))
    return (
        with_time.withWatermark("event_time", watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )
