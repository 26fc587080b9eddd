"""Analytic operators: Hampel outlier filter, pivot/resample,
value-counts rollup, rolling stats.

Reference semantics (cited into /root/reference):
- Hampel filter: replace x where |x - rolling_median| >
  n_sigmas * 1.4826 * rolling_MAD with the rolling median; skip
  where MAD <= 0 or NaN (src/data_input/helpers.py:104-122); adaptive
  window from median sampling interval (process_odr.py:879-922).
- pivot long->wide, mean of duplicates (process_odr.py:934-936)
- resample 1-min mean (process_odr.py:941)
- value_counts + percentage rollup (helpers.py:737-747)

Spark notes: Spark >= 3.4 cannot run `median` with a window *frame*
(only whole-partition), so rolling median/MAD use
``sort_array(collect_list(...))`` over the frame with exact
middle-element math — same mean-of-two-middles rule as
pandas/statistics.median. Frames are small (the reference uses ~7-min
windows at 1-min cadence), so the per-row array is bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

MAD_K = 1.4826  # gaussian consistency constant (same as reference)


def _exact_median(arr: Column) -> Column:
    s = F.sort_array(F.filter(arr, lambda x: x.isNotNull()))
    n = F.size(s)
    lo = F.element_at(s, ((n + 1) / 2).cast("int"))
    hi = F.element_at(s, (n / 2).cast("int") + 1)
    return F.when(n > 0, (lo + hi) / 2)


def rolling_median(col: str, w: WindowSpec) -> Column:
    return _exact_median(F.collect_list(F.col(col)).over(w))


def hampel(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    ts_col: str,
    window_size: int = 7,
    n_sigmas: float = 3.0,
    out_col: str | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Centered-window Hampel filter (helpers.py:104-122).

    window_size rows total (centered, min_periods=1 like the
    reference's pandas rolling); outliers replaced by the rolling
    median; rows where MAD <= 0 are left untouched.

    ``order_cols`` adds deterministic tiebreak columns after ts —
    required whenever (key, ts) is not unique, or the row-frame
    contents (hence the output) are nondeterministic across shuffles.
    """
    out_col = out_col or value_col
    half = window_size // 2
    order = list(order_cols) if order_cols else [ts_col]
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(-half, window_size - half - 1)
    )
    # two passes, exactly like the reference (helpers.py:110-112):
    # dev_i = |x_i - rolling_median_i|, then MAD_i = rolling median of
    # the dev series over the same centered window.
    med = _exact_median(F.collect_list(F.col(value_col)).over(w))
    df = df.withColumn("__med", med).withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("__med"))
    )
    mad = _exact_median(F.collect_list(F.col("__dev")).over(w))
    df = df.withColumn("__thr", F.lit(n_sigmas) * F.lit(MAD_K) * mad)
    is_outlier = (
        F.col("__thr").isNotNull()
        & (F.col("__thr") > 0)
        & (F.col("__dev") > F.col("__thr"))
    )
    return df.withColumn(
        out_col, F.when(is_outlier, F.col("__med")).otherwise(F.col(value_col))
    ).drop("__med", "__dev", "__thr")


def lowess(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    ts_col: str,
    frac: float = 0.3,
    it: int = 0,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """W3: LOWESS smoothing per key (reference lowess_smooth_df,
    helpers.py:141-190 — statsmodels is not in this environment, so
    this is a from-scratch Cleveland LOWESS over integer row positions,
    the same x = arange(len) the reference passes). The smoothed value
    is appended as a ``smooth`` column.

    Semantics (mirrored exactly by the SQL oracle in __spark_entry__):
      x_i = row position after sorting by order_cols, nulls last;
      k   = max(3, min(n, int(frac * n))) nearest neighbors;
      h_i = k-th smallest |x_j - x_i| (ties counted);
      w_j = tricube(|x_j - x_i| / h_i), 0 outside the bandwidth;
      fit = weighted linear regression, intercept-only when the
            weighted x-variance degenerates (< 1e-9);
      rows of keys with n < 3 pass through unsmoothed.
    ``it`` robustness iterations reweight by bisquare(resid / 6*median
    |resid|) like the reference's it=3 call; the driver oracle covers
    it=0, the robust path is pytest-covered.

    Scale: one shuffle on the key (repartition + sortWithinPartitions —
    the exact Exchange+Sort a groupBy.applyInPandas would plan), then a
    multi-group mapInPandas: each Arrow batch carries MANY whole groups
    processed back-to-back in numpy. The previous per-group
    applyInPandas paid ~1 ms of pandas/serialization overhead per group
    (measured 18.3 s single-threaded for 15k groups at sf1.0 vs 3.0 s
    for the batched numpy form — the math is identical); at 10^6+ keys
    that per-group constant dominates the whole query. Groups spanning
    Arrow-batch boundaries are carried over inside the iterator, so
    results are independent of batch size.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    order = list(order_cols) if order_cols else [ts_col]
    schema = StructType(df.schema.fields + [StructField("smooth", DoubleType())])
    out_names = [f.name for f in schema.fields]

    def smooth_group(y: "np.ndarray") -> "np.ndarray":
        n = len(y)
        k = max(3, min(n, int(frac * n)))
        if n < 3:
            return y.astype(float).copy()
        x = np.arange(n, dtype=float)
        rw = np.ones(n)
        out = y.astype(float).copy()
        # Interior fast path (it == 0): with integer positions the k-NN
        # bandwidth of every interior row is h = k//2 and the tricube
        # kernel is symmetric, so the local-LINEAR fit at the window
        # center equals the weighted MEAN (the slope term multiplies
        # x_i - weighted_mean(x) = 0) — one FIR correlation replaces
        # the per-row loop; only the < h edge rows (asymmetric
        # neighborhoods) need full fits. Robust iterations reweight
        # rows and break the symmetry, so it > 0 fits every row.
        h_int = k // 2
        if it == 0 and n > 2 * h_int and h_int > 0:
            d = np.abs(np.arange(-h_int, h_int + 1, dtype=float))
            kern = np.clip(1.0 - (d / h_int) ** 3, 0.0, None) ** 3
            out[h_int: n - h_int] = np.correlate(y, kern, mode="valid") / kern.sum()
            edge_rows = np.r_[np.arange(h_int), np.arange(n - h_int, n)]
        else:
            edge_rows = np.arange(n)
        # Block-vectorized row fits replacing the per-row Python loop:
        # blocks compute D/H/W and the five weighted sums for ~BLOCK
        # rows at once. Bit-exactness: elementwise products are
        # IEEE-identical and .sum(axis=1) on a C-contiguous block
        # applies numpy's pairwise reduction to each length-n row
        # exactly as the 1-D .sum() did (pinned by
        # test_lowess_batched_path_matches_per_group_reference); the
        # scalar branch logic below consumes those sums unchanged.
        block = max(1, (1 << 22) // max(n, 1))  # ~32 MB per temp matrix
        for _ in range(it + 1):
            for b0 in range(0, len(edge_rows), block):
                rows = edge_rows[b0 : b0 + block]
                D = np.abs(x[None, :] - x[rows][:, None])
                H = np.partition(D, k - 1, axis=1)[:, k - 1]
                with np.errstate(divide="ignore", invalid="ignore"):
                    W = np.clip(1.0 - (D / H[:, None]) ** 3, 0.0, None) ** 3
                W *= rw[None, :]
                SW = W.sum(axis=1)
                SWX = (W * x).sum(axis=1)
                SWY = (W * y).sum(axis=1)
                SWXX = (W * x * x).sum(axis=1)
                SWXY = (W * x * y).sum(axis=1)
                for j, i in enumerate(rows):
                    h = H[j]
                    if h <= 0:
                        out[i] = y[i]
                        continue
                    sw = SW[j]
                    if sw <= 0:
                        out[i] = y[i]
                        continue
                    swx, swy, swxx, swxy = SWX[j], SWY[j], SWXX[j], SWXY[j]
                    denom = swxx - swx * swx / sw
                    yw = swy / sw
                    if denom < 1e-9:
                        out[i] = yw
                    else:
                        out[i] = yw + (swxy - swx * swy / sw) / denom * (
                            x[i] - swx / sw
                        )
            if it:
                resid = np.abs(y - out)
                s = np.median(resid)
                if s <= 0:
                    break
                rw = np.clip(1.0 - (resid / (6.0 * s)) ** 2, 0.0, None) ** 2
        return out

    def _key_change_mask(pdf: "pd.DataFrame") -> "np.ndarray":
        """True at row i when row i starts a new key group (null-safe:
        None/NaN equal themselves, matching groupBy's null group)."""
        m = np.zeros(len(pdf), dtype=bool)
        m[0] = True
        for c in key_cols:
            a = pdf[c].to_numpy()
            na = pd.isna(pdf[c]).to_numpy()
            neq = a[1:] != a[:-1]
            both_na = na[1:] & na[:-1]
            m[1:] |= neq & ~both_na
        return m

    def _process(pdf: "pd.DataFrame") -> "pd.DataFrame":
        y_all = pdf[value_col].to_numpy(dtype=float)
        starts = np.nonzero(_key_change_mask(pdf))[0]
        ends = np.r_[starts[1:], len(pdf)]
        out_all = np.empty(len(pdf))
        for s0, e0 in zip(starts, ends):
            out_all[s0:e0] = smooth_group(y_all[s0:e0])
        pdf = pdf.copy(deep=False)
        pdf["smooth"] = out_all
        return pdf[out_names]

    def run(batches):
        buf: "pd.DataFrame | None" = None
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # hold back the final (possibly incomplete) group; it is
            # completed by the next batch or flushed at iterator end
            starts = np.nonzero(_key_change_mask(pdf))[0]
            cut = int(starts[-1])
            buf = pdf.iloc[cut:]
            if cut:
                yield _process(pdf.iloc[:cut])
        if buf is not None and len(buf):
            yield _process(buf)

    # null order keys sort last, as in DuckDB and a pandas sort_values
    sorted_df = df.repartition(*[F.col(c) for c in key_cols]).sortWithinPartitions(
        *key_cols, *[F.asc_nulls_last(c) for c in order]
    )
    return sorted_df.mapInPandas(run, schema)


def pivot_wide(
    df: DataFrame,
    index_col: str,
    pivot_col: str,
    value_col: str,
    pivot_values: list[str] | None = None,
) -> DataFrame:
    """Long -> wide, mean of duplicates (reference pivot_table,
    process_odr.py:934-936). Pass pivot_values to skip the extra
    distinct-scan Spark otherwise runs to discover columns."""
    g = df.groupBy(index_col)
    p = g.pivot(pivot_col, pivot_values) if pivot_values else g.pivot(pivot_col)
    return p.agg(F.avg(value_col))


def resample_mean(
    df: DataFrame, ts_col: str, key_cols: list[str], value_cols: list[str],
    interval: str = "1 minute",
) -> DataFrame:
    """Time-bucketed mean (reference resample('1min').mean(),
    process_odr.py:941): one aggregation, bucket = window start."""
    bucket = F.window(ts_col, interval).getField("start").alias("bucket")
    return (
        df.groupBy(bucket, *key_cols)
        .agg(*[F.avg(c).alias(c) for c in value_cols])
    )


def value_counts_pct(df: DataFrame, col: str) -> DataFrame:
    """Counts + percentage of total, sorted desc
    (reference failure-mode rollup, helpers.py:737-747)."""
    counts = df.groupBy(col).agg(F.count("*").alias("count"))
    total = Window.partitionBy()
    return (
        counts.withColumn(
            "pct", F.round(F.col("count") * 100.0 / F.sum("count").over(total), 2)
        )
        .orderBy(F.desc("count"), F.asc(col))
    )
