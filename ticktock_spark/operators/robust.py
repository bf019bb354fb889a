"""Robust statistics over bucketed series: median/MAD outliers,
Theil–Sen trend, and seasonal-strength scoring.

These are the alerting-side complements of `operators/correlate.py`:
where trend/ACF/Pearson are moment-based (and an outlier drags every
moment), the operators here are ORDER-STATISTIC based — a single bad
datapoint moves a median by at most one rank, so scores stay meaningful
exactly when the data is at its worst.

Cross-engine exactness discipline (the q167/q170 contract):

- values enter as rounded integer micro-units (``floor(v*1e6 + 0.5)``);
- medians run on those integers — both Spark's exact ``percentile`` and
  DuckDB's ``quantile_cont`` interpolate the same rank ``(n+1)/2`` at
  p=0.5, and the midpoint of two integers is an exact IEEE double — so
  group medians are bit-identical across engines and across Spark's
  partial-aggregation orders;
- sums of squares accumulate in DECIMAL(38,0) (order-free);
- the final score is a handful of IEEE ops in pinned order, then the
  6-decimal canonicalization.

All three operators assume a BUCKETED input frame (one row per
(series, bucket), e.g. a downsample/bucket-mean result), so their cost
is bucket-scale: the quadratic Theil–Sen pair fan-out is bounded by
(time-range / bucket_ms)², never by raw-datapoint count — the same
bound-the-expensive-thing-by-buckets shape as `acf`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _q6(c):
    return F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0)


def _micro(value_col: str):
    return F.floor(F.col(value_col) * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")


def mad_outliers(
    df: DataFrame,
    series_cols: list[str],
    value_col: str = "value",
    ts_col: str = "ts",
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-series outliers via the modified z-score
    0.6745·(v − median)/MAD (Iglewicz–Hoaglin), |score| ≥ ``threshold``
    (3.5 is the published cutoff). Unlike mean/stddev z-scores (q84),
    the baseline itself is outlier-proof: one wild datapoint cannot
    inflate the deviation scale and mask itself.

    Output: (series..., ts, value, score) — only the flagged buckets.
    Zero-MAD series (constant, or >50% one value) yield NULL scores and
    are dropped (no finite robust scale exists).

    Scale shape: ONE scan — both medians are unordered-frame window
    aggregates over the same per-series partitioning (no orderBy → no
    sort; two Window nodes share one exchange), so the input subtree is
    never re-executed the way a groupBy + join-back would re-scan it.
    The window partition is a series' BUCKETS (bounded by
    time-range / bucket_ms), never its raw datapoints.
    """
    w = Window.partitionBy(*series_cols)
    base = df.select(
        *series_cols,
        F.col(ts_col).alias("ts"),
        F.col(value_col).alias("value"),
        _micro(value_col).alias("y"),
    )
    dev = base.withColumn(
        "med", F.percentile("y", F.lit(0.5)).over(w)
    ).withColumn("dev", F.abs(F.col("y") - F.col("med")))
    scored = dev.withColumn("mad", F.percentile("dev", F.lit(0.5)).over(w))
    score = F.lit(0.6745) * (F.col("y") - F.col("med")) / F.col("mad")
    return (
        scored.filter(F.col("mad") > 0)
        .filter(F.abs(score) >= F.lit(threshold))
        .select(
            *series_cols,
            "ts",
            _q6(F.col("value")).alias("value"),
            _q6(score).alias("score"),
        )
    )


def theil_sen(
    df: DataFrame,
    series_cols: list[str],
    bucket_ms: int,
    value_col: str = "value",
    ts_col: str = "ts",
    max_buckets: int = 5_000,
) -> DataFrame:
    """Theil–Sen slope per series: the MEDIAN of all pairwise slopes
    (y_j − y_i)/(x_j − x_i) over bucket indices — the robust twin of
    `correlate.trend`'s least-squares slope (breakdown point ~29%: up
    to a third of the buckets can be garbage before the estimate
    moves, where one spike already bends an OLS line).

    Output: (series..., n [buckets], n_pairs, slope) — slope in
    value-units per bucket, 6-decimal. Series with a single bucket (or
    whose rows all share one bucket) have no pairwise slope and are
    dropped. q181's DuckDB oracle (a ``b.x > a.x`` pair join) is the
    spec.

    Scale shape: ONE scan, one series-keyed exchange at bucket scale
    (bounded by time-range / bucket_ms, e.g. 744 buckets for a month of
    hourly buckets); groupBy(series).applyInPandas runs the quadratic
    pair fan-out and median in numpy inside a single task per series.
    Per-series memory is (span/bucket_ms)²·8 bytes — ~2 MB for a month
    of hours; for longer horizons coarsen ``bucket_ms`` (the
    estimator's resolution knob, which is exactly what bounds the
    quadratic). A series with more than ``max_buckets`` buckets fails
    loudly instead of heading for an executor OOM.

    Exactness notes:

    - y enters as the standard micro-unit rounding
      (np.floor(v*1e6+0.5), the IEEE op sequence of _micro), kept
      float64 so a NULL value flows through as NaN;
    - the pair set is the x_j > x_i triangle over rows sorted by
      (ts, y) (ts is unique per bucketed series, y is the tiebreak for
      malformed input), with x the exact integer bucket index — equal-x
      partners (two rows in one bucket) are skipped, as the oracle's
      join skips them;
    - slopes are integer-difference float64 / float64 divisions; NaN
      (NULL-value pairs) sorts last, and a NaN median (NULL-value
      series) is emitted as NULL, as SQL NULL arithmetic gives;
    - the median is lower + (upper − lower)·0.5 at the 1-based ranks
      floor((m+1)/2) and floor(m/2)+1 (quantile_cont's interpolation),
      then the standard 6-decimal canonicalization applied to med/1e6.
    """
    import math

    import numpy as np
    import pandas as pd

    dtypes = dict(df.dtypes)
    series_schema = ", ".join(f"`{c}` {dtypes[c]}" for c in series_cols)
    out_schema = f"{series_schema}, n long, n_pairs long, slope double"
    bms = int(bucket_ms)
    maxb = int(max_buckets)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__ts", "__y"], kind="mergesort")
        ts = pdf["__ts"].to_numpy(np.int64)
        n = len(ts)
        series_vals = {c: pdf[c].iloc[0] for c in series_cols}
        empty = pd.DataFrame(
            {**{c: [] for c in series_cols}, "n": [], "n_pairs": [], "slope": []}
        )
        if n < 2 or ts[-1] - ts[0] < bms:
            return empty
        if n > maxb:
            raise ValueError(
                f"theil_sen: series has {n} buckets > max_buckets={maxb}"
                " — coarsen bucket_ms (pairs grow as buckets²)"
                " or raise max_buckets explicitly"
            )
        x = (ts - ts[0]) // bms
        i, j = np.triu_indices(n, k=1)
        keep = x[j] > x[i]
        i, j = i[keep], j[keep]
        ycol = pdf["__y"]
        if ycol.isna().any():
            # NULL values present: float64 path, NaN propagates like SQL
            # NULL arithmetic (converted back to NULL at the end)
            y = ycol.to_numpy(np.float64)
            dy = y[j] - y[i]
        else:
            # exact path: int64 Δy then ONE rounding at the float cast —
            # the oracle's CAST(y_j - y_i AS DOUBLE) op order
            y = ycol.to_numpy(np.int64)
            dy = (y[j] - y[i]).astype(np.float64)
        sp = dy / (x[j] - x[i]).astype(np.float64)
        sp = np.sort(sp)  # NaN (NULL-value pairs) sorts last
        m = len(sp)
        lower = sp[(m + 1) // 2 - 1]
        upper = sp[m // 2]
        med = lower + (upper - lower) * 0.5
        if math.isnan(med):
            slope = None
        else:
            c = med / 1_000_000.0
            slope = math.floor(c * 1_000_000.0 + 0.5) / 1_000_000.0
        return pd.DataFrame(
            {
                **{c: [v] for c, v in series_vals.items()},
                "n": [n],
                "n_pairs": [m],
                "slope": [slope],
            }
        )

    base = df.select(
        *series_cols,
        F.col(ts_col).alias("__ts"),
        # float64 micro units: same floor(v*1e6+0.5) rounding as _micro,
        # NULL kept as NaN so NULL propagation matches SQL's
        (F.floor(F.col(value_col) * F.lit(1_000_000.0) + F.lit(0.5))).alias(
            "__y"
        ),
    )
    return base.groupBy(*series_cols).applyInPandas(kernel, schema=out_schema)


def seasonal_strength(
    df: DataFrame,
    series_cols: list[str],
    value_col: str = "value",
    ts_col: str = "ts",
    period_ms: int = 86_400_000,
    phase_ms: int = 3_600_000,
) -> DataFrame:
    """Fraction of a series' variance explained by its seasonal profile:
    1 − SS_resid/SS_total, where the profile is the per-phase mean
    (hour-of-day by default — q155's matrix) — the one number that says
    whether seasonal-baseline alerting (q156) will actually beat a flat
    threshold for this metric, and whether a daily rollup can stand in
    for raw data in capacity models.

    Output: (series..., n, n_phases, strength) — strength in [~0, 1],
    6-decimal; NULL for zero-variance series.

    Exactness: phase means round to integer micro-units (the q157
    pattern), residuals are then integer subtractions, and both sums of
    squares accumulate in DECIMAL(38,0) — order-free, bit-identical
    across engines. Scale shape: ONE scan — both means are
    unordered-frame window aggregates over the single bucket lineage
    (per (series, phase) and per series), then one final per-series
    agg that reuses the series partitioning; no joins, no re-executed
    subtree.
    """
    # integer `div`, not float '/': a double quotient can round across
    # the phase boundary for epoch values near a multiple of phase_ms
    phase = F.expr(
        f"CAST((({ts_col} % {period_ms}) div {phase_ms}) AS LONG)"
    )
    base = df.select(
        *series_cols, phase.alias("phase"), _micro(value_col).alias("y")
    )
    dec = F.col("y").cast("decimal(38,0)")
    wp = Window.partitionBy(*series_cols, "phase")
    wg = Window.partitionBy(*series_cols)
    mean_over = lambda w: (  # noqa: E731
        F.floor(
            F.sum(dec).over(w).cast("double") / F.count(F.lit(1)).over(w)
            + F.lit(0.5)
        ).cast("long")
    )
    withm = base.withColumn("ph_mean", mean_over(wp)).withColumn(
        "g_mean", mean_over(wg)
    )
    r = (F.col("y") - F.col("ph_mean")).cast("decimal(38,0)")
    t = (F.col("y") - F.col("g_mean")).cast("decimal(38,0)")
    ss = withm.groupBy(*series_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("phase").cast("long").alias("n_phases"),
        F.sum(r * r).alias("ss_resid"),
        F.sum(t * t).alias("ss_total"),
    )
    return ss.select(
        *series_cols,
        "n",
        "n_phases",
        _q6(
            F.lit(1.0)
            - F.try_divide(
                F.col("ss_resid").cast("double"),
                F.col("ss_total").cast("double"),
            )
        ).alias("strength"),
    )


def seasonal_envelope(
    df: DataFrame,
    series_cols: list[str],
    quantiles: list[float] | None = None,
    value_col: str = "value",
    ts_col: str = "ts",
    period_ms: int = 86_400_000,
    phase_ms: int = 3_600_000,
) -> DataFrame:
    """Seasonal percentile envelope per series: exact R-6 percentiles of
    the bucket values grouped by phase-of-period (hour-of-day by
    default) — the p10/p50/p90 band a seasonal-baseline alert
    (rolling.ewma / q156) draws around "normal for 3am", and the
    capacity-planning curve ("p90 load by hour") read straight off the
    data. seasonal_strength (above) says WHETHER the profile explains a
    series; this is the profile itself, with spread.

    Output: (series..., phase, quantile, n, pct) — long format, pct
    6-decimal.

    Exactness: the phase index is integer `div` (q182's boundary rule);
    ranks and interpolation run on 6-decimal-canonical values through
    operators/percentile.group_percentiles_r6, both-engine-pinned.

    Scale shape: one scan → per-(series, phase) rank windows — the
    partition holds one phase's BUCKETS (span/period_ms rows, e.g. 365
    for a year of daily periods), never raw datapoints, provided the
    input is bucketed (the module contract above).
    """
    from ticktock_spark.operators.percentile import group_percentiles_r6

    qs = quantiles if quantiles is not None else [10.0, 50.0, 90.0]
    phase = F.expr(
        f"CAST((({ts_col} % {int(period_ms)}) div {int(phase_ms)}) AS LONG)"
    )
    base = df.select(
        *series_cols, phase.alias("phase"), _q6(F.col(value_col)).alias("v")
    )
    out = group_percentiles_r6(base, [*series_cols, "phase"], "v", qs)
    return out.select(
        *series_cols, "phase", "quantile", "n", _q6(F.col("pct")).alias("pct")
    )
