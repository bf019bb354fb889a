"""Stateful streaming rolling z-score (applyInPandasWithState).

Streaming twin of ``operators.rolling.rolling_zscore``: each arriving
point is scored against its own series' trailing ``window_ms`` of
points, with the window carried across micro-batches in the state store.

State per series = the points inside the trailing window of the newest
point seen (ts + value arrays) — bounded by window span × point rate,
the same bound the batch RANGE frame holds in memory per row, NOT by
stream length. The shuffle key is the series, matching the batch
partitioning.

Ordering mirrors streaming/rate.py: points are processed in event-time
order within a batch and state advances monotonically; a point at or
before the newest state ts (out-of-order across batches) is dropped —
the batch path stays the authority for late data.

Numerics intentionally match the batch operator: moments accumulate over
the frame as exact 2-decimal values (scaled integers — the same value
domain the batch DECIMAL(18,2) casts enforce), then one float division
chain (mean = s/n, var = (ss - s²/n)/n clamped at 0), so a point scored
online equals the batch z-score for the same in-order frame.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("ts", ArrayType(LongType())),
        StructField("cents", ArrayType(LongType())),  # value * 100, exact
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("metric", StringType()),
        StructField("series", StringType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
        StructField("roll_n", LongType()),
        StructField("roll_mean", DoubleType()),
        StructField("roll_std", DoubleType()),
        StructField("zscore", DoubleType()),
    ]
)


def _make_zscore_fn(window_ms: int, min_points: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        metric, series = key
        if state.exists:
            w_ts, w_cents = list(state.get[0]), list(state.get[1])
        else:
            w_ts, w_cents = [], []
        rows: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            for ts, value in zip(pdf["ts"], pdf["value"]):
                ts = int(ts)
                value = float(value)
                if w_ts and ts <= w_ts[-1]:
                    continue  # late/dup across batches: see module doc
                cents = round(value * 100)
                w_ts.append(ts)
                w_cents.append(cents)
                lo = ts - window_ms
                while w_ts[0] < lo:
                    w_ts.pop(0)
                    w_cents.pop(0)
                n = len(w_ts)
                s = float(sum(w_cents)) / 100.0
                ss = float(sum(c * c for c in w_cents)) / 10_000.0
                mean = s / n
                var = max((ss - s * s / n) / n, 0.0)
                std = var**0.5
                z = (
                    (value - mean) / std
                    if n >= min_points and std > 0
                    else None
                )
                rows.append((metric, series, ts, value, n, mean, std, z))
        state.update((w_ts, w_cents))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "metric", "series", "ts", "value",
                    "roll_n", "roll_mean", "roll_std", "zscore",
                ],
            )

    return fn


def streaming_zscore(
    dps: DataFrame, window_ms: int, min_points: int = 2
) -> DataFrame:
    """datapoints stream (metric, ts, value, tags) → per-point trailing
    z-score stream. Output matches operators.rolling.rolling_zscore for
    in-order data."""
    from pyspark.sql import functions as F

    from ticktock_spark.plans.planner import canonical_series_key

    keyed = dps.select(
        "metric",
        canonical_series_key().alias("series"),
        "ts",
        "value",
    )
    return keyed.groupBy("metric", "series").applyInPandasWithState(
        _make_zscore_fn(window_ms, min_points),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Live anomaly-score stream (round 7): streaming EWMA x static seasonal
# profile -> the q157 ensemble score, live. See streaming_anomaly below.
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from ticktock_spark.streaming.ewma import streaming_ewma  # noqa: E402

US_PER_HOUR = 3_600_000_000


def streaming_anomaly(
    points: DataFrame,
    profile: DataFrame,
    alpha: float = 0.5,
    series_col: str = "series",
    ts_col: str = "us",
    value_col: str = "value",
    seq_col: str = "seq",
) -> DataFrame:
    """points stream (``ts_col`` = epoch µs long) → one scored row per
    point after its series' first, for series-hours present in
    ``profile`` (static frame: series, hour_utc, hour_avg).

    Output: (series, us, value, ewma, hour_avg, score) with
    ``ewma`` the PRIOR recursive baseline (current point excluded,
    matching the batch operator) and the q157 score combination."""
    ew = streaming_ewma(
        points,
        alpha=alpha,
        series_col=series_col,
        ts_col=ts_col,
        value_col=value_col,
        seq_col=seq_col,
    )
    hour = (F.expr(f"us div {US_PER_HOUR}") % 24).cast("int")
    prof = F.broadcast(
        profile.select(
            F.col("series").cast("string").alias("series"),
            F.col("hour_utc").cast("int").alias("hour_utc"),
            F.col("hour_avg").cast("double").alias("hour_avg"),
        )
    )
    return (
        ew.withColumn("hour_utc", hour)
        .join(prof, ["series", "hour_utc"])
        .select(
            "series",
            "us",
            "value",
            "ewma",
            "hour_avg",
            (
                F.abs(F.col("value") - F.col("hour_avg"))
                + F.abs(F.col("value") - F.col("ewma"))
            ).alias("score"),
        )
    )


def streaming_seasonal_profile(
    points: DataFrame,
    series_col: str = "series",
    ts_col: str = "us",
    value_col: str = "value",
) -> DataFrame:
    """Incrementally-maintained hour-of-day seasonal profile — the
    refresh path for ``streaming_anomaly``'s static side: run this
    update-mode aggregate over the ingest stream into a profile table
    (foreachBatch overwrite / memory sink), and re-plan the anomaly
    stream on whatever cadence the profile should advance.

    Built-in streaming aggregation, no custom state: group by
    (series, hour-of-day), exact DECIMAL sums + counts, the same
    q155/q157 discipline — the final hour_avg equals the batch profile
    over the same points row for row (pinned by test). State is
    24 × |series| groups, model-scale."""
    hour = (F.expr(f"us div {US_PER_HOUR}") % 24).cast("int")
    prepped = points.select(
        F.col(series_col).cast("string").alias("series"),
        F.col(ts_col).alias("us"),
        F.col(value_col).cast("double").alias("value"),
    )
    return (
        prepped.withColumn("hour_utc", hour)
        .groupBy("series", "hour_utc")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("__sum"),
        )
        .select(
            "series",
            "hour_utc",
            "n",
            (F.col("__sum").cast("double") / F.col("n")).alias("hour_avg"),
        )
    )
