"""Streaming hourly rollup maintenance.

Replaces the reference's ingest-time RollupManager accumulators + rollup
WAL (`src/agg/rollup.cpp:110-286`): a watermarked streaming aggregation
over 1-hour event-time windows maintains per-series (cnt,min,max,sum),
the same aggregates the batch rollups use (operators.rollup.point_aggs).
Late data within the watermark updates the open bucket (strictly better
than the reference, which marks the hour invalid and falls back to raw —
`rollup.cpp:237-243`); later-than-watermark data is handled by the
query-time raw fallback exactly like the reference's
ROLLUP_FALLBACK_RAW.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ticktock_spark.operators.rollup import point_aggs
from ticktock_spark.plans.planner import canonical_series_key


def streaming_rollup_1h(dps: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """datapoints stream → streaming (metric, series, hour) rollup rows."""
    with_ts = dps.withColumns(
        {
            "event_time": F.timestamp_millis(F.col("ts")),
            "__series": canonical_series_key(),
        }
    ).withWatermark("event_time", watermark)
    win = F.window("event_time", "1 hour")
    return (
        with_ts.groupBy("metric", "__series", win.alias("w"))
        .agg(*point_aggs(), F.first("tags").alias("tags"))
        .select(
            "metric",
            "__series",
            "tags",
            F.unix_millis(F.col("w.start")).alias("bucket_ts"),
            "cnt",
            "min",
            "max",
            "sum",
        )
    )


def streaming_burn_rate(
    dps: DataFrame,
    error_metric: str = "error",
    length: str = "1 hour",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Live SLO burn-rate window — the streaming side of the q172 rule:
    error ratio per SLIDING event-time window of ``length`` stepping
    every ``slide`` (watermarked built-in window aggregation; late
    points inside the watermark revise their windows in update mode;
    state is bounded by the watermark horizon).

    The multi-window alert composes from two instances of this one
    aggregation — the slow view (defaults) and a fast view
    (``length=slide="5 minutes"``, i.e. tumbling) — alert when BOTH
    clear the burn threshold. Two independent queries sharing the
    source beat a single fused aggregation here: update-mode streaming
    aggs cannot reference the window bound inside another aggregate
    (Spark's lateral-alias rule), and separately-paced queries let the
    fast view trigger more often than the slow one — which is the
    operational point of multi-window burn alerts.

    Output: (window_start, window_end, n_err, n_tot, ratio).
    """
    with_ts = dps.withColumn(
        "event_time", F.timestamp_millis(F.col("ts"))
    ).withWatermark("event_time", watermark)
    win = F.window("event_time", length, slide)
    is_err = (F.col("metric") == error_metric).cast("long")
    return (
        with_ts.groupBy(win.alias("w"))
        .agg(
            F.sum(is_err).alias("n_err"),
            F.count(F.lit(1)).alias("n_tot"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start"),
            F.unix_millis(F.col("w.end")).alias("window_end"),
            "n_err",
            "n_tot",
            (F.col("n_err").cast("double") / F.col("n_tot")).alias("ratio"),
        )
    )
