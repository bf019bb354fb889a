"""Streaming last-wins duplicate resolution.

The reference resolves duplicate timestamps at query time by k-way merge
with last-wins (`src/core/query.cpp:722-803`); batch queries here do the
same with `max_by(value, seq)` (operators/dedup.py). On a stream the
resolution happens incrementally: a watermarked aggregation keyed on
(metric, series, event_time) keeps the highest-seq value per timestamp
and emits the FINAL winner once the watermark passes — duplicates that
arrive within the watermark update the open group; later ones fall to
the query-time dedup, mirroring the reference's OOO handling split.

State is bounded: only groups newer than the watermark are held.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ticktock_spark.plans.planner import canonical_series_key


def streaming_dedup_last_wins(dps: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """datapoints stream → one row per (metric, series, ts), last seq wins.

    Output: metric, series, tags, ts (epoch ms), value, seq. Append mode:
    rows emit when the watermark closes their event time.
    """
    keyed = dps.withColumns(
        {
            "event_time": F.timestamp_millis(F.col("ts")),
            "series": canonical_series_key(),
        }
    ).withWatermark("event_time", watermark)
    return (
        keyed.groupBy("metric", "series", "event_time")
        .agg(
            F.max_by("value", "seq").alias("value"),
            F.max("seq").alias("seq"),
            F.first("tags").alias("tags"),
        )
        .select(
            "metric",
            "series",
            "tags",
            F.unix_millis("event_time").alias("ts"),
            "value",
            "seq",
        )
    )
