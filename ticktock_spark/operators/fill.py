"""Gap filling for downsampled series.

Reference: fill policies none|nan|null|zero (`include/down.h:35-41`,
`src/agg/down.cpp:107-127`); gaps between emitted buckets are filled with
the policy value (down.cpp:248-311). The emitted spine covers the stepped
query range: start stepped UP to the next bucket boundary, end stepped
down, plus the trailing partial bucket (down.cpp:96-105,235-240,
`include/down.h:76-82`).

Spark: one aggregation per series gathers its rows into a ts → row map,
then the bucket spine is generated with ``sequence()`` per series (an
``explode`` of an in-memory array — no shuffle) and each spine bucket
looks its row up in the map. There is no self-join: the input is read
once, and when it is already partitioned on the series (the planner's
per-series frame) the aggregation adds no shuffle either. At scale the
map holds one series' buckets, #buckets entries — exactly its output size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _step_up(ts: int, interval_ms: int) -> int:
    return ts if ts % interval_ms == 0 else (ts // interval_ms + 1) * interval_ms


def fill_buckets(
    df: DataFrame,
    series_cols: list[str],
    interval_ms: int,
    start_ms: int,
    end_ms: int,
    policy: str = "zero",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """A complete bucket spine over [start, end] per series, each bucket
    holding the series' row at that ts or the fill value; rows outside
    the spine are dropped. ``df`` holds at most one row per (series, ts),
    as a downsample emits.

    ``policy``: 'zero' → 0.0, 'nan' → NaN, 'null' → NULL, 'none' → no-op.
    """
    if policy == "none" or interval_ms <= 0:
        return df
    first = _step_up(start_ms, interval_ms)
    last = end_ms - end_ms % interval_ms
    if first > last:
        return df
    # each series' rows as one ts → row map, looked up along the spine:
    # one aggregation on the series, no self-join of the input
    others = [c for c in df.columns if c not in (*series_cols, ts_col)]
    by_ts = df.groupBy(*series_cols).agg(
        F.map_from_entries(F.collect_list(F.struct(ts_col, F.struct(*others)))).alias("__by_ts")
    )
    spine = F.sequence(F.lit(first), F.lit(last), F.lit(interval_ms)).cast("array<long>")
    out = by_ts.select(*series_cols, F.explode(spine).alias(ts_col), "__by_ts")
    row = F.col("__by_ts")[F.col(ts_col)]
    out = out.select(*series_cols, ts_col, *[row[c].alias(c) for c in others])
    if policy == "zero":
        fill_val = F.lit(0.0)
    elif policy == "nan":
        fill_val = F.lit(float("nan"))
    else:  # 'null'
        fill_val = F.lit(None).cast("double")
    return out.withColumn(value_col, F.coalesce(F.col(value_col), fill_val))
