"""Rollup: pre-aggregated (cnt, min, max, sum) materialized views.

Reference: ingest-time per-series hourly accumulation of (cnt,min,max,sum)
(`src/agg/rollup.cpp:199-276`, interval `g_rollup_interval_1h=3600`s) plus
a derived daily level (`rollup.cpp:385-415`, `include/type.h:95-118`).
Queries whose downsample interval is ≥ 1h (≥ 1d) with fn ∈
{avg,count,max,min,sum} are answered from the rollup with the interval
snapped to a multiple of the rollup interval
(`src/core/query.cpp:1032-1091`, `include/down.h:114-229`); re-aggregation
is associative: cnt=Σcnt, min=min(min), max=max(max), sum=Σsum,
avg=Σsum/Σcnt (`src/agg/rollup.cpp:288-325`).

This module is the single home of the rollup's definition, as the
reference defines it once: :func:`point_aggs` (raw points → one rollup
row), :func:`re_aggs` (rollup rows → one coarser rollup row) and
:func:`rollup_value_expr` (rollup rows → one downsample value). The batch
builders below, the streaming hourly rollup (streaming/rollup.py), the
query planner's materialization, raw splice and rollup-served branch
(plans/planner.py) and the analytics rollup path all use these three.

Spark: the rollup is just a smaller parquet/Delta table produced by the
same downsample aggregation; the planner (plans/planner.py) routes
eligible queries to it. At 100 TB this is the decisive optimization: a
1-year avg query reads ~8760 rows/series instead of raw points.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ticktock_spark.operators.downsample import bucket_expr

HOUR_MS = 3_600_000
DAY_MS = 86_400_000

ROLLUP_FUNCS = {"avg", "count", "min", "max", "sum"}

# rollup column → its fold over raw points, and over rollup rows
_POINT_FOLDS = {"cnt": F.count, "min": F.min, "max": F.max, "sum": F.sum}
_RE_FOLDS = {"cnt": F.sum, "min": F.min, "max": F.max, "sum": F.sum}


def point_aggs(value_col: str = "value") -> list[Column]:
    """The rollup aggregates of raw points: cnt, min, max, sum."""
    return [fold(value_col).alias(c) for c, fold in _POINT_FOLDS.items()]


def re_aggs() -> list[Column]:
    """The associative re-aggregation of rollup rows into a coarser
    rollup row: cnt=Σcnt, min=min(min), max=max(max), sum=Σsum."""
    return [fold(c).alias(c) for c, fold in _RE_FOLDS.items()]


def rollup_value_expr(func: str) -> Column:
    """The downsample value ``func`` of a group of rollup rows, cast to
    double AFTER the final re-aggregation: with DECIMAL-valued rollups
    the Σ stays exact and the one deterministic decimal→double cast keeps
    results bit-identical across engines (see queries.q26/q27)."""
    if func not in ROLLUP_FUNCS:
        raise ValueError(f"rollup cannot answer {func!r}")
    if func == "avg":
        return F.sum("sum").cast("double") / F.sum("cnt")
    col = "cnt" if func == "count" else func
    return _RE_FOLDS[col](col).cast("double")


def build_rollup(
    df: DataFrame,
    series_cols: list[str],
    interval_ms: int = HOUR_MS,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """datapoints → rollup rows (series, bucket_ts, cnt, min, max, sum)."""
    return df.groupBy(
        *series_cols, bucket_expr(ts_col, interval_ms).alias("bucket_ts")
    ).agg(*point_aggs(value_col))


def rollup_daily_from_hourly(rollup_1h: DataFrame, series_cols: list[str]) -> DataFrame:
    """Level-2 daily rollup derived by associative re-aggregation."""
    return rollup_1h.groupBy(
        *series_cols, bucket_expr("bucket_ts", DAY_MS).alias("bucket_ts")
    ).agg(*re_aggs())


def snap_interval(interval_ms: int, rollup_interval_ms: int) -> int:
    """Snap a query interval to the nearest multiple of the rollup interval
    (≥ 1 multiple), per `src/core/query.cpp:1060-1080`."""
    mult = max(1, round(interval_ms / rollup_interval_ms))
    return mult * rollup_interval_ms


def downsample_from_rollup(
    rollup: DataFrame,
    series_cols: list[str],
    interval_ms: int,
    func: str,
    out_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Answer a downsample query from a rollup table (re-aggregation)."""
    return rollup.groupBy(
        *series_cols, bucket_expr("bucket_ts", interval_ms).alias(ts_col)
    ).agg(rollup_value_expr(func).alias(out_col))


def rollup_monthly_from_daily(rollup_1d: DataFrame, series_cols: list[str]) -> DataFrame:
    """Level-3 CALENDAR-month rollup (the reference organizes rollup data
    in monthly files with true calendar boundaries, `src/utils/cal.cpp`;
    month ≠ fixed 30d). bucket_ts = epoch ms of the first instant of the
    UTC month, via date_trunc — associative re-aggregation, same shape as
    daily-from-hourly."""
    month_ts = F.unix_millis(
        F.date_trunc("month", F.timestamp_millis(F.col("bucket_ts")))
    )
    return rollup_1d.groupBy(*series_cols, month_ts.alias("bucket_ts")).agg(*re_aggs())
