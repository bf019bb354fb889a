"""top/bottom-N SERIES selection.

Reference: `src/agg/aggregate.cpp:236-260,390-414` — `top<N>`/`bottom<N>`
keep the N whole series (result sets) ranked by a per-series key computed
from the LAST 3 downsampled points: max of last 3 for top, min of last 3
for bottom (`QueryTask::get_max/get_min(3)`, `src/core/query.cpp:858-884`;
n=3 per `include/query.h:265-279`).

The rank rule lives here once: :func:`series_rank_key` computes the key
from a series' array of points and :func:`rank_order` orders the keys,
ties broken by the caller's series columns. The query planner and
:func:`top_bottom_n` apply it in one plan shape:

  groupBy(series) → (rank key of collect_list(struct(ts, value)),
                     the series' collected rows)
    → orderBy(rank_order, series).limit(n)   [TakeOrderedAndProject]
    → the n series' rows

One scan of the input and one exchange: the input is read once, never
cached, and nothing is left in the session's CacheManager.
orderBy().limit(n) plans as TakeOrderedAndProject: each partition keeps
its local top-n and the driver merges N·#partitions rows, never a
single-partition exchange of every series key.

Scale note: each series' rows are collected into one array (the planner
collects them anyway: they are its result sets), so the largest series'
in-range points must fit in one task's memory — as they must in the
reference, which holds every result set's points to rank them. The
driver receives only the N chosen series.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

LAST_K = 3


def series_rank_key(points: Column, mode: str) -> Column:
    """Rank key of one series from ``points``, an array of its
    ``struct(ts, value)`` in any order: the max (top) or min (bottom) of
    the values of its last ``LAST_K`` points by ts, or of all of them when
    the series has fewer. NULL values are skipped; NaN orders above every
    number (Spark's double ordering), so a NaN in the tail wins top and
    loses bottom unless the whole tail is NaN."""
    points = F.array_sort(points)  # struct order: by ts first
    start = F.greatest(F.size(points) - (LAST_K - 1), F.lit(1))
    tail = F.slice(points, start, LAST_K)["value"]
    return F.array_max(tail) if mode == "top" else F.array_min(tail)


def rank_order(rank_key: Column, mode: str) -> Column:
    """Sort order of the rank keys: best first. Callers append their
    series columns as the tie-break, so the selection is deterministic
    like the reference's stable result-set order."""
    return rank_key.desc() if mode == "top" else rank_key.asc()


def top_bottom_n(df: DataFrame, series_cols: list[str], n: int, mode: str = "top") -> DataFrame:
    """The rows of ``df`` (with ``ts`` and ``value`` columns) that belong
    to its ``n`` best-ranked series, in ``df``'s column order. The rank
    key is computed on ``struct(ts, value)`` only, so ``df`` may carry
    columns that cannot be ordered (a tag map)."""
    rest = [c for c in df.columns if c not in series_cols]
    points = F.collect_list(F.struct("ts", "value"))
    ranked = df.groupBy(*series_cols).agg(
        series_rank_key(points, mode).alias("__rank_key"),
        F.collect_list(F.struct(*rest)).alias("__rows"),
    )
    chosen = ranked.orderBy(rank_order(F.col("__rank_key"), mode), *series_cols).limit(n)
    return chosen.select(*series_cols, F.inline("__rows")).select(*df.columns)
