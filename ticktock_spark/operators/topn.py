"""top/bottom-N SERIES selection.

Reference: `src/agg/aggregate.cpp:236-260,390-414` — `top<N>`/`bottom<N>`
keep the N whole series (result sets) ranked by a per-series key computed
from the LAST 3 downsampled points: max of last 3 for top, min of last 3
for bottom (`QueryTask::get_max/get_min(3)`, `src/core/query.cpp:858-884`;
n=3 per `include/query.h:265-279`).

The rank rule lives here once: :func:`series_rank_key` computes the key
from a series' array of points and :func:`rank_order` orders the
keys, ties broken by the caller's series columns. Two callers apply it:

- :func:`top_bottom_n`, the distributed operator, computes each series'
  last-3 tail with a window, ranks the tails, takes the top-N keys (tiny —
  N ≤ 9) and semi-joins (broadcast) back to keep those series' points. No
  full sort of the data, no driver collect of points. The input feeds both
  the rank branch and the semi-join; left as pure lineage Catalyst pushes
  the semi-join below the left branch's aggregation and re-scans the raw
  source, so the (#series × #buckets sized) input is persisted once.
- The query planner groups each series' points into one array anyway (its
  result rows), so it ranks that array in the same plan and needs neither
  the window, the join nor the cache.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

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


def top_bottom_n(
    df: DataFrame,
    series_cols: list[str],
    n: int,
    mode: str = "top",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """The rows of ``df`` that belong to its ``n`` best-ranked series.
    The persisted input lives until the returned frame is garbage
    collected (ContextCleaner unpersists it)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    w = Window.partitionBy(*series_cols).orderBy(F.col(ts_col).desc())
    tail = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= LAST_K)
    points = F.collect_list(F.struct(F.col(ts_col).alias("ts"), F.col(value_col).alias("value")))
    keys = tail.groupBy(*series_cols).agg(series_rank_key(points, mode).alias("__rank_key"))
    # orderBy().limit(n) plans as TakeOrderedAndProject: each partition
    # keeps its local top-n and the driver merges N·#partitions rows —
    # no single-partition exchange of ALL series keys (which a global
    # Window.orderBy row_number would force; fine at thousands of
    # series, a straggler at many millions).
    chosen = (
        keys.orderBy(rank_order(F.col("__rank_key"), mode), *series_cols)
        .limit(n)
        .select(*series_cols)
    )
    return df.join(F.broadcast(chosen), on=series_cols, how="left_semi")
