"""Query planner: QuerySpec → DataFrame pipeline → result sets.

Mirrors the reference lifecycle (`src/core/query.cpp:556-570,954-1305`):

  scan(datapoints | rollup_1h | rollup_1d)
    → filter(metric, ts range, tag predicates, explicit_tags)   [§2.3]
    → dedup last-wins on ingest seq                             [§1.3]
    → per-series downsample (+ fill spine)                      [§2.5]
    → cross-series aggregate by grouping-tag values             [§2.6]
    → rate                                                      [§2.7]

Catalyst supplies partition pruning/pushdown/codegen; the three planner
decisions the reference hand-rolls — rollup routing with interval
snapping (`query.cpp:1032-1091`), fill-spine generation, and last-wins
dedup — are explicit steps here.

Operators are defined once and only applied here: the rollup's point
aggregates, its re-aggregation and the value a rollup serves for
avg/count/min/max/sum come from operators/rollup.py (which the batch
and streaming rollup builders use too), the top/bottom-N rank rule from
operators/topn.py. Datapoint and rollup scans share one predicate and
`dt`-pruning helper (``_scan``).

Series identity: the canonical sorted "k=v,..." tag string (same as the
reference's canonical tag string, `include/tag.h:46-132`). Grouping-tag
VALUES are materialized as columns before aggregation so the groupBys
stay plain aggregations on columns.

One pass per sub-query, as the reference answers it in one pass
(`query.cpp:556-570`): the scanned rows are hash-partitioned on the
series key once, so dedup, downsample, fill and the per-series grouping
need no further exchange, and the sub-query's result sets come out of ONE
plan with ONE collect. Each collected row is one result set: its points
and the tag metadata the response needs — the series' tag map for
per-series output (``none``, ``topN``/``bottomN``, ranked in the same
plan), each group's distinct member tag maps for aggregated output. No
frame is stored between jobs and no second job derives the metadata.

Scale notes: the collect returns only the response's result sets, never
raw points of aggregated queries. Everything before it is distributed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ticktock_spark.operators.downsample import bucket_expr, downsample_agg_expr
from ticktock_spark.operators.aggregate import aggregator_expr
from ticktock_spark.operators.dedup import dedup_last_wins
from ticktock_spark.operators.fill import fill_buckets
from ticktock_spark.operators.rollup import (
    HOUR_MS,
    DAY_MS,
    ROLLUP_FUNCS,
    point_aggs,
    re_aggs,
    rollup_value_expr,
    snap_interval,
)
from ticktock_spark.operators.topn import rank_order, series_rank_key
from ticktock_spark.plans.spec import QuerySpec, TopLevelQuery
from ticktock_spark.plans.tagfilter import compile_tag_filters
from ticktock_spark.schema import tag_string_sql

SERIES_KEY = "__series"


def canonical_series_key() -> F.Column:
    """Sorted 'k=v,k=v' canonical tag string (series identity) of the
    ``tags`` column. Keys and values are escaped
    (``schema.escaped_tag_part_sql``), so ``{a: '1,b=2'}`` and
    ``{a: '1', b: '2'}`` get different keys; the api's
    ``_split_series_label`` decodes the same rule."""
    return F.expr(tag_string_sql("array_sort(map_entries(tags))"))


def _by_series(df: DataFrame) -> DataFrame:
    """``df`` with its SERIES_KEY, hash-partitioned on it. Every later
    aggregation of a query's per-series frame groups by the series key
    plus more (dedup, downsample, fill, the per-series result rows), and a
    hash partitioning on the key alone satisfies them all: one exchange of
    the scanned rows instead of one per aggregation — under AQE each
    exchange is a Spark job of its own."""
    return df.withColumn(SERIES_KEY, canonical_series_key()).repartition(SERIES_KEY)


def _series_rollup(
    df: DataFrame, ts_col: str, unit: int, *aggs: F.Column
) -> DataFrame:
    """(metric, series, bucket_ts) rollup rows of ``df`` at ``unit`` with
    the series' tag map carried through the same aggregation: the series
    key is DERIVED from the tag map (canonical_series_key), so every row
    of a (metric, series) group holds an equal map and first() is exact.
    Columns: metric, SERIES_KEY, bucket_ts, *aggs, tags."""
    return df.groupBy(
        "metric", SERIES_KEY, bucket_expr(ts_col, unit).alias("bucket_ts")
    ).agg(*aggs, F.first("tags").alias("tags"))


def _scan(
    table: DataFrame, spec: QuerySpec, ts_col: str, start_ms: int, end_ms: int
) -> DataFrame:
    """The rows of ``table`` (datapoints or a rollup) a sub-query reads:
    its metric, ``ts_col`` within [start_ms, end_ms] and its tag
    predicates. On a day-partitioned table the redundant `dt` bound turns
    the time range into partition pruning, mirroring Tsdb::insts binary
    search (tsdb.cpp:2259-2322)."""
    pred = (F.col("metric") == spec.metric) & F.col(ts_col).between(start_ms, end_ms)
    if spec.tags:
        pred = pred & compile_tag_filters(F.col("tags"), spec.tags, spec.explicit_tags)
    out = table.filter(pred)
    if "dt" in table.columns:
        out = out.filter(
            F.col("dt").between(
                F.from_unixtime(F.lit(start_ms // 1000)).cast("date"),
                F.from_unixtime(F.lit(end_ms // 1000)).cast("date"),
            )
        )
    return out


def _day(df: DataFrame, ts_col: str) -> F.Column:
    """The day partition of each row: the `dt` partition column of an
    on-disk table (filtering on it is partition pruning), else the UTC day
    of ``ts_col``."""
    if "dt" in df.columns:
        return F.col("dt")
    return F.to_date(F.timestamp_millis(F.col(ts_col)))


@dataclass
class ResultSet:
    metric: str
    tags: dict[str, str]
    aggregate_tags: list[str]
    dps: dict[int, float]


class TsdbContext:
    """Holds the canonical datapoints DataFrame and optional rollup
    materializations; executes QuerySpecs against them."""

    def __init__(
        self,
        datapoints: DataFrame,
        rollup_1h: DataFrame | None = None,
        rollup_1d: DataFrame | None = None,
        rollup_invalid_dts: set[str] | None = None,
    ):
        self.datapoints = datapoints
        self.rollup_1h = rollup_1h
        self.rollup_1d = rollup_1d
        # day partitions whose rollups may not be used (late/OOO data
        # arrived after the rollup flush — can_use_rollup, tsdb.h:264-266);
        # ISO date strings matching the `dt` partition column
        self.rollup_invalid_dts = rollup_invalid_dts or set()

    # -- rollup maintenance (batch recompute; streaming variant in
    #    streaming/rollup.py) --
    def materialize_rollups(self) -> None:
        # one scan of the base: the tag map rides inside both aggregations
        # (see _series_rollup) instead of a series-dim scan joined onto each
        base = self.datapoints.withColumn(SERIES_KEY, canonical_series_key())
        self.rollup_1h = _series_rollup(base, "ts", HOUR_MS, *point_aggs())
        self.rollup_1d = _series_rollup(self.rollup_1h, "bucket_ts", DAY_MS, *re_aggs())

    # -- planning --

    def _base_scan(self, spec: QuerySpec, start_ms: int, end_ms: int) -> DataFrame:
        return _scan(self.datapoints, spec, "ts", start_ms, end_ms)

    def _rollup_scan(
        self, spec: QuerySpec, start_ms: int, end_ms: int, interval_ms: int, func: str
    ) -> tuple[DataFrame, int] | None:
        """Choose rollup table + snapped interval (query.cpp:1032-1091)."""
        if spec.rollup_usage == "ROLLUP_RAW" or func not in ROLLUP_FUNCS:
            return None
        table, unit = None, None
        if interval_ms >= DAY_MS and self.rollup_1d is not None:
            table, unit = self.rollup_1d, DAY_MS
        elif interval_ms >= HOUR_MS and self.rollup_1h is not None:
            table, unit = self.rollup_1h, HOUR_MS
        if table is None:
            return None
        snapped = snap_interval(interval_ms, unit)
        # on-disk rollup tables (the maintenance module's parquet) are
        # day-partitioned like the datapoints: _scan prunes them alike
        scan = _scan(table, spec, "bucket_ts", start_ms, end_ms)
        if self.rollup_invalid_dts:
            scan = self._splice_raw_fallback(scan, spec, start_ms, end_ms, unit)
        return scan, snapped

    def _splice_raw_fallback(
        self, scan: DataFrame, spec: QuerySpec, start_ms: int, end_ms: int, unit: int
    ) -> DataFrame:
        """ROLLUP_FALLBACK_RAW splice (query.cpp:1109-1238): rollup rows
        from invalidated day partitions are dropped and replaced by an
        equivalent re-aggregation of the raw points of those days, unioned
        into the same (bucket_ts, cnt, min, max, sum) stream. A rollup
        bucket (1h/1d) never crosses a day boundary, so day(bucket_ts)
        identifies the partition that produced it. The raw branch prunes
        on the `dt` partition column, so at scale it scans only the
        invalidated days — everything else stays on the rollup table."""
        invalid = sorted(self.rollup_invalid_dts)
        valid = scan.filter(~_day(scan, "bucket_ts").isin(invalid))

        raw = self._base_scan(spec, start_ms, end_ms)
        raw = _by_series(raw.filter(_day(raw, "ts").isin(invalid)))
        if "seq" in raw.columns:
            raw = dedup_last_wins(raw, ["metric", SERIES_KEY], seq_col="seq")
        re_agg = _series_rollup(raw, "ts", unit, *point_aggs())
        cols = ["metric", SERIES_KEY, "bucket_ts", "cnt", "min", "max", "sum", "tags"]
        return valid.select(*cols).unionByName(re_agg.select(*cols))

    @staticmethod
    def _stepped_range(start_ms: int, end_ms: int, interval_ms: int) -> tuple[int, int]:
        """Reference downsample range stepping (down.cpp:96-105,235-240;
        down.h:76-82): the scan starts at the first bucket boundary ≥
        start (the leading partial bucket is dropped) and extends to the
        END of the bucket containing `end` (trailing dps beyond `end`
        complete the last bucket)."""

        def step_up(t: int) -> int:
            t -= 1
            return t - t % interval_ms + interval_ms

        first = step_up(start_ms)
        toe = step_up(end_ms)
        to = end_ms if toe == end_ms else toe - 1
        scan_hi = to + interval_ms - 1 if to % interval_ms == 0 else to
        return first, scan_hi

    def _downsampled_series(
        self, spec: QuerySpec, start_ms: int, end_ms: int, group_keys: list[str]
    ) -> tuple[DataFrame, bool]:
        """→ (df with [SERIES_KEY, grouping-value cols, ts, value, __tags],
        did_downsample).

        ``__tags`` (the series' tag map, F.first through every
        aggregation) rides along so result assembly never needs a second
        scan of the base table for series metadata — the old
        ``_series_meta`` re-ran ``_base_scan`` per query, which at 100×
        scale doubles every HTTP query's IO."""
        ds = spec.downsample_parts()
        gcols = {f"__g{i}": k for i, k in enumerate(group_keys)}

        if ds is not None:
            interval_ms, func, fill = ds
            if interval_ms > 0:
                start_ms, end_ms = self._stepped_range(start_ms, end_ms, interval_ms)
            routed = self._rollup_scan(spec, start_ms, end_ms, interval_ms, func)
            if routed is not None:
                table, snapped = routed
                # one exchange on the series key serves this groupBy and
                # the per-series result grouping (see _by_series)
                grp = table.repartition(SERIES_KEY).withColumns(
                    {c: F.col("tags").getItem(k) for c, k in gcols.items()}
                ).groupBy(
                    SERIES_KEY,
                    *gcols,
                    bucket_expr("bucket_ts", snapped).alias("ts"),
                )
                out = grp.agg(
                    rollup_value_expr(func).alias("value"),
                    F.first("tags").alias("__tags"),
                )
                return out, True

        base = _by_series(self._base_scan(spec, start_ms, end_ms))
        if "seq" in base.columns:
            base = dedup_last_wins(base, ["metric", SERIES_KEY], seq_col="seq")
        base = base.withColumns({c: F.col("tags").getItem(k) for c, k in gcols.items()})

        if ds is None:
            return (
                base.select(
                    SERIES_KEY, *gcols, "ts", "value", F.col("tags").alias("__tags")
                ),
                False,
            )

        interval_ms, func, fill = ds
        keys = [SERIES_KEY, *gcols]
        if interval_ms == 0:
            # 0all emits ONE bucket at the ORIGINAL query start:
            # step_down is m_start for m_all (down.cpp:51,245)
            from ticktock_spark.operators.downsample import (
                parse_quantile,
                percentile_r6_distributed,
            )

            q = parse_quantile(func)
            if q is not None:
                # 0all is the one HTTP query shape whose group holds the
                # ENTIRE range per series — the collect_list percentile
                # would buffer it all in one agg; route to the
                # distributed-selection twin (single scan, spillable
                # sort, identical R-6 values — equivalence-pinned)
                out = percentile_r6_distributed(
                    base, keys, q, 0, carry_cols=["tags"]
                ).select(
                    *keys, "value", F.col("tags").alias("__tags")
                ).withColumn("ts", F.lit(start_ms))
            else:
                out = base.groupBy(*keys).agg(
                    downsample_agg_expr(func).alias("value"),
                    F.first("tags").alias("__tags"),
                ).withColumn("ts", F.lit(start_ms))
        else:
            out = base.groupBy(*keys, bucket_expr("ts", interval_ms).alias("ts")).agg(
                downsample_agg_expr(func).alias("value"),
                F.first("tags").alias("__tags"),
            )
            if fill != "none":
                # fill's left join leaves __tags NULL in gap rows; meta
                # derivation uses first(ignorenulls)
                out = fill_buckets(out, keys, interval_ms, start_ms, end_ms, fill)
        return out, True

    def execute(self, top: TopLevelQuery) -> list[ResultSet]:
        out: list[ResultSet] = []
        for spec in top.subqueries:
            out.extend(self._execute_one(spec, top))
        return out

    def _execute_one(self, spec: QuerySpec, top: TopLevelQuery) -> list[ResultSet]:
        group_keys = sorted(set(spec.tags) - set(spec.non_grouping_tags))
        agg = spec.aggregator or "none"
        topn_mode = None
        if agg.startswith(("top", "bottom")) and agg[-1].isdigit():
            topn_mode = ("top" if agg.startswith("top") else "bottom", int(agg.lstrip("topbtm") or agg[-1]))

        ds, _ = self._downsampled_series(spec, top.start_ms, top.end_ms, group_keys)
        gcols = [c for c in ds.columns if c.startswith("__g")]

        # ONE plan and ONE collect per sub-query: every output row is one
        # result set carrying its points and the tag metadata it needs, so
        # the per-series frame is computed once, by this one job chain.
        points = F.collect_list(F.struct("ts", "value")).alias("points")
        per_series = agg == "none" or topn_mode is not None
        if per_series:
            # first non-NULL tag map: fill gap rows carry NULL __tags
            result = ds.groupBy(SERIES_KEY).agg(
                points, F.first("__tags", ignorenulls=True).alias("tags")
            )
            if topn_mode is not None:
                mode, n = topn_mode
                key = series_rank_key(F.col("points"), mode)
                result = result.orderBy(rank_order(key, mode), SERIES_KEY).limit(n)
        else:
            # each group's distinct member tag maps ride through both
            # aggregations as sorted entry arrays (a map is not
            # groupable); NULL gap-row maps drop out of collect_set
            per_ts = ds.groupBy(*gcols, "ts").agg(
                aggregator_expr(agg).alias("value"),
                F.array_sort(
                    F.collect_set(F.array_sort(F.map_entries("__tags")))
                ).alias("members"),
            )
            result = per_ts.groupBy(*gcols).agg(
                points,
                F.array_distinct(F.flatten(F.collect_set("members"))).alias("members"),
            )
        # driver-bound: the query's result sets — the response payload itself
        rows = result.collect()

        results: list[ResultSet] = []
        for r in rows:
            dps = {int(ts): v for ts, v in r["points"]}
            if per_series:
                tags_out, agg_tags = dict(r["tags"] or {}), []
            else:
                members = [{e["key"]: e["value"] for e in m} for m in r["members"]]
                tags_out, agg_tags = _merge_member_tags(members)
            if spec.rate:
                dps = _rate_py(dps, spec.rate_options)
                if not dps:
                    continue  # empty result sets dropped (query.cpp:1616-1618)
            if not dps:
                continue
            if not top.ms_resolution:
                dps = {ts // 1000: v for ts, v in sorted(dps.items())}
            results.append(ResultSet(spec.metric, tags_out, agg_tags, dict(sorted(dps.items()))))

        # stable sort by tag list (query.cpp:459-467)
        results.sort(key=lambda rs: sorted(rs.tags.items()))
        return results


def _merge_member_tags(members: list[dict]) -> tuple[dict, list]:
    """Constant tags stay; varying/missing keys → aggregateTags
    (query.cpp:1683-1738)."""
    if not members:
        return {}, []
    all_keys: set[str] = set()
    for m in members:
        all_keys.update(m)
    tags_out, agg_tags = {}, []
    for k in sorted(all_keys):
        vals = {m.get(k) for m in members}
        if len(vals) == 1 and None not in vals:
            tags_out[k] = next(iter(vals))
        else:
            agg_tags.append(k)
    return tags_out, agg_tags


def _rate_py(dps: dict[int, float], ro) -> dict[int, float]:
    """Driver-side rate for already-collected result sets (small); the
    distributed version is operators/rate.py. Same semantics
    (rate.cpp:38-92)."""
    items = sorted(dps.items())
    out: dict[int, float] = {}
    for (t0, v0), (t1, v1) in zip(items, items[1:]):
        dt = (t1 - t0) / 1000.0
        delta = v1 - v0
        if ro.counter and delta < 0:
            if ro.drop_resets:
                continue
            r = (float(ro.counter_max) - v0 + v1) / dt
            out[t1] = 0.0 if (ro.reset_value and r > ro.reset_value) else r
        else:
            out[t1] = delta / dt
    return out
