"""`/api/analytics` — the round-6 TSDB analytics operators as product
surface over the canonical datapoints table.

The reference engine has no analytics endpoints (its protocol stops at
`/api/query`); these operators existed here as library + benchmark
surface (q155–q157, q153, q167, q168). This module makes them
reachable through the HTTP API, shaped exactly like the OpenTSDB query
sink (`plans/shape.py:26`): a JSON array of
``{"metric", "tags", "aggregateTags", "dps"}`` so existing OpenTSDB
dashboards/clients can render them unchanged.

Semantics are IDENTICAL to the registry entries (same exact-decimal
bucket means, same q6 micro-quantization, same integer-moment Pearson)
— the test suite re-proves each op against the corresponding DuckDB
oracle on datapoints ingested through `/api/put`.

By default every op aggregates ACROSS the tag series of a metric (the
profile / baseline view an alerting rule wants), so ``tags`` is empty
and ``aggregateTags`` carries the aggregated-away tag keys, matching
the cross-series aggregation convention (`operators/aggregate.py`).
Two `/api/query`-parity refinements:

- ``m=cpu{host=web*}`` — each metric may carry an OpenTSDB tag-filter
  group; the full filter family (`plans/tagfilter.py`, mirroring
  `src/utils/tag.cpp:692-796`) is compiled into the datapoint scan, so
  profiles/residuals can be scoped to a host fleet.
- ``by_series=true`` — group by the full series (metric + canonical
  tag set) instead of collapsing across series: one ResultSet per
  series with its ``tags`` populated and ``aggregateTags`` empty,
  exactly how `/api/query` shapes grouped results. Not meaningful for
  the cross-metric ops (burn_rate, correlation, leadlag) → 400.

Scale shape: every op runs on per-metric 1m-bucket means (bucket-scale,
not point-scale), bounded ROWS windows, and broadcast 24×|metrics|
profile joins — the q157 plan shape; responses go through the same
413-cap guard as `/api/query`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ticktock_spark.operators.correlate import pearson_moments
from ticktock_spark.operators.rollup import downsample_from_rollup
from ticktock_spark.plans.planner import ResultSet, canonical_series_key
from ticktock_spark.plans.parser import _parse_tag_group
from ticktock_spark.plans.tagfilter import compile_tag_filters
from ticktock_spark.queries import q6

MIN_MS = 60_000
HOUR_MS = 3_600_000

_MAP_T = "map<string,string>"


def _parse_mspecs(ms: list[str] | None) -> list[tuple[str, dict[str, str]]] | None:
    """``m=`` values → (metric, tag-filter dict) pairs; ``cpu{host=web*}``
    carries the same `{...}` group grammar as `/api/query`."""
    if not ms:
        return None
    out = []
    for m in ms:
        b = m.find("{")
        if b >= 0:
            out.append((m[:b], _parse_tag_group(m[b:])))
        else:
            out.append((m, {}))
    return out


def _filtered(dps: DataFrame, metrics) -> DataFrame:
    """Scan predicate for a metric list — plain names or
    (name, tag-filters) pairs; the tag filters compile into the scan
    (Catalyst pushes the conjunction down, `plans/tagfilter.py`)."""
    if not metrics:
        return dps
    pred = None
    for m in metrics:
        name, filt = m if isinstance(m, tuple) else (m, {})
        p = F.col("metric") == name
        if filt:
            p = p & compile_tag_filters(F.col("tags"), filt)
        pred = p if pred is None else (pred | p)
    return dps.filter(pred)


def _per_series(df: DataFrame) -> DataFrame:
    """Rewrite ``metric`` to the composite series label
    ``metric{k=v,...}`` (canonical sorted tag string) so every
    metric-grouped op becomes per-series with zero plan changes; tags
    are nulled (nothing is aggregated away in this mode)."""
    return df.withColumn(
        "metric",
        F.concat(
            F.col("metric"),
            F.lit("{"),
            canonical_series_key(),
            F.lit("}"),
        ),
    ).withColumn("tags", F.lit(None).cast(_MAP_T))


def _split_series_label(m: str) -> tuple[str, dict[str, str]]:
    """Composite ``metric{k=v,...}`` label → (metric, tags dict); plain
    labels pass through with empty tags. Decodes canonical_series_key's
    escaping: a backslash takes the next character literally, an
    unescaped ``,`` ends an entry and its first unescaped ``=`` splits
    key from value (entries without one are skipped)."""
    b, e = m.find("{"), m.rfind("}")
    if b < 0 or e < b:
        return m, {}
    tags: dict[str, str] = {}
    key: str | None = None
    cur: list[str] = []
    body = iter(m[b + 1 : e])
    for ch in body:
        if ch == "\\":
            cur.append(next(body, ""))
        elif ch == "=" and key is None:
            key, cur = "".join(cur), []
        elif ch == ",":
            if key is not None:
                tags[key] = "".join(cur)
            key, cur = None, []
        else:
            cur.append(ch)
    if key is not None:
        tags[key] = "".join(cur)
    return m[:b] + m[e + 1 :], tags


def _bucket_means(dps: DataFrame, bucket_ms: int) -> DataFrame:
    """Per-metric bucket means with the engine's exact-decimal sum
    discipline (q157's `b` CTE) — the canonical implementation lives in
    operators/summary.py:exact_bucket_means."""
    from ticktock_spark.operators.summary import exact_bucket_means

    return exact_bucket_means(dps, ["metric"], bucket_ms)


def _bucket_source(
    dps: DataFrame,
    rollup: DataFrame | None,
    metrics: list[str] | None,
    bucket_ms: int,
) -> DataFrame:
    if rollup is not None:
        # Σsum / Σcnt across the metric's series is the mean of the raw
        # points in the bucket. Exactness caveat: ROLLUP_SCHEMA stores sum
        # as an IEEE double while the raw path sums decimal(18,2) exactly,
        # so grain-routed results can differ from a raw scan by rounding —
        # the price of reading |series| × |buckets| rows instead of every
        # raw point (the 100 TB path). ``bucket_ms`` must be a multiple of
        # the rollup grain.
        return downsample_from_rollup(
            _filtered(rollup, metrics), ["metric"], bucket_ms, "avg"
        )
    return _bucket_means(_filtered(dps, metrics), bucket_ms)


def _hour_profile_of_buckets(b: DataFrame) -> DataFrame:
    """Hour-of-day mean of bucket MEANS in exact integer micro-units
    (q157's `p` CTE — partial-agg order-free)."""
    hour = (F.expr("ts div 3600000") % 24).cast("int")
    return b.groupBy("metric", hour.alias("hour_utc")).agg(
        q6(
            F.sum(
                F.floor(F.col("value") * F.lit(1_000_000.0) + F.lit(0.5)).cast(
                    "long"
                )
            ).cast("double")
            / F.count(F.lit(1))
            / F.lit(1_000_000.0)
        ).alias("hour_avg")
    )


def _aggregate_tags(
    dps: DataFrame, metrics, rollup: DataFrame | None = None
) -> dict[str, list[str]]:
    """Distinct tag KEYS per metric (the aggregated-away set). When a
    rollup frame is supplied, answer from IT — the rollup preserves the
    full series dimension, so the key sets are identical and the raw
    fact table is never touched on the rollup path."""
    src = rollup if rollup is not None else dps
    rows = (
        # driver-bound: distinct (metric, tag-key) rows — dimension-scale
        _filtered(src, metrics)
        .select("metric", F.explode(F.map_keys("tags")).alias("k"))
        .distinct()
        .collect()
    )
    out: dict[str, list[str]] = {}
    for r in rows:
        out.setdefault(r["metric"], []).append(r["k"])
    return {m: sorted(ks) for m, ks in out.items()}


def _to_resultsets(
    df: DataFrame,
    key_col: str,
    value_col: str,
    agg_tags: dict[str, list[str]],
) -> list[ResultSet]:
    # driver-bound: response rows (every caller passes a per-series result set)
    rows = df.collect()
    by_metric: dict[str, dict] = {}
    for r in rows:
        by_metric.setdefault(r["metric"], {})[int(r[key_col])] = r[value_col]
    out = []
    for m, dps in sorted(by_metric.items()):
        name, series_tags = _split_series_label(m)
        out.append(
            ResultSet(
                metric=name,
                tags=series_tags,
                aggregate_tags=agg_tags.get(m, []),
                dps=dict(sorted(dps.items())),
            )
        )
    return out


def _fixed_key_resultsets(
    rows,
    name_fmt: str,
    fields: list[str],
    agg_tags: dict[str, list[str]],
) -> list[ResultSet]:
    """One ResultSet per row with FIXED dps keys 0..len(fields)-1 (the
    trend() convention) — the shared shaping loop of every scalar-ish
    op (trend/theilsen/seasonal_strength/wasserstein/fano), so the
    label/tag handling can never drift between them. Integral field
    values ride as floats (dps values are numbers in the sink shape)."""
    out = []
    for r in sorted(rows, key=lambda r: r["metric"]):
        name, series_tags = _split_series_label(r["metric"])
        dps = {}
        for i, f in enumerate(fields):
            v = r[f]
            dps[i] = float(v) if isinstance(v, int) else v
        out.append(
            ResultSet(
                metric=name_fmt.format(name),
                tags=series_tags,
                aggregate_tags=agg_tags.get(r["metric"], []),
                dps=dps,
            )
        )
    return out


def seasonal_profile(
    dps: DataFrame, metrics: list[str] | None = None
) -> list[ResultSet]:
    """q155: hour-of-day mean per metric; dps keys are hours 0–23."""
    d = _filtered(dps, metrics)
    hour = (F.expr("ts div 3600000") % 24).cast("int")
    prof = d.groupBy("metric", hour.alias("hour_utc")).agg(
        q6(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_value")
    )
    return _to_resultsets(prof, "hour_utc", "avg_value", _aggregate_tags(dps, metrics))


def seasonal_residual(
    dps: DataFrame, metrics: list[str] | None = None, bucket_ms: int = MIN_MS,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """De-seasonalized 1m-bucket series: bucket mean minus the metric's
    same-hour-of-day profile mean (q156's residual on q157's bucket
    means); dps keys are bucket timestamps."""
    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    prof = _hour_profile_of_buckets(b)
    hour = (F.expr("ts div 3600000") % 24).cast("int")
    out = (
        b.withColumn("hour_utc", hour)
        .join(F.broadcast(prof), ["metric", "hour_utc"])
        .select("metric", "ts", q6(F.col("value") - F.col("hour_avg")).alias("resid"))
    )
    return _to_resultsets(out, "ts", "resid", _aggregate_tags(dps, metrics, rollup))


def ewma(
    dps: DataFrame,
    metrics: list[str] | None = None,
    alpha: float = 0.5,
    lookback: int = 16,
    bucket_ms: int = MIN_MS,
    field: str = "ewma",
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """Trailing EWMA baseline (field='ewma') or residual (field='resid')
    over 1m-bucket means — q148/q157's recency baseline
    (operators/rolling.py ewma_baseline); dps keys are bucket ts."""
    from ticktock_spark.operators.rolling import ewma_baseline

    if field not in ("ewma", "resid"):
        raise ValueError(f"field must be 'ewma' or 'resid', got {field!r}")
    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    ew = ewma_baseline(b, ["metric"], alpha=alpha, lookback=lookback)
    return _to_resultsets(
        ew.select("metric", "ts", field), "ts", field,
        _aggregate_tags(dps, metrics, rollup),
    )


def anomaly_score(
    dps: DataFrame,
    metrics: list[str] | None = None,
    alpha: float = 0.5,
    lookback: int = 16,
    bucket_ms: int = MIN_MS,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q157's ensemble: |bucket mean − same-hour profile| + |bucket mean
    − trailing EWMA| per 1m bucket; dps keys are bucket ts."""
    from ticktock_spark.operators.rolling import ewma_baseline

    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    prof = _hour_profile_of_buckets(b)
    ew = ewma_baseline(b, ["metric"], alpha=alpha, lookback=lookback)
    hour = (F.expr("ts div 3600000") % 24).cast("int")
    out = (
        ew.withColumn("hour_utc", hour)
        .join(F.broadcast(prof), ["metric", "hour_utc"])
        .select(
            "metric",
            "ts",
            q6(
                F.abs(F.col("value") - F.col("hour_avg")) + F.abs(F.col("resid"))
            ).alias("score"),
        )
    )
    return _to_resultsets(out, "ts", "score", _aggregate_tags(dps, metrics, rollup))


def rolling_pct(
    dps: DataFrame,
    quantile: float = 95.0,
    metrics: list[str] | None = None,
    lookback: int = 16,
    bucket_ms: int = MIN_MS,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q153: rolling exact R-6 percentile over 1m-bucket means; dps keys
    are bucket ts."""
    from ticktock_spark.operators.rolling import rolling_percentile_r6

    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    out = rolling_percentile_r6(b, ["metric"], quantile, lookback=lookback)
    return _to_resultsets(
        out.select("metric", "ts", "pct"), "ts", "pct",
        _aggregate_tags(dps, metrics, rollup),
    )


def _micro_series(b: DataFrame, metric: str, out_col: str) -> DataFrame:
    micro = F.floor(F.col("value") * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    return b.filter(F.col("metric") == metric).select("ts", micro.alias(out_col))


def correlation(
    dps: DataFrame, metric_a: str, metric_b: str, bucket_ms: int = MIN_MS,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q167: exact Pearson r between two metrics' aligned bucket series.
    One ResultSet, metric ``corr(a,b)``, dps ``{0: r}``."""
    b = _bucket_source(dps, rollup, [metric_a, metric_b], bucket_ms)
    jd = _micro_series(b, metric_a, "x").join(_micro_series(b, metric_b, "y"), "ts")
    # driver-bound: single correlation row
    row = pearson_moments(jd, []).first()
    r = None if row is None else row["pearson_r"]
    return [
        ResultSet(
            metric=f"corr({metric_a},{metric_b})",
            tags={},
            aggregate_tags=[],
            dps={0: r},
        )
    ]


def lead_lag(
    dps: DataFrame,
    metric_a: str,
    metric_b: str,
    max_shift: int = 2,
    bucket_ms: int = MIN_MS,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q168: Pearson r at bucket shifts −max_shift..+max_shift (does b
    follow a?). One ResultSet, dps keyed by the shift in buckets."""
    spark = dps.sparkSession
    b = _bucket_source(dps, rollup, [metric_a, metric_b], bucket_ms)
    a = _micro_series(b, metric_a, "x")
    c = _micro_series(b, metric_b, "y")
    lags = spark.range(-int(max_shift), int(max_shift) + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    jd = a.crossJoin(F.broadcast(lags)).join(
        c.select(F.col("ts").alias("__ots"), "y"),
        F.col("__ots") == F.col("ts") + F.col("lag") * F.lit(bucket_ms),
    )
    # driver-bound: one row per lag offset (≤ max_lag)
    rows = pearson_moments(jd, ["lag"]).collect()
    return [
        ResultSet(
            metric=f"leadlag({metric_a},{metric_b})",
            tags={},
            aggregate_tags=[],
            dps={int(r["lag"]): r["pearson_r"] for r in sorted(rows, key=lambda r: r["lag"])},
        )
    ]


def acf_profile(
    dps: DataFrame,
    metrics: list[str] | None = None,
    max_lag: int = 5,
    bucket_ms: int = MIN_MS,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q170: autocorrelation per metric at lags 1..max_lag over bucket
    means; dps keys are lags."""
    from ticktock_spark.operators.correlate import acf

    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    out = acf(b, ["metric"], max_lag=max_lag, bucket_ms=bucket_ms)
    return _to_resultsets(
        out.select("metric", "lag", "pearson_r"),
        "lag",
        "pearson_r",
        _aggregate_tags(dps, metrics, rollup),
    )


def changepoint(
    dps: DataFrame,
    metrics: list[str] | None = None,
    window: int = 8,
    bucket_ms: int = MIN_MS,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q171: window-contrast mean-shift score per bucket; dps keys are
    bucket ts."""
    from ticktock_spark.operators.rolling import mean_shift_score

    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    out = mean_shift_score(b, ["metric"], window=window)
    return _to_resultsets(
        out.select("metric", "ts", "shift_score"),
        "ts",
        "shift_score",
        _aggregate_tags(dps, metrics, rollup),
    )


def burn_rate(
    dps: DataFrame,
    error_metric: str = "error",
    bucket_ms: int = 300_000,
    long_buckets: int = 12,
) -> list[ResultSet]:
    """q172: error ratio per short bucket and over the trailing long
    window — two ResultSets (burn_rate_fast / burn_rate_slow), dps
    keyed by bucket ts."""
    b = dps.groupBy(
        (F.col("ts") - F.col("ts") % F.lit(int(bucket_ms))).alias("ts")
    ).agg(
        F.count(F.when(F.col("metric") == error_metric, 1)).alias("n_err"),
        F.count(F.lit(1)).alias("n_tot"),
    )
    span = int(bucket_ms) * (int(long_buckets) - 1)
    hw = Window.orderBy("ts").rangeBetween(-span, Window.currentRow)
    # driver-bound: one row per bucket in the query range — the response series
    rows = b.select(
        "ts",
        q6(F.col("n_err").cast("double") / F.col("n_tot")).alias("fast"),
        q6(
            F.sum("n_err").over(hw).cast("double") / F.sum("n_tot").over(hw)
        ).alias("slow"),
    ).collect()
    return [
        ResultSet(
            metric=f"burn_rate_{name}",
            tags={},
            aggregate_tags=[],
            dps={int(r["ts"]): r[name] for r in sorted(rows, key=lambda r: r["ts"])},
        )
        for name in ("fast", "slow")
    ]


def histogram(
    dps: DataFrame,
    metrics: list[str] | None = None,
    width: float = 10.0,
) -> list[ResultSet]:
    """q174: per-metric value histogram; dps keys are bin indices
    (lo = bin * width)."""
    from ticktock_spark.operators.summary import value_histogram

    out = value_histogram(
        _filtered(dps, metrics), ["metric"], width=width
    ).select("metric", "bin", F.col("n").cast("double").alias("n"))
    return _to_resultsets(out, "bin", "n", _aggregate_tags(dps, metrics))


def trend_fit(
    dps: DataFrame,
    metrics: list[str] | None = None,
    bucket_ms: int = MIN_MS,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q175: least-squares fit per metric; dps is {0: slope-per-bucket,
    1: intercept, 2: pearson_r} (documented fixed keys)."""
    from ticktock_spark.operators.correlate import trend

    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    # driver-bound: one row per metric
    rows = trend(b, ["metric"], bucket_ms=bucket_ms).collect()
    return _fixed_key_resultsets(
        rows, "trend({})", ["slope", "intercept", "pearson_r"],
        _aggregate_tags(dps, metrics, rollup),
    )


def suggest_rollup_grain(period_ms: int) -> str:
    """Map a dominant cycle length to the coarsest materialized rollup
    grain that still resolves it — the reference's answer-from-rollup
    decision (`src/core/query.cpp:1032-1091` picks the coarsest rollup
    whose bucket fits the query's downsample interval) made data-driven:
    a grain resolves a cycle when ≥2 rollup buckets fit per period
    (Nyquist), so a daily cycle reads from rollup_1h, a multi-day cycle
    from rollup_1d, and a sub-2h cycle must scan raw."""
    for grain in ("1d", "1h"):
        if 2 * _GRAIN_MS[grain] <= period_ms:
            return grain
    return "raw"


def dominant_period(
    dps: DataFrame,
    metrics: list[str] | None = None,
    max_lag: int = 8,
    bucket_ms: int = MIN_MS,
    rollup: DataFrame | None = None,
    suggest_grain: bool = False,
) -> list[ResultSet]:
    """q179: per metric, the ACF-argmax lag (shortest-lag tiebreak on
    micro-quantized r); dps is {0: period_buckets, 1: pearson_r}.
    ``suggest_grain=True`` additionally carries the rollup-grain advice
    (:func:`suggest_rollup_grain` of lag×bucket_ms) in
    ``tags["suggested_grain"]`` — string-valued advice rides in the tag
    map so the OpenTSDB response shape stays unchanged."""
    from pyspark.sql import Window as W

    from ticktock_spark.operators.correlate import acf

    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    r = acf(b, ["metric"], max_lag=max_lag, bucket_ms=bucket_ms)
    rn = F.row_number().over(
        W.partitionBy("metric").orderBy(F.col("pearson_r").desc_nulls_last(), "lag")
    )
    # driver-bound: one row per metric (rn == 1)
    rows = r.withColumn("rn", rn).filter(F.col("rn") == 1).collect()
    tags = _aggregate_tags(dps, metrics, rollup)
    out = []
    for r in sorted(rows, key=lambda r: r["metric"]):
        name, series_tags = _split_series_label(r["metric"])
        if suggest_grain:
            series_tags = {
                **series_tags,
                "suggested_grain": suggest_rollup_grain(
                    int(r["lag"]) * int(bucket_ms)
                ),
            }
        out.append(
            ResultSet(
                metric=f"period({name})",
                tags=series_tags,
                aggregate_tags=tags.get(r["metric"], []),
                dps={0: float(r["lag"]), 1: r["pearson_r"]},
            )
        )
    return out


_GRAIN_MS = {"1h": HOUR_MS, "1d": 24 * HOUR_MS}

# ops that can answer from a materialized rollup (bucket-mean-based);
# the rest always scan raw datapoints and REJECT grain= rather than
# silently ignoring it (a raw scan dressed up as rollup-routed is the
# worse failure at 100 TB)
_ROLLUP_OPS = {
    "seasonal_residual",
    "ewma",
    "anomaly",
    "rolling_pct",
    "acf",
    "changepoint",
    "trend",
    "dominant_period",
    "correlation",
    "leadlag",
    "mad",
    "theilsen",
    "seasonal_strength",
    "flatline",           # run-lengths of bucket means — rollup rows ARE them
    "gaps",               # bucket presence — a rollup stores exactly that
    "seasonal_envelope",  # percentiles of bucket means
}
_RAW_ONLY_OPS = {
    "seasonal_profile",
    "burn_rate",
    "histogram",
    "wasserstein",
    "fano",        # arrival COUNTS by definition — a rollup stores means
    "top_movers",  # exact-decimal daily means are the raw-path spec
    "histogram_quantile",  # needs the raw value distribution
    "interarrival",      # raw timestamp deltas — buckets erase cadence
    "value_precision",   # precision of RAW values — means destroy it
    "compress_audit",    # raw cadence + raw value repeats
    "rollup_error",      # measures rollup bias FROM raw, by definition
}
# ops whose semantics span metrics — per-series grouping is undefined
_CROSS_METRIC_OPS = {"burn_rate", "correlation", "leadlag"}


def execute(
    dps: DataFrame,
    params: dict[str, list[str]],
    rollups: dict[str, DataFrame] | None = None,
) -> list[ResultSet]:
    """Dispatch an `/api/analytics` request (parsed query params) to the
    operator. Unknown/missing op or bad numbers raise ValueError → 400.

    ``grain=1h``/``1d`` routes every bucket-mean-based op through the
    matching materialized rollup table (``rollups`` as passed by the
    HTTP store) — the 100 TB path: |series|×|buckets| rollup rows
    instead of raw points, with ``bucket_ms`` defaulting to the grain
    (coarser multiples allowed). Requires `POST /api/admin?cmd=rollup`
    first; point-granularity ops (seasonal_profile over raw points,
    histogram, burn_rate) always scan raw datapoints."""

    def one(name: str, default=None):
        v = params.get(name)
        return v[0] if v else default

    op = one("op")
    if op not in _ROLLUP_OPS and op not in _RAW_ONLY_OPS:
        raise ValueError(f"unknown analytics op: {op!r}")
    metrics = _parse_mspecs(params.get("m"))
    by_series = (one("by_series") or "").lower() in ("true", "1", "yes")
    grain = one("grain")
    rollup = None
    if grain is not None:
        # grain/rollup checks apply only to ops that CAN answer from a
        # rollup; a raw-only op with grain= is a caller error, not a
        # silent raw scan
        if op not in _ROLLUP_OPS:
            raise ValueError(
                f"op {op!r} always scans raw datapoints — omit grain"
            )
        if grain not in _GRAIN_MS:
            raise ValueError(f"unknown grain {grain!r} (use 1h or 1d)")
        rollup = (rollups or {}).get(grain)
        if rollup is None:
            raise ValueError(
                f"rollup {grain} not materialized — POST /api/admin?cmd=rollup"
            )
    default_bucket = _GRAIN_MS[grain] if grain else MIN_MS
    bucket_ms = int(one("bucket_ms", default_bucket))
    if grain and bucket_ms % _GRAIN_MS[grain]:
        raise ValueError("bucket_ms must be a multiple of the rollup grain")
    if by_series:
        if op in _CROSS_METRIC_OPS:
            raise ValueError(f"by_series is not meaningful for op {op!r}")
        # filter first (plain metric names), then fold each series'
        # canonical tag string into the metric label — every
        # metric-grouped op below becomes per-series unchanged
        dps = _per_series(_filtered(dps, metrics))
        if rollup is not None:
            rollup = _per_series(_filtered(rollup, metrics))
        metrics = None
    if op == "seasonal_profile":
        return seasonal_profile(dps, metrics)
    if op == "seasonal_residual":
        return seasonal_residual(dps, metrics, bucket_ms, rollup=rollup)
    if op == "ewma":
        return ewma(
            dps,
            metrics,
            alpha=float(one("alpha", 0.5)),
            lookback=int(one("lookback", 16)),
            bucket_ms=bucket_ms,
            field=one("field", "ewma"),
            rollup=rollup,
        )
    if op == "anomaly":
        return anomaly_score(
            dps,
            metrics,
            alpha=float(one("alpha", 0.5)),
            lookback=int(one("lookback", 16)),
            bucket_ms=bucket_ms,
            rollup=rollup,
        )
    if op == "rolling_pct":
        return rolling_pct(
            dps,
            quantile=float(one("q", 95.0)),
            metrics=metrics,
            lookback=int(one("lookback", 16)),
            bucket_ms=bucket_ms,
            rollup=rollup,
        )
    if op == "acf":
        return acf_profile(
            dps, metrics, max_lag=int(one("max_lag", 5)), bucket_ms=bucket_ms,
            rollup=rollup,
        )
    if op == "changepoint":
        return changepoint(
            dps, metrics, window=int(one("window", 8)), bucket_ms=bucket_ms,
            rollup=rollup,
        )
    if op == "burn_rate":
        return burn_rate(
            dps,
            error_metric=one("error_metric", "error"),
            bucket_ms=int(one("bucket_ms", 300_000)),
            long_buckets=int(one("long_buckets", 12)),
        )
    if op == "histogram":
        return histogram(dps, metrics, width=float(one("width", 10.0)))
    if op == "trend":
        return trend_fit(dps, metrics, bucket_ms=bucket_ms, rollup=rollup)
    if op == "mad":
        return mad_outlier_op(
            dps,
            metrics,
            bucket_ms=bucket_ms,
            threshold=float(one("threshold", 3.5)),
            rollup=rollup,
        )
    if op == "theilsen":
        # default hourly buckets: the pair fan-out is quadratic in
        # bucket count, so the coarse default is the safe one
        return theilsen_fit(
            dps,
            metrics,
            bucket_ms=int(one("bucket_ms", _GRAIN_MS[grain] if grain else HOUR_MS)),
            rollup=rollup,
        )
    if op == "seasonal_strength":
        return seasonal_strength_op(
            dps, metrics, bucket_ms=bucket_ms, rollup=rollup
        )
    if op == "wasserstein":
        split = one("split_ts")
        if split is None:
            raise ValueError("wasserstein needs split_ts= (epoch ms)")
        return wasserstein_op(dps, int(split), metrics)
    if op == "fano":
        return fano_op(dps, metrics, bucket_ms=bucket_ms)
    if op == "interarrival":
        return interarrival_op(dps, metrics)
    if op == "flatline":
        return flatline_op(
            dps,
            metrics,
            bucket_ms=bucket_ms,
            min_run=int(one("min_run", 10)),
            rollup=rollup,
        )
    if op == "gaps":
        return gaps_op(dps, metrics, bucket_ms=bucket_ms, rollup=rollup)
    if op == "seasonal_envelope":
        return seasonal_envelope_op(
            dps,
            metrics,
            bucket_ms=bucket_ms,
            quantile=float(one("q", 90.0)),
            rollup=rollup,
        )
    if op == "value_precision":
        return value_precision_op(dps, metrics)
    if op == "compress_audit":
        return compress_audit_op(dps, metrics)
    if op == "rollup_error":
        return rollup_error_op(dps, metrics)
    if op == "top_movers":
        return top_movers_op(dps, metrics, k=int(one("k", 3)))
    if op == "histogram_quantile":
        qlist = [float(v) for v in params.get("q", [])] or None
        for v in qlist or []:
            # the endpoint's caller-error convention: out-of-range
            # quantiles are a 400, not a silently-empty 200
            if not (0.0 < v <= 1.0):
                raise ValueError(
                    f"quantile q={v} out of range (use fractions in"
                    " (0, 1], e.g. q=0.99 for p99)"
                )
        return histogram_quantile_op(
            dps, metrics, width=float(one("width", 10.0)), quantiles=qlist
        )
    if op == "dominant_period":
        return dominant_period(
            dps, metrics, max_lag=int(one("max_lag", 8)),
            bucket_ms=bucket_ms, rollup=rollup,
            suggest_grain=(one("suggest_grain") or "").lower()
            in ("true", "1", "yes"),
        )
    # correlation / leadlag (op membership already validated above)
    a, b = one("a"), one("b")
    if not a or not b:
        raise ValueError("correlation/leadlag need a= and b= metrics")
    if op == "correlation":
        return correlation(dps, a, b, bucket_ms, rollup=rollup)
    return lead_lag(
        dps, a, b, int(one("max_shift", 2)), bucket_ms, rollup=rollup
    )


def mad_outlier_op(
    dps: DataFrame,
    metrics: list[str] | None = None,
    bucket_ms: int = MIN_MS,
    threshold: float = 3.5,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q180 through the API: robust per-metric outlier buckets (modified
    z-score 0.6745·(v − median)/MAD ≥ threshold over bucket means); dps
    keys are bucket timestamps, values the signed score — only flagged
    buckets are returned, so the payload is alert-sized regardless of
    scan size."""
    from ticktock_spark.operators.robust import mad_outliers

    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    out = mad_outliers(b, ["metric"], threshold=threshold).select(
        "metric", "ts", "score"
    )
    return _to_resultsets(
        out, "ts", "score", _aggregate_tags(dps, metrics, rollup)
    )


def theilsen_fit(
    dps: DataFrame,
    metrics: list[str] | None = None,
    bucket_ms: int = HOUR_MS,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q181 through the API: Theil–Sen robust slope per metric; dps is
    {0: slope-per-bucket, 1: n buckets, 2: n pairs} (fixed keys, the
    trend() convention). The robust line to read when op=trend looks
    implausible — one spike bends OLS but not this."""
    from ticktock_spark.operators.robust import theil_sen

    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    # driver-bound: one row per metric
    rows = theil_sen(b, ["metric"], bucket_ms=bucket_ms).collect()
    return _fixed_key_resultsets(
        rows, "theilsen({})", ["slope", "n", "n_pairs"],
        _aggregate_tags(dps, metrics, rollup),
    )


def seasonal_strength_op(
    dps: DataFrame,
    metrics: list[str] | None = None,
    bucket_ms: int = MIN_MS,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q182 through the API: variance explained by the hour-of-day
    profile per metric; dps is {0: strength, 1: n buckets, 2: n phases}
    (fixed keys). Read it before trusting op=seasonal_residual alerting
    or answering capacity questions from a daily rollup."""
    from ticktock_spark.operators.robust import seasonal_strength

    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    # driver-bound: one row per metric
    rows = seasonal_strength(b, ["metric"]).collect()
    return _fixed_key_resultsets(
        rows, "seasonal_strength({})", ["strength", "n", "n_phases"],
        _aggregate_tags(dps, metrics, rollup),
    )


def wasserstein_op(
    dps: DataFrame,
    split_ts: int,
    metrics: list[str] | None = None,
) -> list[ResultSet]:
    """q183 through the API: exact 1-Wasserstein distance per metric
    between raw values before and after ``split_ts`` — "how much did
    the distribution move across this deploy/incident boundary", in
    value units; dps is {0: w1, 1: n_before, 2: n_after} (fixed keys).
    Raw-point op (two-sample over values, not bucket means)."""
    from ticktock_spark.operators.drift import wasserstein_drift

    d = _filtered(dps, metrics)
    # driver-bound: one row per metric
    rows = wasserstein_drift(
        d, F.col("ts") < F.lit(int(split_ts)), group_cols=["metric"]
    ).collect()
    return _fixed_key_resultsets(
        rows, "w1({})", ["w1", "n_a", "n_b"], _aggregate_tags(dps, metrics)
    )


def fano_op(
    dps: DataFrame,
    metrics: list[str] | None = None,
    bucket_ms: int = MIN_MS,
) -> list[ResultSet]:
    """q188 through the API: Fano factor (index of dispersion) of
    per-bucket event counts over each metric's active span; dps is
    {0: fano, 1: n_buckets, 2: n_events} (fixed keys). 1.0 = Poisson
    arrivals, >1 bursty, <1 regular — the queue-sizing number. Raw
    point counts by definition (a rollup stores means, not arrival
    counts), so this op always scans raw datapoints."""
    from ticktock_spark.operators.summary import fano_factor

    # driver-bound: one row per metric
    rows = fano_factor(
        _filtered(dps, metrics), ["metric"], bucket_ms=bucket_ms
    ).collect()
    return _fixed_key_resultsets(
        rows, "fano({})", ["fano", "n_buckets", "n_events"],
        _aggregate_tags(dps, metrics),
    )


def top_movers_op(
    dps: DataFrame,
    metrics: list[str] | None = None,
    k: int = 3,
) -> list[ResultSet]:
    """q189 through the API: the k largest adjacent-day jumps of the
    daily mean per metric; dps keys are the day timestamps, values the
    signed delta — the release-triage view. Daily means micro-quantize
    before delta and rank, so ordering is integer-exact."""
    from ticktock_spark.operators.summary import daily_top_movers

    out_rows = daily_top_movers(
        _filtered(dps, metrics), ["metric"], k=int(k)
    ).select("metric", "ts", "delta")
    return _to_resultsets(
        out_rows, "ts", "delta", _aggregate_tags(dps, metrics)
    )


def histogram_quantile_op(
    dps: DataFrame,
    metrics: list[str] | None = None,
    width: float = 10.0,
    quantiles: list[float] | None = None,
) -> list[ResultSet]:
    """q194 through the API: p-quantile estimates from fixed-width
    value histograms (Prometheus histogram_quantile semantics —
    cumulative bin counts + within-bin linear interpolation); dps keys
    are the quantiles in permille (500 → p50), values the estimates.
    The O(bins) dashboard path; op=rolling_pct's exact R-6 machinery is
    the value-scale twin. Raw points by definition (a rollup's
    min/max/sum can't reconstruct the value distribution)."""
    from ticktock_spark.operators.summary import (
        histogram_quantiles,
        value_histogram,
    )

    qs_list = quantiles or [0.5, 0.9, 0.99]
    h = value_histogram(_filtered(dps, metrics), ["metric"], width=width)
    out_rows = histogram_quantiles(h, qs_list, width=width).select(
        "metric",
        F.floor(F.col("q") * F.lit(1000.0) + F.lit(0.5))
        .cast("long")
        .alias("permille"),
        "est",
    )
    return _to_resultsets(
        out_rows, "permille", "est", _aggregate_tags(dps, metrics)
    )


def interarrival_op(
    dps: DataFrame, metrics: list[str] | None = None
) -> list[ResultSet]:
    """q195 through the API: the series' measured reporting interval —
    dps is {0: p50 delta ms (the native interval), 1: p95 delta ms (the
    jitter/stall tail), 2: n deltas} (the trend() fixed-key convention).
    Raw timestamps by definition: bucketing erases cadence."""
    from ticktock_spark.operators.summary import interarrival_percentiles

    # driver-bound: one row per metric
    rows = interarrival_percentiles(
        _filtered(dps, metrics), ["metric"], quantiles=[50.0, 95.0]
    ).collect()
    by_m: dict[str, dict] = {}
    for r in rows:
        d = by_m.setdefault(r["metric"], {"metric": r["metric"]})
        d["p50" if r["quantile"] == 50.0 else "p95"] = r["pct"]
        d["n"] = r["n"]
    return _fixed_key_resultsets(
        list(by_m.values()),
        "interarrival({})",
        ["p50", "p95", "n"],
        _aggregate_tags(dps, metrics),
    )


def flatline_op(
    dps: DataFrame,
    metrics: list[str] | None = None,
    bucket_ms: int = MIN_MS,
    min_run: int = 10,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q196 through the API: stuck-sensor audit over bucket means — dps
    is {0: longest run of identical buckets, 1: runs ≥ min_run,
    2: total runs, 3: buckets}. Rollup-routable: rollup rows ARE the
    bucket means the runs are measured on."""
    from ticktock_spark.operators.summary import flatline_runs

    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    # driver-bound: response rows — flatline runs ≥ min_run per metric
    rows = flatline_runs(b, ["metric"], min_run=min_run).collect()
    return _fixed_key_resultsets(
        rows,
        "flatline({})",
        ["longest_run", "n_flat_runs", "n_runs", "n_buckets"],
        _aggregate_tags(dps, metrics, rollup),
    )


def gaps_op(
    dps: DataFrame,
    metrics: list[str] | None = None,
    bucket_ms: int = MIN_MS,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q197 through the API: completeness report — dps is
    {0: expected buckets over the active span, 1: present, 2: missing,
    3: longest gap ms}. Rollup-routable: bucket PRESENCE is exactly
    what a rollup table stores."""
    from ticktock_spark.operators.summary import gap_report

    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    # driver-bound: response rows — gaps per metric in the query range
    rows = gap_report(b, ["metric"], bucket_ms=bucket_ms).collect()
    return _fixed_key_resultsets(
        rows,
        "gaps({})",
        ["n_expected", "n_present", "n_missing", "longest_gap_ms"],
        _aggregate_tags(dps, metrics, rollup),
    )


def stream_gaps_op(
    presence: DataFrame,
    bucket_ms: int = MIN_MS,
    metrics: list[str] | None = None,
) -> list[ResultSet]:
    """gaps_op's STREAMING twin, reachable over GET /api/analytics/stream:
    the live presence state table (streaming/liveness.streaming_presence's
    sink, columns series/b/n) read through the SAME gap arithmetic
    (gap_report_reads → gap_report_over_buckets) and shaped into the SAME
    response as the batch op — dps {0: expected buckets, 1: present,
    2: missing, 3: longest gap ms}. A late point inside the watermark has
    already revised the state (the reported gap SPLITS), so this read
    reflects it immediately, where the batch op sees it only after the
    buffered points flush into the base table. The monitor state has no
    tag dimension (series strings only), so aggregate_tags is always []."""
    from ticktock_spark.streaming.liveness import gap_report_reads

    if metrics:
        presence = presence.filter(F.col("series").isin(list(metrics)))
    rows = (
        # driver-bound: monitor state is O(series); report rows ⊆ state
        gap_report_reads(presence, bucket_ms=bucket_ms)
        .withColumnRenamed("series", "metric")
        .collect()
    )
    return _fixed_key_resultsets(
        rows,
        "gaps({})",
        ["n_expected", "n_present", "n_missing", "longest_gap_ms"],
        {},
    )


def seasonal_envelope_op(
    dps: DataFrame,
    metrics: list[str] | None = None,
    bucket_ms: int = MIN_MS,
    quantile: float = 90.0,
    rollup: DataFrame | None = None,
) -> list[ResultSet]:
    """q198 through the API: one percentile of the hour-of-day envelope
    per metric — dps keys are phases 0–23 (the seasonal_profile key
    shape), values the exact R-6 percentile of that hour's bucket
    means. Call with q=10/50/90 to draw the band."""
    from ticktock_spark.operators.robust import seasonal_envelope

    if not (0.0 <= quantile <= 100.0):
        raise ValueError(
            f"quantile q={quantile} out of range (R-6 percent in [0, 100])"
        )
    b = _bucket_source(dps, rollup, metrics, bucket_ms)
    out = seasonal_envelope(b, ["metric"], quantiles=[float(quantile)]).select(
        "metric", "phase", "pct"
    )
    return _to_resultsets(
        out, "phase", "pct", _aggregate_tags(dps, metrics, rollup)
    )


def value_precision_op(
    dps: DataFrame, metrics: list[str] | None = None
) -> list[ResultSet]:
    """q202 through the API: decimal-precision mix of the RAW values —
    dps is {0: frac integer, 1: frac ≤1-decimal, 2: frac full-grid,
    3: n}. Raw-only: bucket means destroy the precision signature."""
    from ticktock_spark.operators.summary import value_precision_audit

    # driver-bound: one row per metric
    rows = value_precision_audit(_filtered(dps, metrics), ["metric"]).collect()
    return _fixed_key_resultsets(
        rows,
        "value_precision({})",
        ["frac_integer", "frac_1dp", "frac_2dp", "n"],
        _aggregate_tags(dps, metrics),
    )


def compress_audit_op(
    dps: DataFrame, metrics: list[str] | None = None
) -> list[ResultSet]:
    """q203 through the API: Gorilla-compressibility of the raw stream —
    dps is {0: frac of points with zero timestamp delta-of-delta,
    1: frac repeating the previous value, 2: n}. Raw-only by
    definition."""
    from ticktock_spark.operators.summary import compressibility_audit

    # driver-bound: one row per metric
    rows = compressibility_audit(
        _filtered(dps, metrics), ["metric"], seq_col="seq"
    ).collect()
    return _fixed_key_resultsets(
        rows,
        "compress_audit({})",
        ["frac_ts_regular", "frac_val_repeat", "n"],
        _aggregate_tags(dps, metrics),
    )


def rollup_error_op(
    dps: DataFrame, metrics: list[str] | None = None
) -> list[ResultSet]:
    """q201 through the API: the avg-of-hourly-avgs bias vs the exact
    raw daily mean — dps is {0: max abs error, 1: mean abs error,
    2: days}. Raw-only by definition (it MEASURES what routing to a
    rollup would cost); read it before trusting grain=1h."""
    from ticktock_spark.operators.summary import rollup_error_audit

    # driver-bound: one row per metric
    rows = rollup_error_audit(_filtered(dps, metrics), ["metric"]).collect()
    return _fixed_key_resultsets(
        rows,
        "rollup_error({})",
        ["max_abs_err", "mean_abs_err", "n_coarse"],
        _aggregate_tags(dps, metrics),
    )
