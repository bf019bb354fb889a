"""Stateful streaming rate conversion (applyInPandasWithState).

The reference computes rate at query time over assembled series
(`src/agg/rate.cpp:38-92`); on a stream the same per-series difference
quotient is computed incrementally: state = the last (ts, value) seen per
series, carried across micro-batches in the state store (checkpointed —
this is the streaming analogue of the reference's in-order page cursor).

Semantics per series (matching rate.cpp and operators/rate.py):
  rate(t1) = (v1 - v0) / ((t1 - t0)/1000 sec); the first point emits
  nothing. counter/counterMax/dropResets/resetValue follow rate.cpp:60-77.

Ordering: rows are rate-converted in event-time order WITHIN a batch, and
batches carry state forward; a point at or before the state's last ts
(out-of-order across batches) is dropped rather than emitted out of order
— the batch/query path (operators/rate.py after dedup) remains the
authority for late data, mirroring the reference's rollup-vs-raw split.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [StructField("last_ts", LongType()), StructField("last_value", DoubleType())]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("metric", StringType()),
        StructField("series", StringType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
    ]
)


def _make_rate_fn(
    counter: bool, counter_max: float | None, drop_resets: bool, reset_value: float | None
):
    # match operators/rate.py and rate.cpp:60-77: counterMax defaults to
    # UINT64_MAX ((double) cast → exactly 2^64) and resetValue in {None, 0}
    # means disabled (m_reset_value != 0)
    cmax = float(counter_max) if counter_max is not None else float(2**64)
    reset = None if reset_value in (None, 0) else float(reset_value)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        metric, series = key
        if state.exists:
            last_ts, last_value = state.get
        else:
            last_ts, last_value = None, None
        out_ts: list[int] = []
        out_val: list[float] = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            for ts, value in zip(pdf["ts"], pdf["value"]):
                ts = int(ts)
                value = float(value)
                if last_ts is not None:
                    if ts <= last_ts:
                        continue  # late/dup across batches: see module doc
                    dt = (ts - last_ts) / 1000.0
                    delta = value - last_value
                    if counter and delta < 0:
                        if drop_resets:
                            last_ts, last_value = ts, value
                            continue
                        r = (cmax - last_value + value) / dt
                        out_ts.append(ts)
                        out_val.append(0.0 if (reset is not None and r > reset) else r)
                    else:
                        out_ts.append(ts)
                        out_val.append(delta / dt)
                last_ts, last_value = ts, value
        if last_ts is not None:
            state.update((last_ts, last_value))
        if out_ts:
            yield pd.DataFrame(
                {
                    "metric": metric,
                    "series": series,
                    "ts": out_ts,
                    "value": out_val,
                }
            )

    return fn


def streaming_rate(
    dps: DataFrame,
    counter: bool = False,
    counter_max: float | None = None,
    drop_resets: bool = False,
    reset_value: float | None = None,
) -> DataFrame:
    """datapoints stream (metric, ts, value, tags) → per-series rate stream.

    Groups by (metric, canonical series key); each group's last (ts, value)
    lives in the state store. State size is O(#series) — bounded by series
    cardinality, not data volume, so this scales to arbitrarily long
    streams; the shuffle key is the series, the same partitioning the
    downstream rollup aggregation uses.
    """
    from pyspark.sql import functions as F

    from ticktock_spark.plans.planner import canonical_series_key

    keyed = dps.select(
        "metric",
        canonical_series_key().alias("series"),
        "ts",
        "value",
    )
    return keyed.groupBy("metric", "series").applyInPandasWithState(
        _make_rate_fn(counter, counter_max, drop_resets, reset_value),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
