"""Canonical schemas.

The reference stores every point as (metric, tags, timestamp, double)
(`include/dp.h:34-96`, `include/tag.h:46-132`); timestamps are epoch sec or
ms (`include/type.h:57`). We keep epoch-ms LONG for exactness plus a `dt`
DATE partition column mirroring the reference's 1-day Tsdb rotation
(`src/core/tsdb.cpp:2969-2974`) so Catalyst prunes day partitions the same
way `Tsdb::insts` binary-searches them (`src/core/tsdb.cpp:2259-2322`).

`seq` is a monotonically increasing ingest sequence used to reproduce the
reference's last-wins duplicate-timestamp semantics
(`src/core/query.cpp:722-803`): dedup = max_by(value, seq).
"""

from __future__ import annotations

from pyspark.sql import types as T

DATAPOINTS_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),  # epoch milliseconds
        T.StructField("value", T.DoubleType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("dt", T.DateType(), True),
    ]
)

ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("bucket_ts", T.LongType(), False),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("min", T.DoubleType(), True),
        T.StructField("max", T.DoubleType(), True),
        T.StructField("sum", T.DoubleType(), True),
    ]
)

# Series dimension: one row per unique (metric, tag-set) — the Spark
# analogue of the reference's per-metric series map
# (`include/tsdb.h:160-164`, canonical tag string built in
# `src/core/tsdb.cpp:679-715`). Metadata endpoints (/api/suggest,
# /api/search/lookup) answer from this table in O(series) instead of
# scanning the datapoints fact table. `tsuid` is a deterministic
# surrogate for the reference's metric+tag-id tsuid emitted by lookup
# (`src/core/query.cpp:1477-1602`).
SERIES_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("skey", T.StringType(), False),
        T.StructField("tsuid", T.StringType(), False),
    ]
)


_TAG_ESCAPES = str.maketrans({"\\": "\\\\", ",": "\\,", "=": "\\="})


def series_key(metric: str, tags: dict | None) -> str:
    """Canonical series key: ``metric;k1=v1,k2=v2`` with keys sorted —
    same identity the reference's Mapping keeps (tsdb.cpp:679-715). Tag
    keys and values are escaped like :func:`escaped_tag_part_sql`, so
    ``{a: '1,b=2'}`` and ``{a: '1', b: '2'}`` are two series."""
    body = ",".join(
        f"{k.translate(_TAG_ESCAPES)}={v.translate(_TAG_ESCAPES)}"
        for k, v in sorted((tags or {}).items())
    )
    return f"{metric};{body}"


def series_tsuid(skey: str) -> str:
    """Deterministic 12-hex tsuid surrogate from the canonical key."""
    import hashlib

    return hashlib.md5(skey.encode()).hexdigest()[:12]


def escaped_tag_part_sql(x: str) -> str:
    """SQL for the tag key or value ``x`` with ``\\``, ``,`` and ``=``
    backslash-escaped, so a joined tag string is injective; strings
    without them pass through unchanged. The ``contains`` guard keeps the
    regex off the common escape-free path: grouping 2M three-tag maps by
    the key at local[4] cost +20% over the unescaped key with the guard,
    +70% without it. Series-key expressions are SQL strings rather than
    Column-API trees: one parse in the JVM instead of ~80 py4j calls
    (~40 ms) per query plan."""
    special = f"contains({x}, '\\\\') OR contains({x}, ',') OR contains({x}, '=')"
    return (
        f"CASE WHEN {special} "
        f"THEN regexp_replace({x}, '([\\\\\\\\,=])', '\\\\\\\\$1') ELSE {x} END"
    )


def tag_string_sql(entries: str) -> str:
    """SQL for the ``k=v,k=v`` string of a sorted ``map_entries`` array,
    keys and values escaped by :func:`escaped_tag_part_sql`."""
    pair = (
        f"concat_ws('=', {escaped_tag_part_sql('e.key')}, {escaped_tag_part_sql('e.value')})"
    )
    return f"concat_ws(',', transform({entries}, e -> {pair}))"


# sorted map_entries(tags), NULL tags canonicalized like {} (matching the
# Python twin — concat_ws would otherwise skip the NULL segment)
_SERIES_ENTRIES_SQL = "array_sort(map_entries(coalesce(tags, map())))"


def series_skey_col():
    """Spark expression for the canonical series key (`metric;k=v,...`),
    lockstep with :func:`series_key` (pinned by the randomized test in
    tests/test_plans.py::test_series_key_lockstep_randomized)."""
    from pyspark.sql import functions as F

    return F.expr(f"concat_ws(';', metric, {tag_string_sql(_SERIES_ENTRIES_SQL)})")


def series_dim_from(df):
    """Distill the series dimension from a datapoints DataFrame: one
    distinct-by-canonical-key pass (the index build the reference does at
    restore time). Spark twin of :func:`series_key` / :func:`series_tsuid`
    — the two must stay in lockstep."""
    from pyspark.sql import functions as F

    return (
        df.select(
            "metric", F.expr(_SERIES_ENTRIES_SQL).alias("te"), series_skey_col().alias("skey")
        )
        .dropDuplicates(["skey"])
        .select(
            "metric",
            F.map_from_entries("te").alias("tags"),
            "skey",
            F.substring(F.md5("skey"), 1, 12).alias("tsuid"),
        )
    )


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# testdata timestamp columns have shipped as TIMESTAMP(NANOS) (arrives as
# long ns under spark.sql.legacy.parquet.nanosAsLong) and as
# TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives as TIMESTAMP_NTZ unless
# inferTimestampNTZ is disabled). Normalize every encoding to TimestampType
# (µs, session tz UTC) so downstream unix_millis() matches DuckDB's naive
# read of the same files.
_TS_COLS = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def _is_utc_zone(tz: str) -> bool:
    """True when ``tz`` denotes a fixed zero UTC offset (checked at a
    winter and a summer instant so DST zones can't sneak through)."""
    if tz in ("UTC", "Z", "GMT", "+00:00", "Etc/UTC", "Etc/GMT"):
        return True
    # fixed zero-offset spellings Spark/Java accept but ZoneInfo can't
    # parse: GMT+00:00, UTC+0, +0000, GMT0, UT±00, ...
    import re

    if re.fullmatch(r"(?:UTC|GMT|UT)0|(?:UTC|GMT|UT)?[+-]0{1,2}(?::?0{2}(?::?0{2})?)?", tz):
        return True
    import datetime as dt

    try:
        from zoneinfo import ZoneInfo

        z = ZoneInfo(tz)
        return z.utcoffset(dt.datetime(2024, 1, 1)) == dt.timedelta(0) and (
            z.utcoffset(dt.datetime(2024, 7, 1)) == dt.timedelta(0)
        )
    except Exception:  # noqa: BLE001 — unknown spelling: treat as not UTC
        return False


def load_table(spark, sf_dir: str, name: str):
    """Load one driver-generated parquet table (TESTDATA.md)."""
    from pyspark.sql import functions as F

    # the timestamp_ntz reinterpretation below is only identity-preserving
    # when the session renders wall-clock instants at UTC+0; any other tz
    # would silently shift epoch values relative to DuckDB's naive read.
    # Accept any zero-offset spelling ("UTC", "Etc/UTC", "GMT", "+00:00"
    # — a bare session on a UTC host reports "Etc/UTC"), reject the rest
    # loudly.
    tz = spark.conf.get("spark.sql.session.timeZone")
    if not _is_utc_zone(tz):
        raise RuntimeError(
            f"load_table requires a UTC session timezone (got {tz!r}); "
            "build the session with ticktock_spark.session.get_spark"
        )
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(c)
        if dtype == "bigint":
            # integer division: `/` would go through double, whose ~2^-53
            # relative error on an int64 ns value (~1.7e18 > 2^53) can
            # truncate to the previous µs and flip a ms at a boundary —
            # DuckDB (the oracle) converts ns → µs exactly.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtype == "timestamp_ntz":
            # session tz is UTC, so this reinterprets the naive value as the
            # same wall-clock instant DuckDB reads.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
