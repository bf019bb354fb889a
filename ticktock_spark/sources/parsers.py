"""Ingest parsers: OpenTSDB telnet `put`, OpenTSDB JSON, InfluxDB line
protocol → canonical datapoint rows.

Reference behavior:
- telnet: `put <metric> <ts> <value> <k=v> [<k=v> ...]`
  (`src/core/dp.cpp:160-201`)
- JSON: {"metric","timestamp","value","tags":{...}}, single object or
  array (`src/core/tsdb.cpp:2340-2384`, `src/core/dp.cpp:112-158`)
- Influx line: `<meas>[,k=v...] <field>=<val>[,...] [ts]`; every field
  becomes its own series tagged `_field=<name>`
  (`src/core/tsdb.cpp:2482-2953`); escape handling for `\\,` `\\=` `\\ `
  in identifiers.

Each parser has two forms: a pure-Python row parser (unit-testable, used
by the HTTP facade for small writes) and a DataFrame transform for bulk /
streaming ingest. The DataFrame forms keep everything JVM-side: telnet
and JSON use split/from_json; the Influx line parser needs the escape
state machine, so it runs as a Pandas-vectorized mapInPandas — the one
deliberate Python hot path, Arrow-batched.

Timestamps are normalized sec/ms (and ns for Influx) by magnitude, per
`src/utils/utils.cpp:395-402`.
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from ticktock_spark.timeparse import normalize_ms

PARSED_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ]
)


def _int_ts(s) -> int:
    """Parse a timestamp string/number to int WITHOUT a float round-trip
    (float64 rounds 19-digit ns values); fractional inputs truncate."""
    try:
        return int(s)
    except (TypeError, ValueError):
        return int(float(s))


def _norm_ts(ts: float) -> int:
    ts = int(ts)
    if ts > 99999999999999999:  # nanoseconds (Influx default)
        return ts // 1_000_000
    if ts > 99999999999999:  # microseconds
        return ts // 1_000
    return normalize_ms(ts)


# ---------------------------------------------------------------------------
# telnet put
# ---------------------------------------------------------------------------

def parse_put_line(line: str) -> dict | None:
    parts = line.strip().split()
    if len(parts) < 4 or parts[0] != "put":
        return None
    metric, ts_s, val_s = parts[1], parts[2], parts[3]
    tags = {}
    for kv in parts[4:]:
        k, _, v = kv.partition("=")
        if k and v:
            tags[k] = v
    try:
        return {
            "metric": metric,
            "ts": _norm_ts(_int_ts(ts_s)),
            "value": float(val_s),
            "tags": tags,
        }
    except ValueError:
        return None


def put_lines_to_datapoints(lines: DataFrame, line_col: str = "value") -> DataFrame:
    """DataFrame of telnet lines → canonical datapoints (pure built-ins:
    split + transform + map_from_entries — stays in codegen)."""
    parts = F.split(F.trim(F.col(line_col)), r"\s+")
    tag_entries = F.transform(
        F.slice(parts, 5, F.greatest(F.size(parts) - 4, F.lit(0))),
        lambda kv: F.struct(
            F.split(kv, "=").getItem(0).alias("key"),
            F.split(kv, "=").getItem(1).alias("value"),
        ),
    )
    # integer timestamps parse directly as long (a double round-trip
    # rounds 19-digit ns values); fractional ones fall back through double
    p3 = F.element_at(parts, 3)
    raw_ts = F.coalesce(p3.cast("long"), p3.cast("double").cast("long"))
    # exact decimal division for ns/µs downscaling: `/` on longs goes
    # through double, whose rounding near 1e18 can flip the truncated ms
    dec_ts = raw_ts.cast("decimal(20,0)")
    ts = (
        F.when(raw_ts > 99999999999999999, (dec_ts / 1_000_000).cast("long"))
        .when(raw_ts > 99999999999999, (dec_ts / 1_000).cast("long"))
        .when(raw_ts <= 9999999999, raw_ts * 1000)
        .otherwise(raw_ts)
    )
    return (
        lines.filter(F.element_at(parts, 1) == "put")
        .filter(F.size(parts) >= 4)
        .select(
            F.element_at(parts, 2).alias("metric"),
            ts.alias("ts"),
            F.element_at(parts, 4).cast("double").alias("value"),
            F.map_from_entries(tag_entries).alias("tags"),
        )
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
    )


# ---------------------------------------------------------------------------
# OpenTSDB JSON
# ---------------------------------------------------------------------------

def parse_put_json(body: str | bytes) -> list[dict]:
    data = json.loads(body)
    if isinstance(data, dict):
        data = [data]
    out = []
    for dp in data:
        try:
            out.append(
                {
                    "metric": dp["metric"],
                    "ts": _norm_ts(_int_ts(dp["timestamp"])),
                    "value": float(dp["value"]),
                    "tags": {str(k): str(v) for k, v in dp.get("tags", {}).items()},
                }
            )
        except (KeyError, TypeError, ValueError):
            continue
    return out


_JSON_DP_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ]
)


def json_lines_to_datapoints(lines: DataFrame, line_col: str = "value") -> DataFrame:
    """One JSON object per line → canonical datapoints (from_json)."""
    parsed = lines.select(F.from_json(F.col(line_col), _JSON_DP_SCHEMA).alias("dp"))
    raw_ts = F.col("dp.timestamp")
    ts = F.when(raw_ts <= 9999999999, raw_ts * 1000).otherwise(raw_ts)
    return parsed.filter(F.col("dp").isNotNull()).select(
        F.col("dp.metric").alias("metric"),
        ts.alias("ts"),
        F.col("dp.value").alias("value"),
        F.col("dp.tags").alias("tags"),
    )


# ---------------------------------------------------------------------------
# InfluxDB line protocol
# ---------------------------------------------------------------------------

def _split_escaped(s: str, sep: str) -> list[str]:
    """Split on every ``sep`` that no backslash escapes (escapes kept)."""
    out, cur, esc = [], [], False
    for ch in s:
        if esc:
            cur.append(ch)
            esc = False
        elif ch == "\\":
            cur.append(ch)
            esc = True
        elif ch == sep:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


# the escape-aware helpers: a string without a backslash has no escapes,
# so the state machine reduces to str.split / str.partition / identity


def _split_unescaped(s: str, sep: str) -> list[str]:
    if "\\" not in s:
        return s.split(sep)
    return _split_escaped(s, sep)


def _unescape(s: str) -> str:
    if "\\" not in s:
        return s
    return s.replace("\\,", ",").replace("\\=", "=").replace("\\ ", " ")


def _partition_unescaped(s: str, sep: str) -> tuple[str, str]:
    if "\\" not in s:
        head, _, tail = s.partition(sep)
        return head, tail
    parts = _split_escaped(s, sep)
    return parts[0], sep.join(parts[1:])


def parse_influx_line(line: str) -> list[dict]:
    """One line → one datapoint per field, tagged `_field=<name>`
    (tsdb.cpp:2715-2953; measurement handling tsdb.cpp:509-676)."""
    line = line.strip()
    if not line or line.startswith("#"):
        return []
    segs = _split_unescaped(line, " ")
    segs = [s for s in segs if s != ""]
    if len(segs) < 2:
        return []
    head, fields_s = segs[0], segs[1]
    ts_ms = _norm_ts(_int_ts(segs[2])) if len(segs) > 2 else None
    head_parts = _split_unescaped(head, ",")
    measurement = _unescape(head_parts[0])
    tags = {}
    for kv in head_parts[1:]:
        k, v = _partition_unescaped(kv, "=")
        if k:
            tags[_unescape(k)] = _unescape(v)
    out = []
    for fkv in _split_unescaped(fields_s, ","):
        k, v = _partition_unescaped(fkv, "=")
        if not k:
            continue
        v = v.strip()
        try:
            if v.endswith(("i", "u")) and v[:-1].lstrip("-").isdigit():
                val = float(v[:-1])
            elif v.lower() in ("t", "true"):
                val = 1.0
            elif v.lower() in ("f", "false"):
                val = 0.0
            elif v.startswith('"'):
                continue  # string fields are not numeric datapoints
            else:
                val = float(v)
        except ValueError:
            continue
        if math.isnan(val) or math.isinf(val):
            continue
        out.append(
            {
                "metric": measurement,
                "ts": ts_ms,
                "value": val,
                "tags": {**tags, "_field": _unescape(k)},
            }
        )
    return out


def influx_lines_to_datapoints(
    lines: DataFrame, line_col: str = "value", default_ts_ms: int = 0
) -> DataFrame:
    """Bulk/streaming Influx ingest: Arrow-batched mapInPandas around the
    escape-aware line parser (the one Python hot path — escapes need a
    character state machine)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for line in pdf[line_col]:
                for dp in parse_influx_line(line or ""):
                    if dp["ts"] is None:
                        dp = {**dp, "ts": default_ts_ms}
                    rows.append(dp)
            # yield bound: rows-per-line is the line's field count (row-local)
            yield pd.DataFrame(
                rows, columns=["metric", "ts", "value", "tags"]
            ) if rows else pd.DataFrame(
                {"metric": [], "ts": [], "value": [], "tags": []}
            )

    return lines.mapInPandas(_batches, PARSED_SCHEMA)
