"""Correctness checks the benchmark applies to every output.

* ``close`` — structural equality with a 1e-9 relative tolerance on leaf
  floats (cross-series sums fold doubles in no fixed order, so the last
  ulp may vary between runs; wrong rows or keys still fail).
* ``canon`` — the order-insensitive row canonicalization the repository's
  oracle tests use (sorted column names, full-precision float ``repr``).
* ``fleet_oracle`` — the DuckDB answer to an ``/api/query`` request over
  the generated fleet table, for the request types whose semantics are a
  plain SQL aggregate: downsample by ``ts - ts % interval`` per series,
  then the cross-series aggregator per group.
"""

from __future__ import annotations

import math

from datagen import host_dc


def close(a, b, rel: float = 1e-9) -> bool:
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(close(a[k], b[k], rel) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(close(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= rel * max(abs(a), abs(b))
    return a == b


def canon(df) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(float(v)))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def result_core(results) -> dict:
    """/api/query response -> {sorted tag items: (metric, dps)} for oracle
    comparison (aggregateTags and result order are left to the pre-pass)."""
    if not isinstance(results, list):
        return {"<not a list>": results}
    return {
        tuple(sorted(r["tags"].items())): (r["metric"], r["dps"])
        for r in results
        if isinstance(r, dict)
    }


def _stepped(start_ms: int, end_ms: int, interval_ms: int) -> tuple[int, int]:
    """The planner's downsample range for bucket-aligned start/end: from
    the first bucket at ``start`` through the whole bucket at ``end``."""
    return start_ms, end_ms + interval_ms - 1


def fleet_oracle(con, table: str, spec: dict) -> dict:
    """DuckDB twin of one fleet query ``spec`` (keys: metric, start_ms,
    end_ms, interval_ms (0 = all), ds_func, agg, group (tag keys),
    tag_filter ({key: value} literal filters)) in ``result_core`` form."""
    lo, hi = spec["start_ms"], spec["end_ms"]
    iv = spec["interval_ms"]
    if iv:
        lo, hi = _stepped(lo, hi, iv)
        bucket = f"ts - ts % {iv}"
    else:
        bucket = str(spec["start_ms"])
    where = [f"metric = '{spec['metric']}'", f"ts BETWEEN {lo} AND {hi}"]
    for k, v in spec.get("tag_filter", {}).items():
        where.append(f"tags['{k}'][1] = '{v}'")
    group = spec["group"]
    gsel = "".join(f", tags['{k}'][1] AS g_{k}" for k in group)
    gcols = "".join(f", g_{k}" for k in group)
    sql = f"""
        WITH s AS (
          SELECT {bucket} AS b{gsel}, tags['host'][1] AS host,
                 {spec['ds_func']}(value) AS v
          FROM read_parquet('{table}/*/*.parquet', hive_partitioning = true)
          WHERE {' AND '.join(where)}
          GROUP BY ALL
        )
        SELECT b{gcols}, {spec['agg']}(v) AS v FROM s GROUP BY ALL ORDER BY ALL
    """
    out: dict = {}
    for row in con.sql(sql).fetchall():
        b, *gvals, v = row
        tags = dict(zip(group, gvals))
        if "host" in group:  # a host's dc tag is constant, so it stays in tags
            tags["dc"] = host_dc(tags["host"])
        key = tuple(sorted(tags.items()))
        out.setdefault(key, (spec["metric"], {}))[1][str(b // 1000)] = float(v)
    return out
