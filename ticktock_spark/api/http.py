"""HTTP facade: the OpenTSDB-compatible API surface.

Endpoints (reference: `src/core/http.cpp:826-897`, handlers in
tsdb.cpp/query.cpp):

  POST /api/put            telnet lines or JSON body (tsdb.cpp:2324-2480)
  POST /api/write          InfluxDB line protocol (tsdb.cpp:2482-2593)
  GET/POST /api/query      the query pipeline (query.cpp:1308-1453)
  GET  /api/suggest        metric/tagk/tagv prefix search (tsdb.cpp:2595-2713)
  GET  /api/search/lookup  series lookup (query.cpp:1477-1602)
  GET  /api/aggregators    static list (aggregate.cpp:33-36)
  GET  /api/config/filters static filter descriptions (query.cpp:1455-1475)
  GET  /api/config /api/stats /api/version

A stdlib ThreadingHTTPServer on the Spark driver: requests parse to
QuerySpec, the planner builds the DataFrame plan, executors do the work —
the server thread only shapes JSON (same thread-carries-query model as
the reference's listener/responder, with Spark replacing the per-series
work).

Writes append to an in-driver, column-wise buffer (``TsdbStore``): a
put batch is parsed to dicts, checked whole, and appended to per-column
lists. Each query or flush hands a snapshot of the buffer to Spark as one
Arrow table, unioned with the base DataFrame (``flush`` appends it to the
parquet table). Production ingest is the Structured Streaming path in
streaming/ingest.py.
"""

from __future__ import annotations

import itertools
import json
import re as _re
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession, functions as F

from ticktock_spark import __version__
from ticktock_spark.operators.aggregate import AGGREGATORS
from ticktock_spark.plans.parser import parse_query_json, parse_query_params
from ticktock_spark.plans.planner import TsdbContext
from ticktock_spark.plans.shape import resultset_to_dict
from ticktock_spark.plans.tagfilter import compile_tag_filters
from ticktock_spark.schema import (
    DATAPOINTS_SCHEMA,
    SERIES_SCHEMA,
    series_dim_from,
    series_key,
    series_tsuid,
)
from ticktock_spark.sources.parsers import (
    parse_influx_line,
    parse_put_json,
    parse_put_line,
)

FILTER_DESCRIPTIONS = {
    name: {"examples": f"host={name}(...)", "description": desc}
    for name, desc in [
        ("literal_or", "exact match of one of the pipe-separated values"),
        ("iliteral_or", "case-insensitive literal_or"),
        ("not_literal_or", "negated literal_or"),
        ("not_iliteral_or", "negated iliteral_or"),
        ("wildcard", "glob with * wildcards"),
        ("iwildcard", "case-insensitive wildcard"),
        ("regexp", "regular expression full match"),
    ]
}


# the epoch-ms range whose UTC day a `dt` (date) can hold: years 1..9999
_MIN_TS_MS = -62_135_596_800_000
_MAX_TS_MS = 253_402_300_799_999
_DAY_MS = 86_400_000
_TAGS_TYPE = pa.map_(pa.string(), pa.string())


class _ColumnBuffer:
    """The write buffer: one list per column, in ingest order; ``len()``
    is the number of buffered points."""

    __slots__ = ("metric", "ts", "value", "tags", "seq")

    def __init__(self):
        self.metric, self.ts, self.value, self.tags, self.seq = [], [], [], [], []

    def __len__(self) -> int:
        return len(self.seq)

    def _columns(self) -> tuple[list, ...]:
        return (self.metric, self.ts, self.value, self.tags, self.seq)

    def snapshot(self) -> tuple[list, ...]:
        return tuple(c[:] for c in self._columns())

    def drop_head(self, n: int) -> None:
        for c in self._columns():
            del c[:n]


def _arrow_table(metric, ts, value, tags, seq) -> pa.Table:
    """Buffered columns → one Arrow table in DATAPOINTS_SCHEMA's column
    order, with ``dt`` (the UTC day of ``ts``) computed vectorized."""
    ts_arr = pa.array(ts, pa.int64())
    days = np.floor_divide(ts_arr.to_numpy(), _DAY_MS).astype(np.int32)
    # the tag maps go in flattened (offsets, keys, values): converting
    # the dicts one by one costs ~20x more
    offsets = pa.array([0, *itertools.accumulate(map(len, tags))], pa.int32())
    keys = pa.array([k for t in tags for k in t], pa.string())
    vals = pa.array([v for t in tags for v in t.values()], pa.string())
    return pa.table(
        {
            "metric": pa.array(metric, pa.string()),
            "ts": ts_arr,
            "value": pa.array(value, pa.float64()),
            "tags": pa.MapArray.from_arrays(offsets, keys, vals, type=_TAGS_TYPE),
            "seq": pa.array(seq, pa.int64()),
            "dt": pa.array(days, pa.date32()),
        }
    )


class TsdbStore:
    """Base DataFrame + in-driver write buffer.

    Puts append to a column-wise buffer (one Python list per column, the
    analogue of the reference's per-series page buffers, `include/ts.h`);
    a query or a flush turns a snapshot of it into one Arrow table and one
    DataFrame, unioned with ``base``.

    ``table_path`` (optional) points at the dt-partitioned parquet table
    backing ``base`` so admin compaction can rewrite partitions in place.
    """

    def __init__(
        self,
        spark: SparkSession,
        base: DataFrame | None = None,
        table_path: str | None = None,
        max_response_bytes: int | None = None,
    ):
        self.spark = spark
        self.base = base
        self.table_path = table_path
        # response size cap, the analogue of the reference's fixed response
        # buffer (query.cpp:1641-1646: overflow → 413) — None = unlimited
        self.max_response_bytes = max_response_bytes
        self.rollup_1h: DataFrame | None = None
        self.rollup_1d: DataFrame | None = None
        self._buffer = _ColumnBuffer()
        # seed the ingest sequence past any seq already persisted in base:
        # a restarted store starting at 0 would hand NEW puts lower seqs
        # than old flushed rows, silently inverting last-write-wins dedup
        self._seq = 0
        if base is not None and "seq" in base.columns:
            # driver-bound: single max(seq) scalar
            self._seq = (base.agg({"seq": "max"}).first()[0] or 0)
        self._lock = threading.Lock()
        self._flush_lock = threading.Lock()
        # series dimension (tsdb.h:160-164): new series discovered at
        # ingest go here (O(1) per point); the base table's series are
        # distilled once into a cached dim on first metadata access
        self._series_buf: dict[str, Row] = {}
        self._series_base: DataFrame | None = None
        # self-meter counters (stats.cpp:47,230-430 / query.cpp:1338-1341):
        # per-interval counts drained to zero at each emit, exactly the
        # reference's exchange(0) semantics
        self._meter_lock = threading.Lock()
        self._meter = {
            "http_requests": 0,
            "queries": 0,
            "query_latency_ms": 0.0,
            "ingested_dps": 0,
        }
        # live streaming_presence monitor: (state-table source, bucket_ms)
        self._presence: tuple | None = None

    def attach_presence(self, presence, bucket_ms: int = 60_000) -> None:
        """Register a running streaming_presence monitor's state table so
        GET /api/analytics/stream can serve its revising gap report.
        ``presence`` is the live state DataFrame (e.g. the memory-sink
        table of the streaming query) or a zero-arg callable returning
        one (re-resolved per request, for sinks that re-register)."""
        self._presence = (presence, int(bucket_ms))

    # -- self-metrics loop (src/utils/stats.cpp:230-430) --

    def note_http_request(self) -> None:
        with self._meter_lock:
            self._meter["http_requests"] += 1

    def note_query(self, latency_ms: float) -> None:
        with self._meter_lock:
            self._meter["queries"] += 1
            self._meter["query_latency_ms"] += latency_ms

    def note_ingest(self, n: int) -> None:
        with self._meter_lock:
            self._meter["ingested_dps"] += n

    def emit_self_metrics(self, now_ms: int | None = None) -> list[dict]:
        """Inject ``ticktock.*`` self-metrics as ordinary datapoints so
        ``/api/query`` can chart the engine's own behavior — the
        reference's self-meter loop (`src/utils/stats.cpp:230-430`,
        query counters `src/core/query.cpp:1338-1341`), with the
        storage-engine gauges (mmap/page/compaction) replaced by the
        Spark-relevant set. Interval counters drain to zero on emit
        (the reference's ``exchange(0)``); gauges are point-in-time.
        Tagged ``host=<hostname>`` like the reference
        (`HOST_TAG_NAME`). Returns the emitted datapoints."""
        import socket
        now = int(now_ms if now_ms is not None else time.time() * 1000)
        host = socket.gethostname()
        with self._meter_lock:
            drained = dict(self._meter)
            for k in self._meter:
                self._meter[k] = type(self._meter[k])(0)
        try:
            # O(series), not O(datapoints): the cached series dim
            n_series = self.series_dim().count()
        except BaseException:
            with self._meter_lock:
                for k, v in drained.items():
                    self._meter[k] += v
            raise
        dps = [
            {"metric": "ticktock.http.request.count", "ts": now,
             "value": float(drained["http_requests"]), "tags": {"host": host}},
            {"metric": "ticktock.query.count", "ts": now,
             "value": float(drained["queries"]), "tags": {"host": host}},
            {"metric": "ticktock.query.latency.ms", "ts": now,
             "value": float(drained["query_latency_ms"]), "tags": {"host": host}},
            {"metric": "ticktock.ingest.dps.count", "ts": now,
             "value": float(drained["ingested_dps"]), "tags": {"host": host}},
            {"metric": "ticktock.time_series.count", "ts": now,
             "value": float(n_series), "tags": {"host": host}},
            {"metric": "ticktock.buffer.dps.count", "ts": now,
             "value": float(len(self._buffer)), "tags": {"host": host}},
        ]
        try:
            self.add(dps)
        except BaseException:
            # a failed emit must not zero the interval counters: restore
            # the drained values (+= — concurrent notes since the drain
            # are kept) so the next tick re-emits them. The timer loop's
            # catch-all would otherwise silently eat the loss.
            with self._meter_lock:
                for k, v in drained.items():
                    self._meter[k] += v
            raise
        return dps

    def add(self, dps: list[dict]) -> int:
        """Buffer a batch of datapoints, all or nothing: the whole batch is
        checked before any point is appended, so a bad point leaves the
        buffer and the ingest ``seq`` as they were. A timestamp whose day
        falls outside years 1..9999 (no ``dt`` can hold it) raises
        ValueError."""
        metric = [dp["metric"] for dp in dps]
        ts = [dp["ts"] for dp in dps]
        value = [dp["value"] for dp in dps]
        tags = [dp.get("tags") or {} for dp in dps]
        if ts and (min(ts) < _MIN_TS_MS or max(ts) > _MAX_TS_MS):
            raise ValueError("timestamp outside the representable date range")
        # one series key per distinct (metric, tag items) of the batch: a
        # batch repeats its few series many times over
        series = {}
        for m, t in zip(metric, tags):
            series.setdefault((m, *t.items()), (m, t))
        with self._lock:
            for m, t in series.values():
                skey = series_key(m, t)
                if skey not in self._series_buf:
                    self._series_buf[skey] = Row(
                        metric=m, tags=t, skey=skey, tsuid=series_tsuid(skey)
                    )
            buf = self._buffer
            first = self._seq + 1
            self._seq += len(dps)
            buf.metric += metric
            buf.ts += ts
            buf.value += value
            buf.tags += tags
            buf.seq += range(first, self._seq + 1)
        return len(dps)

    def _frame(self, cols: tuple[list, ...]) -> DataFrame:
        """One buffer snapshot as a DataFrame, through one Arrow table."""
        return self.spark.createDataFrame(_arrow_table(*cols), DATAPOINTS_SCHEMA)

    def dataframe(self) -> DataFrame:
        with self._lock:
            cols = self._buffer.snapshot()
        parts = []
        if self.base is not None:
            parts.append(self.base)
        if cols[0]:
            parts.append(self._frame(cols))
        if not parts:
            return self.spark.createDataFrame([], DATAPOINTS_SCHEMA)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def series_dim(self) -> DataFrame:
        """One row per unique (metric, tag-set): the query-able twin of the
        reference's in-memory metric→series map (tsdb.h:160-164).

        The base table's series are distilled ONCE (a distinct scan — the
        index build the reference performs at restore) and cached; after
        that, metadata endpoints touch only this O(series) table plus the
        driver-side series discovered at ingest — never the datapoints
        fact table. At 100 TB the dim is ~cardinality-of-series rows
        (millions, not trillions), so suggest/lookup stay interactive."""
        with self._lock:
            buf = list(self._series_buf.values())
        parts = []
        if self.base is not None:
            # double-checked under the lock: two concurrent first metadata
            # requests would otherwise both build + cache a dim and leak
            # the loser's cached DataFrame for the session's lifetime
            if self._series_base is None:
                dim = series_dim_from(self.base).cache()
                with self._lock:
                    if self._series_base is None:
                        self._series_base = dim
                    else:
                        dim.unpersist()
            parts.append(self._series_base)
        if buf:
            parts.append(self.spark.createDataFrame(buf, SERIES_SCHEMA))
        if not parts:
            return self.spark.createDataFrame([], SERIES_SCHEMA)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        # a series may exist in both the base table and the write buffer
        return df.dropDuplicates(["skey"]) if len(parts) > 1 else df

    def flush(self) -> int:
        """Persist the in-driver write buffer into the dt-partitioned
        parquet table backing ``base`` — the batch analogue of the
        reference flushing its in-memory page buffers to disk files
        (`src/core/ts.cpp` page flush; WAL truncation). Requires a
        ``table_path``-backed store. Buffered rows append to their day
        partitions, ``base`` re-reads the table, and the buffer clears;
        discovered series stay registered in the dim overlay (their
        skeys now also distill from the base on the next rebuild).
        Returns the number of rows flushed."""
        if self.table_path is None:
            raise ValueError("flush requires a table_path-backed store")
        # one flush at a time: two concurrent flushes would double-append
        # the same buffer prefix and the second trim would silently drop
        # rows that raced in between them
        with self._flush_lock:
            with self._lock:
                cols = self._buffer.snapshot()
            n = len(cols[0])
            if not n:
                return 0
            (
                self._frame(cols)
                .write.mode("append")
                .partitionBy("dt")
                .parquet(self.table_path)
            )
            # swap base in BEFORE draining the buffer: a concurrent reader
            # then sees the flushed rows twice (collapsed by the query-time
            # last-wins dedup — same seq, same value) rather than not at all
            self.base = self.spark.read.parquet(self.table_path)
            with self._lock:
                # only drop what was written; puts that raced in stay buffered
                self._buffer.drop_head(n)
            # the cached base-series dim predates the flushed rows; the
            # buffer overlay still covers those series, so rebuild lazily
            self.drop_series_dim()
            return n

    def purge(self, keep_days: int, today=None) -> list:
        """Retention purge over the backing table with the store's own
        DataFrames kept consistent: drops day partitions older than
        ``keep_days``, re-points ``base`` at the surviving files (an
        uncached pre-purge DataFrame would otherwise fail on the deleted
        file names — refreshByPath alone cannot fix it), and invalidates
        the cached series dim + rollups built from the purged data.
        Returns the purged partition values."""
        from ticktock_spark.maintenance import retention_purge

        if self.table_path is None:
            raise ValueError("purge requires a table_path-backed store")
        purged = retention_purge(
            self.table_path, keep_days, today=today, spark=self.spark
        )
        if purged:
            self.base = self.spark.read.parquet(self.table_path)
            self.drop_series_dim()
            if self.rollup_1h is not None or self.rollup_1d is not None:
                self.materialize_rollups()
        return purged

    def drop_series_dim(self) -> None:
        """Unpersist the cached base-series dim after ``base`` changed
        files (flush, purge, compaction); series_dim() rebuilds it lazily
        from the new base."""
        if self._series_base is not None:
            self._series_base.unpersist()
            self._series_base = None

    def context(self) -> TsdbContext:
        return TsdbContext(self.dataframe(), self.rollup_1h, self.rollup_1d)

    def materialize_rollups(self) -> None:
        """Build + cache hourly/daily rollups from the current data (the
        batch analogue of the reference's background rollup task).
        Re-materializing drops the previous cache entries first so
        repeated admin rollup commands don't accumulate cached plans."""
        for old in (self.rollup_1h, self.rollup_1d):
            if old is not None:
                old.unpersist()
        ctx = TsdbContext(self.dataframe())
        ctx.materialize_rollups()
        self.rollup_1h = ctx.rollup_1h.cache()
        self.rollup_1d = ctx.rollup_1d.cache()


class _BadRequest(Exception):
    """Maps to an HTTP 400 with an empty plain body — the reference's
    response.init(400, PLAIN) convention for malformed requests."""


class _Handler(BaseHTTPRequestHandler):
    store: TsdbStore = None  # set by server factory
    protocol_version = "HTTP/1.1"
    # TCP_NODELAY: a reply leaves as headers then body; with Nagle on, the
    # body waits for the client's delayed ACK of the headers (~40 ms)
    disable_nagle_algorithm = True

    def log_message(self, fmt, *args):  # quiet
        pass

    # -- helpers --
    def _send(self, code: int, payload, content_type="application/json"):
        body = payload if isinstance(payload, bytes) else json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> bytes:
        n = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(n) if n else b""

    # -- GET --
    def do_GET(self):
        try:
            self.store.note_http_request()
            parsed = urllib.parse.urlparse(self.path)
            params = urllib.parse.parse_qs(parsed.query)
            route = parsed.path
            if route == "/api/version":
                self._send(200, {"version": __version__, "engine": "ticktock-spark"})
            elif route == "/api/aggregators":
                self._send(200, AGGREGATORS)
            elif route == "/api/config/filters":
                self._send(200, FILTER_DESCRIPTIONS)
            elif route == "/api/config":
                conf = dict(self.store.spark.sparkContext.getConf().getAll())
                self._send(200, {k: v for k, v in conf.items() if k.startswith("spark.sql")})
            elif route == "/api/stats":
                with self.store._meter_lock:
                    meter = dict(self.store._meter)
                self._send(
                    200, {"buffered_points": len(self.store._buffer), **meter}
                )
            elif route == "/api/suggest":
                self._send(200, self._suggest(params))
            elif route == "/api/search/lookup":
                self._send(200, self._lookup(params))
            elif route == "/api/query":
                self._query(lambda: parse_query_params(params))
            elif route == "/api/analytics/stream":
                from ticktock_spark.api import analytics

                if self.store._presence is None:
                    raise _BadRequest(
                        "no streaming presence monitor attached "
                        "(TsdbStore.attach_presence)"
                    )
                op = (params.get("op") or ["gaps"])[0]
                if op != "gaps":
                    raise _BadRequest(f"unknown stream op {op!r}")
                presence, bucket_ms = self.store._presence
                df = presence() if callable(presence) else presence
                t0 = time.perf_counter()
                results = analytics.stream_gaps_op(
                    df, bucket_ms=bucket_ms, metrics=params.get("m")
                )
                self.store.note_query((time.perf_counter() - t0) * 1000.0)
                self._send_query_results(results)
            elif route == "/api/analytics":
                self._analytics(params)
            else:
                self._send(404, {"error": f"no route {route}"})
        except _BadRequest:
            # tsdb.cpp:2603-2617: malformed request → 400, plain body
            self._send(400, b"", content_type="text/plain")
        except MemoryError:
            # query.cpp:1630-1632: ENOMEM → 503, empty plain body
            self._send(503, b"", content_type="text/plain")
        except Exception as e:  # noqa: BLE001 — HTTP boundary
            self._send(500, {"error": str(e)})

    def _query(self, parse) -> None:
        """/api/query (GET and POST): ``parse()`` → TopLevelQuery, planned
        and executed on the store's current data; the timing covers parse
        through execution."""
        t0 = time.perf_counter()
        results = self.store.context().execute(parse())
        self.store.note_query((time.perf_counter() - t0) * 1000.0)
        self._send_query_results(results)

    def _analytics(self, params: dict[str, list[str]]) -> None:
        """/api/analytics (GET and POST) on parse_qs-shaped ``params``,
        served from the store's materialized rollups where the op allows;
        an op's ValueError is a malformed request (400)."""
        from ticktock_spark.api import analytics

        t0 = time.perf_counter()
        rollups = {
            g: df
            for g, df in (("1h", self.store.rollup_1h), ("1d", self.store.rollup_1d))
            if df is not None
        }
        try:
            results = analytics.execute(self.store.dataframe(), params, rollups)
        except ValueError as e:
            raise _BadRequest(str(e)) from e
        self.store.note_query((time.perf_counter() - t0) * 1000.0)
        self._send_query_results(results)

    def _send_query_results(self, results) -> None:
        """Serialize query results; over-cap responses answer 413 with an
        empty plain body, matching the reference's fixed-buffer overflow
        path (query.cpp:1641-1646)."""
        body = json.dumps([resultset_to_dict(r) for r in results]).encode()
        cap = self.store.max_response_bytes
        if cap is not None and len(body) > cap:
            self._send(413, b"", content_type="text/plain")
        else:
            self._send(200, body)

    # -- POST --
    def do_POST(self):
        try:
            self.store.note_http_request()
            parsed = urllib.parse.urlparse(self.path)
            route = parsed.path
            params = urllib.parse.parse_qs(parsed.query)
            body = self._body()
            if route == "/api/put":
                text = body.decode()
                if text.lstrip().startswith(("{", "[")):
                    dps = parse_put_json(text)
                else:
                    dps = [d for d in (parse_put_line(l) for l in text.splitlines()) if d]
                self._ingest(dps)
            elif route == "/api/write":
                now = int(time.time() * 1000)
                dps = []
                try:
                    for line in body.decode().splitlines():
                        for dp in parse_influx_line(line):
                            if dp["ts"] is None:
                                dp["ts"] = now
                            dps.append(dp)
                except (ValueError, OverflowError) as e:
                    # a timestamp token that is not a number (or is
                    # inf): the whole body is refused, nothing buffered
                    raise _BadRequest(str(e)) from e
                self._ingest(dps)
            elif route == "/api/query":
                self._query(lambda: parse_query_json(json.loads(body or b"{}")))
            elif route == "/api/analytics":
                # POST twin of the GET route (the /api/query parity):
                # a JSON object body; scalar values and lists both
                # accepted, normalized to the GET parse_qs shape
                try:
                    body_params = json.loads(body or b"{}")
                    if not isinstance(body_params, dict):
                        raise ValueError("analytics POST body must be an object")
                    norm = {
                        k: [str(x) for x in v] if isinstance(v, list) else [str(v)]
                        for k, v in body_params.items()
                    }
                except (ValueError, json.JSONDecodeError) as e:
                    raise _BadRequest(str(e)) from e
                self._analytics(norm)
            elif route == "/api/admin":
                self._admin(params)
            else:
                self._send(404, {"error": f"no route {route}"})
        except _BadRequest:
            self._send(400, b"", content_type="text/plain")
        except MemoryError:
            self._send(503, b"", content_type="text/plain")
        except Exception as e:  # noqa: BLE001
            self._send(500, {"error": str(e)})

    def _ingest(self, dps: list[dict]) -> None:
        try:
            n = self.store.add(dps)
        except ValueError as e:  # a point no `dt` can hold: nothing buffered
            raise _BadRequest(str(e)) from e
        self.store.note_ingest(n)
        self._send(200, {"success": n, "failed": 0})

    def _admin(self, params) -> None:
        """POST /api/admin?cmd=... (src/admin.cpp:52-156). Implemented:
        ping → "pong" (admin.cpp:38), stat/cfg → the stats/config dumps,
        rollup → materialize rollup tables (the reference schedules its
        background rollup task), compact&dt=YYYY-MM-DD → rewrite that day
        partition (needs a table_path-backed store). The ops commands the
        Spark runtime replaces (append/cp/gc/log/stop) answer 400 like the
        reference's error path for commands it cannot run."""
        cmd = (params.get("cmd") or [None])[0]
        if cmd is None:
            self._send(400, {"error": "cmd missing"})
        elif cmd == "ping":
            self._send(200, b"pong", content_type="text/plain")
        elif cmd == "stat":
            self._send(200, {"buffered_points": len(self.store._buffer)})
        elif cmd == "cfg":
            conf = dict(self.store.spark.sparkContext.getConf().getAll())
            self._send(200, {k: v for k, v in conf.items() if k.startswith("spark.sql")})
        elif cmd == "rollup":
            self.store.materialize_rollups()
            self._send(200, {"rollup": "materialized"})
        elif cmd == "compact":
            if self.store.table_path is None:
                self._send(400, {"error": "store has no table_path"})
                return
            dt = (params.get("dt") or [None])[0]
            from ticktock_spark.maintenance import compact_partition, list_day_partitions

            dts = [dt] if dt else list_day_partitions(self.store.table_path)
            rows = {}
            try:
                for d in dts:
                    rows[d] = compact_partition(
                        self.store.spark, self.store.table_path, d
                    )
            finally:
                # re-point base even if a later partition failed: any
                # already-swapped partition invalidated the file names the
                # old (uncached) base DataFrame binds — refreshByPath alone
                # does not fix an uncached plan. The cached series dim's
                # plan binds the same dead files (its blocks can be
                # evicted and recomputed later) — rebuild it lazily too.
                if rows and self.store.base is not None:
                    self.store.base = self.store.spark.read.parquet(
                        self.store.table_path
                    )
                    self.store.drop_series_dim()
            self._send(200, {"compacted": rows})
        elif cmd in ("append", "cp", "gc", "log", "stop"):
            self._send(400, {"error": f"cmd {cmd} not applicable to the Spark runtime"})
        else:
            self._send(400, {"error": f"unrecognized cmd: {cmd}"})

    # -- metadata endpoints --
    # both answer from store.series_dim() — O(series), like the reference's
    # metric map walk (tsdb.cpp:2595-2713, query.cpp:1477-1602) — never the
    # datapoints fact table (tests/test_plans.py pins this)
    def _suggest(self, params) -> list[str]:
        """tsdb.cpp:2596-2713 semantics: `type` and `q` are REQUIRED
        (missing → 400), unrecognized type → 400, `max` defaults to
        1000, and a metrics prefix of exactly `*` matches every
        metric."""
        if "type" not in params:
            raise _BadRequest("suggest requires type")
        if "q" not in params:
            raise _BadRequest("suggest requires q")
        typ = params["type"][0]
        q = params["q"][0]
        # the reference parses max with atoi (tsdb.cpp:2619-2624):
        # a non-numeric value yields 0 (→ empty 200), a numeric prefix
        # is honored ("12abc" → 12) — never a 500
        m = _re.match(r"[+-]?\d+", (params.get("max") or ["1000"])[0].strip())
        mx = int(m.group(0)) if m else 0
        df = self.store.series_dim()
        if typ == "metrics":
            col = df.select(F.col("metric").alias("v"))
        elif typ == "tagk":
            col = df.select(F.explode(F.map_keys("tags")).alias("v"))
        elif typ == "tagv":
            col = df.select(F.explode(F.map_values("tags")).alias("v"))
        else:
            raise _BadRequest(f"Unrecognized suggest type: {typ}")
        if not (typ == "metrics" and q == "*"):
            col = col.filter(F.col("v").startswith(q))
        # driver-bound: explicit limit(mx)
        out = col.distinct().orderBy("v").limit(mx).collect()
        return [r["v"] for r in out]

    def _lookup(self, params) -> dict:
        m = (params.get("m") or [""])[0]
        limit = int((params.get("limit") or ["25"])[0])
        start = int((params.get("startIndex") or ["0"])[0])
        metric, tag_filters = m, {}
        if "{" in m:
            metric = m[: m.index("{")]
            from ticktock_spark.plans.parser import _parse_tag_group

            tag_filters = _parse_tag_group(m[m.index("{") :])
        df = self.store.series_dim()
        if metric and metric != "*":
            df = df.filter(F.col("metric") == metric)
        if tag_filters:
            # tag filters compile to Column predicates over the dim table
            # (pushdown/codegen); paging stays driver-side, as in the
            # reference (query.cpp:1477-1602)
            df = df.filter(compile_tag_filters(F.col("tags"), tag_filters))
        # driver-bound: series-dim rows (never the fact table); paging slices below
        series = df.select(
            "metric", F.map_entries("tags").alias("te"), "tsuid"
        ).collect()
        results = [
            {
                "metric": r["metric"],
                "tags": {e["key"]: e["value"] for e in r["te"]},
                "tsuid": r["tsuid"],
            }
            for r in series
        ]
        results.sort(key=lambda s: (s["metric"], sorted(s["tags"].items())))
        page = results[start : start + limit]
        return {
            "type": "LOOKUP",
            "metric": m,
            "limit": limit,
            "startIndex": start,
            "totalResults": len(results),
            "results": page,
        }


class TsdbHttpServer:
    """ThreadingHTTPServer wrapper; serve_forever runs on a daemon thread."""

    def __init__(
        self,
        spark: SparkSession,
        base: DataFrame | None = None,
        port: int = 0,
        table_path: str | None = None,
        max_response_bytes: int | None = None,
        self_meter_interval_sec: float | None = None,
    ):
        self.store = TsdbStore(
            spark, base, table_path=table_path, max_response_bytes=max_response_bytes
        )
        handler = type("BoundHandler", (_Handler,), {"store": self.store})
        self.httpd = ThreadingHTTPServer(("127.0.0.1", port), handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None
        # self-meter timer task (the reference's Stats timer; off by
        # default like CFG_TSDB_SELF_METER_ENABLED). Tests usually call
        # store.emit_self_metrics() directly for determinism.
        self._meter_interval = self_meter_interval_sec
        self._meter_stop = threading.Event()
        self._meter_thread: threading.Thread | None = None

    def _meter_loop(self) -> None:
        while not self._meter_stop.wait(self._meter_interval):
            try:
                self.store.emit_self_metrics()
            except Exception:  # noqa: BLE001 — the meter must never kill serving
                pass

    def start(self) -> "TsdbHttpServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        if self._meter_interval:
            self._meter_thread = threading.Thread(target=self._meter_loop, daemon=True)
            self._meter_thread.start()
        return self

    def stop(self) -> None:
        self._meter_stop.set()
        if self._meter_thread is not None:
            self._meter_thread.join(timeout=5)
        self.httpd.shutdown()
        self.httpd.server_close()
