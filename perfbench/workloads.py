"""Load generators for the HTTP workload. They run in the benchmark's own
process, apart from the server process that hosts Spark, and use at most
``cores`` client threads, each with its own keep-alive HTTP connection.

They record into a ``Result``: latency samples per operation class,
counts of attempted and failed operations, the first-call times and any
workload-specific figures. A failed, refused or wrong response is a
failure; its latency is not sampled.
"""

from __future__ import annotations

import http.client
import json
import random
import threading
import time
import urllib.parse
from dataclasses import dataclass, field

import check
import datagen
from datagen import DAY_MS, HOUR_MS, MIN_MS, T0_MS

S = 1000  # ms per second


@dataclass
class Result:
    samples: dict[str, list[float]] = field(default_factory=dict)  # class -> ms
    attempted: int = 0
    failed: int = 0
    first_calls: dict[str, float] = field(default_factory=dict)  # type -> s
    extra: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def note(self, key: str, value: float) -> None:
        with self.lock:
            self.extra.setdefault(key, []).append(value)

    def record(self, cls: str | None, ms: float | None, ok: bool, why: str = "") -> None:
        with self.lock:
            self.attempted += 1
            if ok:
                if cls is not None:
                    self.samples.setdefault(cls, []).append(ms)
            else:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(why)


class Client:
    """One keep-alive connection; ``request`` returns (status, body, ms)."""

    def __init__(self, port: int):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def request(self, method: str, path: str, body: bytes | None = None):
        t0 = time.perf_counter()
        try:
            self.conn.request(method, path, body=body)
            resp = self.conn.getresponse()
            data = resp.read()
        except (OSError, http.client.HTTPException):
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            raise
        return resp.status, data, (time.perf_counter() - t0) * 1000.0

    def close(self) -> None:
        self.conn.close()


def _decode(status: int, data: bytes):
    if status != 200:
        return None, f"HTTP {status}: {data[:200]!r}"
    try:
        return json.loads(data), ""
    except ValueError as e:
        return None, f"bad JSON: {e}"


# -- dashboard reads ---------------------------------------------------------------

QUERY, META, ANALYTICS = "query", "meta", "analytics"


@dataclass
class Req:
    kind: str  # a request type name
    cls: str  # QUERY | META | ANALYTICS
    method: str
    path: str
    body: bytes | None = None
    oracle: dict | None = None  # fleet_oracle spec
    expect: object = None  # exact expected JSON (metadata requests)


def _get(path: str, **params) -> str:
    return path + "?" + urllib.parse.urlencode(params, safe="{}*:,=")


def dash_requests(seed: int, days: int) -> list[Req]:
    """One request per type, parameters drawn from the seed."""
    rng = random.Random(seed)
    day = rng.randrange(8, days - 2)
    t_day = T0_MS + day * DAY_MS
    t_hour = t_day + rng.randrange(0, 23) * HOUR_MS
    host = rng.choice(datagen.HOSTS)
    dc = f"dc{rng.randrange(datagen.N_DCS)}"
    dc_hosts = sorted(h for h in datagen.HOSTS if datagen.host_dc(h) == dc)
    s = lambda ms: ms // S  # noqa: E731 — seconds for GET params
    return [
        Req("avg_1m_1h_wildcard", QUERY, "GET",
            _get("/api/query", start=s(t_hour), end=s(t_hour + HOUR_MS),
                 m="avg:1m-avg:sys.cpu.user{host=*}"),
            oracle=dict(metric="sys.cpu.user", start_ms=t_hour, end_ms=t_hour + HOUR_MS,
                        interval_ms=MIN_MS, ds_func="avg", agg="avg", group=["host"])),
        Req("sum_5m_by_dc_1d", QUERY, "POST", "/api/query",
            json.dumps({"start": s(t_day), "end": s(t_day + DAY_MS), "queries": [
                {"metric": "sys.mem.used", "aggregator": "sum",
                 "downsample": "5m-avg", "tags": {"dc": "*"}}]}).encode(),
            oracle=dict(metric="sys.mem.used", start_ms=t_day, end_ms=t_day + DAY_MS,
                        interval_ms=5 * MIN_MS, ds_func="avg", agg="sum", group=["dc"])),
        Req("rate_counter", QUERY, "GET",
            _get("/api/query", start=s(t_hour), end=s(t_hour + 6 * HOUR_MS),
                 m=f"sum:rate{{counter}}:{datagen.COUNTER}{{host={host}}}")),
        Req("avg_1h_7d_rollup", QUERY, "GET",
            _get("/api/query", start=s(t_day - 7 * DAY_MS), end=s(t_day),
                 m=f"avg:1h-avg:sys.cpu.user{{dc={dc}}}"),
            oracle=dict(metric="sys.cpu.user", start_ms=t_day - 7 * DAY_MS, end_ms=t_day,
                        interval_ms=HOUR_MS, ds_func="avg", agg="avg", group=["dc"],
                        tag_filter={"dc": dc})),
        Req("avg_1d_30d_rollup", QUERY, "POST", "/api/query",
            json.dumps({"start": s(T0_MS), "end": s(T0_MS + (days - 1) * DAY_MS), "queries": [
                {"metric": "app.latency", "aggregator": "avg", "downsample": "1d-avg"}]}).encode(),
            oracle=dict(metric="app.latency", start_ms=T0_MS, end_ms=T0_MS + (days - 1) * DAY_MS,
                        interval_ms=DAY_MS, ds_func="avg", agg="avg", group=[])),
        Req("top3_1h_1d", QUERY, "GET",
            _get("/api/query", start=s(t_day), end=s(t_day + DAY_MS),
                 m="top3:1h-avg:app.latency")),
        Req("p95_10m_1d", QUERY, "GET",
            _get("/api/query", start=s(t_day), end=s(t_day + DAY_MS),
                 m=f"avg:10m-p95:app.latency{{dc={dc}}}")),
        Req("sum_0all_1d", QUERY, "GET",
            _get("/api/query", start=s(t_day), end=s(t_day + DAY_MS),
                 m="sum:0all-sum:sys.mem.used{host=*}"),
            oracle=dict(metric="sys.mem.used", start_ms=t_day, end_ms=t_day + DAY_MS,
                        interval_ms=0, ds_func="sum", agg="sum", group=["host"])),
        Req("suggest_tagv", META, "GET",
            _get("/api/suggest", type="tagv", q="h", max=100),
            expect=sorted(datagen.HOSTS)),
        Req("lookup_dc", META, "GET",
            _get("/api/search/lookup", m=f"sys.cpu.user{{dc={dc}}}"), expect=dc_hosts),
        Req("analytics_trend_1h", ANALYTICS, "GET",
            _get("/api/analytics", op="trend", m="sys.cpu.user", grain="1h",
                 bucket_ms=HOUR_MS)),
    ]


def _lookup_hosts(res) -> list:
    return sorted(r["tags"].get("host") for r in res.get("results", []))


def dash_prepass(port: int, reqs: list[Req], table: str, res: Result) -> list:
    """Single client, one request of each type: the first-call times, the
    reference answers for the loaded phase, and the oracle checks."""
    import duckdb

    cli = Client(port)
    replies = []
    try:
        for r in reqs:
            status, data, ms = cli.request(r.method, r.path, r.body)
            res.first_calls[r.kind] = ms / S
            replies.append(_decode(status, data))
    finally:
        cli.close()
    con = duckdb.connect(config={"threads": 1})
    try:
        for r, (body, why) in zip(reqs, replies):
            if body is None:
                ok = False
            elif r.oracle is not None:
                ok = check.close(check.result_core(body),
                                 check.fleet_oracle(con, table, r.oracle))
            elif r.kind == "lookup_dc":
                ok = _lookup_hosts(body) == r.expect and body["totalResults"] == len(r.expect)
            elif r.expect is not None:
                ok = body == r.expect
            else:  # checked against this answer in the loaded phase
                ok = isinstance(body, list) and len(body) > 0
            res.record(None, None, ok, f"{r.kind}: {why or 'differs from its oracle'}")
    finally:
        con.close()
    return [body for body, _ in replies]


def dash_loop(port: int, reqs: list[Req], expected: list, seed: int, clients: int,
              deadline: float, res: Result) -> float:
    """Closed loop: ``clients`` threads each cycle through one seeded order
    of the request types (each ``/api/query`` type listed twice), each from
    its own offset and each next request after the previous reply, until
    ``deadline``. Every response must equal its
    pre-pass answer. Returns wall seconds."""
    cycle = [i for i, r in enumerate(reqs) for _ in range(2 if r.cls == QUERY else 1)]
    random.Random(seed).shuffle(cycle)

    def worker(w: int):
        cli = Client(port)
        n = w * len(cycle) // clients
        try:
            while time.perf_counter() < deadline:
                i = cycle[n % len(cycle)]
                n += 1
                r = reqs[i]
                try:
                    status, data, ms = cli.request(r.method, r.path, r.body)
                except (OSError, http.client.HTTPException) as e:
                    res.record(r.cls, None, False, f"{r.kind}: {e!r}")
                    continue
                body, why = _decode(status, data)
                ok = body is not None and check.close(body, expected[i])
                res.record(r.cls, ms, ok, f"{r.kind}: {why or 'differs from pre-pass'}")
                if ok:
                    res.note(r.kind, ms)
                if ok and r.cls == QUERY:
                    res.note("resp_bytes", len(data))
        finally:
            cli.close()

    t0 = time.perf_counter()
    threads = [threading.Thread(target=worker, args=(w,)) for w in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


# -- ingest -------------------------------------------------------------------

FORMATS = ("telnet", "json", "influx")
LIVE_METRICS = ("live.cpu", "live.mem", "live.net", "live.lat")


class Timeline:
    """The points the writer sends: batch ``k`` holds minutes
    ``k*MINUTES_PER_BATCH`` .. ``(k+1)*MINUTES_PER_BATCH - 1`` of the days
    after the base table for every ``LIVE_METRICS`` x host series (metrics
    the dashboard's historical requests never read); its wire format
    rotates telnet -> JSON -> Influx. Values are a function of (seed, minute)."""

    def __init__(self, seed: int, base_days: int, minutes_per_batch: int):
        self.seed = seed
        self.t0 = T0_MS + base_days * DAY_MS
        self.mpb = minutes_per_batch
        self.acked = -1  # highest minute whose batch was acknowledged
        self.lock = threading.Lock()

    def minute(self, j: int) -> list[tuple[str, str, int, float]]:
        rng = random.Random(self.seed * 1_000_003 + j)
        ts = self.t0 + j * MIN_MS
        return [(m, h, ts, round(rng.uniform(0.0, 100.0), 2))
                for m in LIVE_METRICS for h in datagen.HOSTS]

    def points(self, k: int) -> list[tuple[str, str, int, float]]:
        return [p for j in range(k * self.mpb, (k + 1) * self.mpb) for p in self.minute(j)]

    def request(self, k: int) -> tuple[str, bytes, int]:
        fmt = FORMATS[k % 3]
        pts = self.points(k)
        if fmt == "telnet":
            body = "\n".join(
                f"put {m} {ts} {v!r} host={h} dc={datagen.host_dc(h)}" for m, h, ts, v in pts)
            return "/api/put", body.encode(), len(pts)
        if fmt == "json":
            body = json.dumps([{"metric": m, "timestamp": ts, "value": v,
                                "tags": {"host": h, "dc": datagen.host_dc(h)}}
                               for m, h, ts, v in pts])
            return "/api/put", body.encode(), len(pts)
        body = "\n".join(
            f"{m},host={h},dc={datagen.host_dc(h)} value={v!r} {ts * 1_000_000}"
            for m, h, ts, v in pts)
        return "/api/write", body.encode(), len(pts)

    def value(self, metric: str, host: str, j: int) -> float:
        for m, h, _, v in self.minute(j):
            if m == metric and h == host:
                return v
        raise KeyError((metric, host, j))

    def ack(self, k: int) -> None:
        with self.lock:
            self.acked = max(self.acked, (k + 1) * self.mpb - 1)


def put(cli: Client, tl: Timeline, k: int, res: Result, cls: str | None,
        due: float | None = None, req: tuple[str, bytes, int] | None = None) -> int:
    """Send batch ``k`` (``req``: its ``tl.request(k)``, if already built);
    an open-loop batch's latency counts from ``due``."""
    path, body, n = req or tl.request(k)
    try:
        status, data, ms = cli.request("POST", path, body)
    except (OSError, http.client.HTTPException) as e:
        res.record(cls, None, False, f"put {k}: {e!r}")
        return 0
    reply, why = _decode(status, data)
    ok = reply is not None and reply.get("success") == n and reply.get("failed") == 0
    if due is not None:
        ms = (time.perf_counter() - due) * 1000.0
    res.record(cls, ms, ok, f"put {k}: {why or reply}")
    if ok:
        tl.ack(k)
    return n if ok else 0


def live_query(cli: Client, tl: Timeline, res: Result, rng: random.Random,
               cls: str | None) -> None:
    """Live-tail query over the last 30 written minutes of one live metric,
    per host. Every minute acknowledged before it was sent must read back
    exactly as written (read-your-write)."""
    with tl.lock:
        acked = tl.acked
    metric = rng.choice(LIVE_METRICS)
    lo = max(0, acked - 29)
    start, end = tl.t0 + lo * MIN_MS, tl.t0 + acked * MIN_MS
    path = _get("/api/query", start=start, end=end, ms="true",
                m=f"avg:1m-avg:{metric}{{host=*}}")
    try:
        status, data, ms = cli.request("GET", path)
    except (OSError, http.client.HTTPException) as e:
        res.record(cls, None, False, f"live query: {e!r}")
        return
    body, why = _decode(status, data)
    ok, why = (False, why) if body is None else _check_live(body, tl, metric, lo, acked)
    res.record(cls, ms, ok, f"live query: {why}")


def _check_live(body, tl: Timeline, metric: str, lo: int, hi: int) -> tuple[bool, str]:
    by_host = {r["tags"].get("host"): r["dps"] for r in body if isinstance(r, dict)}
    for h in datagen.HOSTS:
        dps = by_host.get(h)
        if dps is None:
            return False, f"{metric} host {h} missing"
        for k in range(lo, hi + 1):
            got, want = dps.get(str(tl.t0 + k * MIN_MS)), tl.value(metric, h, k)
            if got != want:
                return False, f"{metric} {h} minute {k}: {got} != {want}"
    return True, ""


def ingest_first_calls(port: int, tl: Timeline, res: Result) -> int:
    """First request of each ingest type: one batch per wire format, then
    one live-tail query. Returns the next batch number."""
    cli = Client(port)
    try:
        for k, fmt in enumerate(FORMATS):
            t0 = time.perf_counter()
            put(cli, tl, k, res, None)
            res.first_calls[f"put_{fmt}"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        live_query(cli, tl, res, random.Random(tl.seed), None)
        res.first_calls["live_tail"] = time.perf_counter() - t0
    finally:
        cli.close()
    return len(FORMATS)


def open_loop(cli: Client, tl: Timeline, k: int, rate: float, res: Result, cls: str,
              late: list[float], go) -> int:
    """Batches from ``k`` at ``rate`` per second while ``go(i)`` holds for
    the ``i``-th; each one's latency counts from its due time, and its body
    is built before then. Latencies go to class ``<cls>.<wire format>``.
    Returns the next batch number."""
    t0 = time.perf_counter()
    i = 0
    while go(i):
        req = tl.request(k)
        due = t0 + i / rate
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        late.append(max(0.0, time.perf_counter() - due) * 1000.0)
        put(cli, tl, k, res, f"{cls}.{FORMATS[k % 3]}", due, req)
        k, i = k + 1, i + 1
    return k


def ingest(port: int, tl: Timeline, k0: int, alone_puts: int, prefill: int, rate: float,
           open_s: float, min_live: int, res: Result) -> dict:
    """The writer alone: ``alone_puts`` batches open loop at ``rate``
    batches/s (class ``put_alone``), then closed loop until ``prefill``
    points are acknowledged in all (the burst: ``put_dps``, and a filled
    write buffer); then writes beside reads: the open-loop writer (class
    ``put``) beside one closed-loop live-tail reader for ``open_s`` seconds,
    or longer until the reader has made ``min_live`` queries. Returns
    generator-side figures."""
    late: list[float] = []
    cli = Client(port)
    try:
        k = open_loop(cli, tl, k0, rate, res, "put_alone", late, lambda i: i < alone_puts)
        points = sum(len(tl.points(j)) for j in range(k0, k))
        b0 = time.perf_counter()
        burst = 0
        while points + burst < prefill:
            n = put(cli, tl, k, res, None)
            if not n:
                break  # counted as failed; the buffer will not fill
            burst += n
            k += 1
        burst_s = time.perf_counter() - b0
        open_until = time.perf_counter() + open_s
        done = threading.Event()

        def reader():
            rng = random.Random(tl.seed + 7)
            rcli = Client(port)
            try:
                n = 0
                while time.perf_counter() < open_until or n < min_live:
                    live_query(rcli, tl, res, rng, "live")
                    n += 1
            finally:
                rcli.close()
                done.set()

        rd = threading.Thread(target=reader)
        rd.start()
        try:
            k = open_loop(cli, tl, k, rate, res, "put", late, lambda i: not done.is_set())
        finally:
            rd.join()
    finally:
        cli.close()
    return {"late_ms": sum(late) / len(late) if late else 0.0, "burst_points": burst,
            "burst_s": burst_s, "puts": k - k0}
