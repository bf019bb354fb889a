"""HTTP facade integration: write via /api/put (telnet + JSON + Influx),
query via GET/POST /api/query, metadata endpoints — mirrors the
reference's integration-test round-trips (int_test3.py Basic_Query)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from ticktock_spark.api.http import TsdbHttpServer


@pytest.fixture(scope="module")
def server(spark):
    s = TsdbHttpServer(spark).start()
    yield s
    s.stop()


def _post(server, path, body: str):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}", data=body.encode(), method="POST"
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


def _get(server, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{server.port}{path}") as r:
        return json.loads(r.read())


def test_http_round_trip(server):
    # telnet put
    r = _post(
        server,
        "/api/put",
        "put test.metric 1704067200 10 host=host1\n"
        "put test.metric 1704067260 20 host=host1\n"
        "put test.metric 1704067200 30 host=host2\n",
    )
    assert r["success"] == 3
    # JSON put
    r = _post(
        server,
        "/api/put",
        json.dumps({"metric": "test.metric", "timestamp": 1704067260, "value": 40,
                    "tags": {"host": "host2"}}),
    )
    assert r["success"] == 1
    # influx write
    r = _post(server, "/api/write", "env,room=a temp=21.5,hum=40 1704067200000000000")
    assert r["success"] == 2

    # GET query: m=avg:test.metric{host=host1} (query.sh shape)
    res = _get(
        server,
        "/api/query?start=1704067000&end=1704068000&m=avg:test.metric%7Bhost=host1%7D",
    )
    assert len(res) == 1
    assert res[0]["tags"] == {"host": "host1"}
    assert res[0]["dps"] == {"1704067200": 10.0, "1704067260": 20.0}

    # POST query: sum across hosts
    res = _post(
        server,
        "/api/query",
        json.dumps(
            {
                "start": 1704067000,
                "end": 1704068000,
                "queries": [{"metric": "test.metric", "aggregator": "sum"}],
            }
        ),
    )
    assert res[0]["aggregateTags"] == ["host"]
    assert res[0]["dps"] == {"1704067200": 40.0, "1704067260": 60.0}

    # influx series got the _field tag
    res = _get(server, "/api/query?start=1704067000&end=1704068000&m=none:env")
    fields = {rs["tags"]["_field"] for rs in res}
    assert fields == {"temp", "hum"}


def test_http_multi_query_post(server):
    # one POST, array of sub-queries sharing start/end — results concatenated
    # in sub-query order (query.cpp:1346-1453)
    res = _post(
        server,
        "/api/query",
        json.dumps(
            {
                "start": 1704067000,
                "end": 1704068000,
                "queries": [
                    {"metric": "test.metric", "aggregator": "sum"},
                    {"metric": "test.metric", "aggregator": "avg",
                     "tags": {"host": "host1"}},
                ],
            }
        ),
    )
    assert len(res) == 2
    assert res[0]["dps"] == {"1704067200": 40.0, "1704067260": 60.0}
    assert res[1]["tags"] == {"host": "host1"}
    assert res[1]["dps"] == {"1704067200": 10.0, "1704067260": 20.0}


def test_http_metadata(server):
    assert "avg" in _get(server, "/api/aggregators")
    sugg = _get(server, "/api/suggest?type=metrics&q=test&max=10")
    assert sugg == ["test.metric"]
    assert "host" in _get(server, "/api/suggest?type=tagk&q=h")
    # reference semantics (tsdb.cpp:2596-2713): q='*' on metrics matches
    # everything; missing type/q and unknown type are 400s
    import urllib.error

    star = _get(server, "/api/suggest?type=metrics&q=*")
    assert "test.metric" in star and "env" in star
    # max is parsed with atoi semantics (tsdb.cpp:2619-2624): a
    # non-numeric max yields 0 → empty 200 (never a 500); a numeric
    # prefix is honored
    assert _get(server, "/api/suggest?type=metrics&q=test&max=abc") == []
    assert _get(server, "/api/suggest?type=metrics&q=test&max=10x") == [
        "test.metric"
    ]
    for bad in (
        "/api/suggest?q=x",
        "/api/suggest?type=metrics",
        "/api/suggest?type=bogus&q=x",
    ):
        try:
            _get(server, bad)
            raise AssertionError(f"{bad} should 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    look = _get(server, "/api/search/lookup?m=test.metric")
    assert look["totalResults"] == 2
    # every series carries a non-empty deterministic tsuid surrogate
    # (the reference emits a real tsuid per series, query.cpp:1477-1602)
    from ticktock_spark.schema import series_key, series_tsuid

    tsuids = {r["tsuid"] for r in look["results"]}
    assert len(tsuids) == 2 and "" not in tsuids
    for r in look["results"]:
        assert r["tsuid"] == series_tsuid(series_key(r["metric"], r["tags"]))
    # stable across calls
    again = _get(server, "/api/search/lookup?m=test.metric")
    assert {r["tsuid"] for r in again["results"]} == tsuids
    look = _get(server, "/api/search/lookup?m=test.metric%7Bhost=host1%7D")
    assert look["totalResults"] == 1
    filt = _get(server, "/api/config/filters")
    assert "wildcard" in filt and "regexp" in filt
    assert _get(server, "/api/version")["engine"] == "ticktock-spark"


def test_http_admin(spark, tmp_path):
    """POST /api/admin (src/admin.cpp:52-156): ping/stat/cfg/rollup/compact
    wired to the existing maintenance + rollup functions; ops commands the
    Spark runtime replaces answer 400."""
    import urllib.error

    from pyspark.sql import functions as F

    # a dt-partitioned parquet table with 2 files in the partition
    rows = [("cpu", 1704067200000 + i * 3_600_000, float(i), {"host": "a"}, i)
            for i in range(4)]
    schema = "metric string, ts long, value double, tags map<string,string>, seq long"
    df = spark.createDataFrame(rows, schema).withColumn(
        "dt", F.to_date(F.timestamp_millis(F.col("ts")))
    )
    path = str(tmp_path / "dps")
    df.repartition(2).write.partitionBy("dt").parquet(path)
    base = spark.read.parquet(path)
    srv = TsdbHttpServer(spark, base=base, table_path=path).start()
    try:
        # ping → raw "pong" (admin.cpp:38)
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/api/admin?cmd=ping", data=b"", method="POST"
        )
        with urllib.request.urlopen(req) as r:
            assert r.read() == b"pong"
        assert "buffered_points" in _post(srv, "/api/admin?cmd=stat", "")
        assert _post(srv, "/api/admin?cmd=rollup", "") == {"rollup": "materialized"}
        # rollup-eligible query is now answered from the materialized rollup
        res = _get(
            srv,
            "/api/query?start=1704067200&end=1704081600&m=none:2h-avg:cpu",
        )
        assert res[0]["dps"] == {"1704067200": 0.5, "1704074400": 2.5}
        r = _post(srv, "/api/admin?cmd=compact&dt=2024-01-01", "")
        assert r["compacted"] == {"2024-01-01": 4}
        part = tmp_path / "dps" / "dt=2024-01-01"
        assert len(list(part.glob("*.parquet"))) == 1
        for cmd in ("gc", "stop", "bogus", ""):
            with pytest.raises(urllib.error.HTTPError) as ei:
                _post(srv, f"/api/admin?cmd={cmd}" if cmd else "/api/admin", "")
            assert ei.value.code == 400
    finally:
        srv.stop()


def test_lookup_filter_pushdown(server, monkeypatch):
    """/api/search/lookup compiles tag filters into the DataFrame plan —
    no Python-side filtering of collected series (VERDICT r01 #3)."""
    from ticktock_spark.plans import tagfilter

    def boom(*a, **k):
        raise AssertionError("python_filter used in lookup path")

    monkeypatch.setattr(tagfilter, "python_filter", boom)
    look = _get(server, "/api/search/lookup?m=test.metric%7Bhost=wildcard(host*)%7D")
    assert look["totalResults"] == 2
    look = _get(server, "/api/search/lookup?m=test.metric%7Bhost=host2%7D")
    assert look["totalResults"] == 1
    assert look["results"][0]["tags"]["host"] == "host2"


def test_http_response_too_large_413(spark):
    """Over-cap query responses answer 413 with an empty plain body —
    the reference's fixed response buffer overflow (query.cpp:1641-1646);
    under-cap responses are unaffected."""
    import urllib.error

    srv = TsdbHttpServer(spark, max_response_bytes=64).start()
    try:
        _post(srv, "/api/put", "put big.metric 1704067200 10 host=h1\n"
                               "put big.metric 1704067260 20 host=h1\n")
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(srv, "/api/query?start=1704067000&end=1704068000&m=avg:big.metric")
        assert ei.value.code == 413
        assert ei.value.read() == b""
        # a tiny response (no series matched -> []) still fits
        assert _get(srv, "/api/query?start=1&end=2&m=avg:big.metric") == []
    finally:
        srv.stop()


def test_store_flush_persists_buffer(spark, tmp_path):
    """TsdbStore.flush: buffered puts land in the dt-partitioned parquet
    table (the reference's page-flush analogue), the buffer drains, query
    results and the series dim are identical before and after, and tsuids
    stay stable across the flush."""
    from ticktock_spark.api.http import TsdbStore

    store = TsdbStore(spark, table_path=str(tmp_path / "dps"))
    store.add(
        [
            {"metric": "m", "ts": 1704067200000, "value": 1.0, "tags": {"h": "a"}},
            {"metric": "m", "ts": 1704153600000, "value": 2.0, "tags": {"h": "b"}},
        ]
    )
    before_dim = {(r["skey"], r["tsuid"]) for r in store.series_dim().collect()}
    assert store.flush() == 2
    assert store.flush() == 0  # drained
    assert len(store._buffer) == 0
    disk = spark.read.parquet(str(tmp_path / "dps"))
    assert disk.count() == 2
    assert {str(r["dt"]) for r in disk.select("dt").collect()} == {
        "2024-01-01", "2024-01-02",
    }
    df = store.dataframe()
    assert df.count() == 2 and {r["value"] for r in df.collect()} == {1.0, 2.0}
    after_dim = {(r["skey"], r["tsuid"]) for r in store.series_dim().collect()}
    assert after_dim == before_dim
    # new puts after a flush keep working against the re-read base
    store.add([{"metric": "m", "ts": 1704067260000, "value": 3.0, "tags": {"h": "a"}}])
    assert store.dataframe().count() == 3
    assert store.flush() == 1


def test_store_dt_is_utc_day_of_ts(spark):
    """The buffer's vectorized ``dt`` equals the UTC date of ``ts`` for
    pre-1970, day-boundary and millisecond-resolution timestamps."""
    import datetime as _dt

    from ticktock_spark.api.http import TsdbStore

    day = 86_400_000
    tss = [
        -1, -day, -day - 1, -86_399_999, -1_234_567_891_234, 0, 1,
        day - 1, day, day + 1, 1704067199999, 1704067200000, 1704067200001,
        1706745600123, -62_135_596_800_000, 253_402_300_799_999,
    ]
    store = TsdbStore(spark)
    store.add([{"metric": "m", "ts": t, "value": 1.0, "tags": {"h": "a"}} for t in tss])
    got = {r["ts"]: r["dt"] for r in store.dataframe().collect()}
    epoch = _dt.datetime(1970, 1, 1)
    assert got == {t: (epoch + _dt.timedelta(milliseconds=t)).date() for t in tss}
    # the same as the per-point conversion, where it is defined
    for t in tss[:-2]:
        assert got[t] == _dt.datetime.utcfromtimestamp(t / 1000).date(), t


def test_store_last_wins_nan_inf_and_buffer_len(spark, tmp_path):
    """An overwrite of a buffered point wins by ``seq`` before and after a
    flush; NaN and +-Inf come back as themselves (not NULL); ``len()`` of
    the buffer is the buffered row count, and a flush drains exactly the
    rows it wrote."""
    import math

    from ticktock_spark.api.http import TsdbStore
    from ticktock_spark.operators.dedup import dedup_last_wins

    T = 1704067200000
    store = TsdbStore(spark, table_path=str(tmp_path / "dps"))
    assert len(store._buffer) == 0
    store.add(
        [
            {"metric": "m", "ts": T, "value": 1.0, "tags": {"h": "a", "dc": "x"}},
            {"metric": "m", "ts": T + 1, "value": float("nan"), "tags": {"h": "a", "dc": "x"}},
            {"metric": "m", "ts": T + 2, "value": float("inf"), "tags": {"h": "a", "dc": "x"}},
            {"metric": "m", "ts": T + 3, "value": float("-inf"), "tags": {"h": "a", "dc": "x"}},
        ]
    )
    # the same series with its tags in the other order overwrites ts=T
    store.add([{"metric": "m", "ts": T, "value": 2.0, "tags": {"dc": "x", "h": "a"}}])
    assert len(store._buffer) == 5

    def check():
        got = {
            r["ts"]: r["value"]
            for r in dedup_last_wins(store.dataframe(), ["metric"]).collect()
        }
        assert got[T] == 2.0
        assert math.isnan(got[T + 1])
        assert got[T + 2] == math.inf and got[T + 3] == -math.inf

    check()
    assert [r["seq"] for r in store.dataframe().orderBy("seq").collect()] == [1, 2, 3, 4, 5]
    assert store.flush() == 5
    assert len(store._buffer) == 0
    check()
    store.add([{"metric": "m", "ts": T, "value": 3.0, "tags": {"h": "a", "dc": "x"}}])
    assert len(store._buffer) == 1
    got = dedup_last_wins(store.dataframe(), ["metric"]).filter(f"ts = {T}").collect()
    assert [(r["value"], r["seq"]) for r in got] == [(3.0, 6)]


def test_store_concurrent_adds_keep_columns_aligned():
    """More writer threads than cores, with a tiny switch interval: every
    buffered row's columns still belong to one point, seqs are 1..n, and
    each writer's points keep their order (a batch appends its columns
    under the store lock as one step)."""
    import sys
    import threading

    from ticktock_spark.api.http import TsdbStore

    T, n_threads, n_batches, per = 1704067200000, 12, 40, 10
    store = TsdbStore(None)

    def worker(w):
        for i in range(n_batches):
            store.add([
                {"metric": f"m{w}", "ts": T + i * per + j,
                 "value": float(w * 10_000 + i * per + j), "tags": {"w": str(w)}}
                for j in range(per)
            ])

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(n_threads)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    metric, ts, value, tags, seq = store._buffer.snapshot()
    n = n_threads * n_batches * per
    assert len(store._buffer) == n and store._seq == n
    assert sorted(seq) == list(range(1, n + 1))
    last = {}
    for m, t, v, tg, s in zip(metric, ts, value, tags, seq):
        w = int(tg["w"])
        assert m == f"m{w}" and v == float(w * 10_000 + t - T)
        prev_t, prev_s = last.get(w, (-1, 0))
        assert prev_t < t and prev_s < s
        last[w] = (t, s)
    assert len(store._series_buf) == n_threads


def test_put_unrepresentable_timestamp_is_400_and_buffers_nothing(spark):
    """A batch whose later point has a timestamp no ``dt`` can hold, or
    an Influx line whose timestamp is not a number, is refused whole:
    HTTP 400 with an empty body, nothing buffered, and the ingest
    ``seq`` unchanged (no partial write of the earlier points)."""
    import urllib.error

    srv = TsdbHttpServer(spark).start()
    try:
        assert _post(srv, "/api/put", "put m 1700000000 0 host=a")["success"] == 1
        n0, seq0 = len(srv.store._buffer), srv.store._seq
        bodies = [
            ("/api/put", "put m 1700000000 1 host=a\nput m -99999999999 2 host=a"),
            ("/api/put", json.dumps([
                {"metric": "m", "timestamp": 1700000000, "value": 1, "tags": {"host": "a"}},
                {"metric": "m", "timestamp": -99999999999, "value": 2, "tags": {"host": "a"}},
            ])),
            ("/api/write", "m,host=a value=1 1700000000000000000\nm,host=a value=2 -99999999999"),
            # a timestamp token that is not a number, or is inf
            ("/api/write", "m,host=a value=1 1700000000000000000\nm value=1 abc"),
            ("/api/write", "m value=1 inf"),
        ]
        for path, body in bodies:
            with pytest.raises(urllib.error.HTTPError) as ei:
                _post(srv, path, body)
            assert ei.value.code == 400 and ei.value.read() == b""
            assert (len(srv.store._buffer), srv.store._seq) == (n0, seq0)
        assert _post(srv, "/api/put", "put m 1700000060 3 host=a")["success"] == 1
        assert srv.store._seq == seq0 + 1
    finally:
        srv.stop()


def test_series_with_delimiters_in_tags_stay_distinct(spark):
    """``{a: '1,b=2'}`` and ``{a: '1', b: '2'}`` are two series: the
    canonical series key escapes ``,``, ``=`` and ``\\``, so last-wins
    dedup keeps both points at the same timestamp, and the per-series
    analytics labels decode back to each series' own tags."""
    srv = TsdbHttpServer(spark).start()
    try:
        body = (
            "put m 1700000000 1 a=1,b=2\n"
            "put m 1700000000 2 a=1 b=2\n"
            "put m 1700000000 3 a=x\\,y\n"
            "put m 1700000000 4 a=x\\ y=z\n"
        )
        assert _post(srv, "/api/put", body)["success"] == 4
        res = _post(
            srv,
            "/api/query",
            json.dumps(
                {
                    "start": 1699999999,
                    "end": 1700000001,
                    "queries": [{"metric": "m", "aggregator": "none"}],
                }
            ),
        )
        got = sorted(
            (json.dumps(r["tags"], sort_keys=True), r["dps"]["1700000000"])
            for r in res
        )
        want = [
            ({"a": "1", "b": "2"}, 2.0),
            ({"a": "1,b=2"}, 1.0),
            ({"a": "x\\", "y": "z"}, 4.0),
            ({"a": "x\\,y"}, 3.0),
        ]
        assert got == sorted((json.dumps(t, sort_keys=True), v) for t, v in want)
        res = _get(srv, "/api/analytics?op=trend&m=m&by_series=true")
        tags = sorted(json.dumps(r["tags"], sort_keys=True) for r in res)
        assert tags == sorted(json.dumps(t, sort_keys=True) for t, _ in want)
    finally:
        srv.stop()


def test_lookup_keeps_series_with_delimiters_in_tags_apart(spark, tmp_path):
    """``{a: '1,b=2'}`` and ``{a: '1', b: '2'}`` are two series in the
    series dimension too: /api/search/lookup returns both, with distinct
    tsuids, from the write buffer and again after a flush."""
    from ticktock_spark.schema import series_key, series_tsuid

    srv = TsdbHttpServer(spark, table_path=str(tmp_path / "dps")).start()
    try:
        body = "put m 1700000000 1 a=1,b=2\nput m 1700000000 2 a=1 b=2\n"
        assert _post(srv, "/api/put", body)["success"] == 2
        for flushed in (False, True):
            if flushed:
                assert srv.store.flush() == 2
            look = _get(srv, "/api/search/lookup?m=m")
            assert look["totalResults"] == 2, flushed
            got = sorted(json.dumps(r["tags"], sort_keys=True) for r in look["results"])
            assert got == sorted(
                json.dumps(t, sort_keys=True) for t in ({"a": "1,b=2"}, {"a": "1", "b": "2"})
            )
            tsuids = {r["tsuid"] for r in look["results"]}
            assert tsuids == {
                series_tsuid(series_key("m", r["tags"])) for r in look["results"]
            }
            assert len(tsuids) == 2
    finally:
        srv.stop()


def test_keepalive_replies_leave_without_delay(server):
    """Each reply leaves at once: 20 sequential keep-alive /api/version
    requests on one connection take a median well under the ~40 ms a
    delayed ACK adds when the body waits behind the headers."""
    import http.client
    import statistics
    import time

    conn = http.client.HTTPConnection("127.0.0.1", server.port)
    times = []
    try:
        for _ in range(20):
            t0 = time.perf_counter()
            conn.request("GET", "/api/version")
            r = conn.getresponse()
            r.read()
            times.append((time.perf_counter() - t0) * 1000.0)
            assert r.status == 200
    finally:
        conn.close()
    assert statistics.median(times) < 10.0, times


def test_http_full_lifecycle(spark, tmp_path):
    """Day-in-the-life composition on one table_path-backed store: HTTP
    puts (with a duplicate timestamp) → flush to the dt-partitioned table
    → clustered admin compact → rollup materialize + routed query →
    retention purge. Each transition must leave query results correct —
    in particular last-wins dedup must survive flush + the clustered
    rewrite (dup rows share (skey, ts); only `seq` disambiguates)."""
    import datetime as dt

    path = str(tmp_path / "dps")
    srv = TsdbHttpServer(spark, table_path=path).start()
    T = 1_704_067_200  # 2024-01-01 sec epoch
    try:
        lines = [
            f"put cpu {T + d * 86400 + h * 3600} {float(h)} host=a"
            for d in range(2)
            for h in range(4)
        ]
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == 8
        # duplicate timestamp, later ingest — must win everywhere below
        assert _post(srv, "/api/put", f"put cpu {T} 99 host=a")["success"] == 1

        assert srv.store.flush() == 9
        r = _post(srv, "/api/admin?cmd=compact&dt=2024-01-01", "")
        assert r["compacted"] == {"2024-01-01": 5}  # 4 points + 1 dup row

        res = _get(srv, f"/api/query?start={T}&end={T + 2 * 86400}&m=none:cpu")
        dps = res[0]["dps"]
        assert dps[str(T)] == 99.0  # last-wins survived flush + clustered rewrite
        assert len(dps) == 8

        _post(srv, "/api/admin?cmd=rollup", "")
        res = _get(srv, f"/api/query?start={T + 7200}&end={T + 14400}&m=none:2h-avg:cpu")
        assert res[0]["dps"] == {str(T + 7200): 2.5}  # avg(2,3) from the rollup

        # store.purge keeps base / series dim / rollups consistent with
        # the surviving files (a bare retention_purge would leave the
        # store's uncached base bound to the deleted file names)
        purged = srv.store.purge(keep_days=1, today=dt.date(2024, 1, 3))
        assert purged == ["2024-01-01"]
        res = _get(srv, f"/api/query?start={T}&end={T + 2 * 86400}&m=none:cpu")
        remaining = res[0]["dps"]
        assert len(remaining) == 4 and str(T) not in remaining
    finally:
        srv.stop()


def test_nan_inf_values_roundtrip(spark):
    """The reference accepts NaN/Inf datapoint values at ingest
    (ts.cpp:276-328 diverts them to the OOO page) and serializes them as
    the strings "NaN"/"Inf" in query responses (query.cpp:1782-1787).
    Pin the same end-to-end: telnet put → /api/query → string markers."""
    srv = TsdbHttpServer(spark).start()
    T = 1_704_067_200
    try:
        r = _post(
            srv,
            "/api/put",
            f"put odd.metric {T} NaN host=a\n"
            f"put odd.metric {T + 60} Inf host=a\n"
            f"put odd.metric {T + 120} -Inf host=a\n"
            f"put odd.metric {T + 180} 1.5 host=a\n",
        )
        assert r["success"] == 4
        res = _get(srv, f"/api/query?start={T}&end={T + 300}&m=none:odd.metric")
        dps = res[0]["dps"]
        assert dps[str(T)] == "NaN"
        assert dps[str(T + 60)] == "Inf"
        assert dps[str(T + 120)] == "-Inf"
        assert dps[str(T + 180)] == 1.5
    finally:
        srv.stop()


def test_http_concurrent_puts_and_queries(spark):
    """The reference serves puts and queries from concurrent listener
    threads (http.cpp ThreadingHTTPServer analogue here). Hammer the
    façade with parallel writers and readers: every put must land
    exactly once (seq assignment under the store lock) and no request
    may 500."""
    import threading
    import urllib.request

    srv = TsdbHttpServer(spark).start()
    T = 1_704_067_200
    errors = []

    def put_worker(w):
        try:
            body = "\n".join(
                f"put conc.metric {T + w * 1000 + i} {w}.{i:02d} host=h{w}"
                for i in range(25)
            )
            r = _post(srv, "/api/put", body)
            assert r["success"] == 25
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(("put", w, e))

    def query_worker(q):
        try:
            for _ in range(5):
                _get(srv, f"/api/query?start={T}&end={T + 20000}&m=none:conc.metric")
        except Exception as e:  # pragma: no cover
            errors.append(("query", q, e))

    try:
        threads = [threading.Thread(target=put_worker, args=(w,)) for w in range(8)]
        threads += [threading.Thread(target=query_worker, args=(q,)) for q in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
        assert not errors, errors[:3]
        res = _get(srv, f"/api/query?start={T}&end={T + 20000}&m=none:conc.metric")
        total = sum(len(series["dps"]) for series in res)
        assert total == 8 * 25
        # seqs unique: dedup can't have collapsed distinct points
        assert len({r["seq"] for r in srv.store.dataframe().collect()}) == 200
    finally:
        srv.stop()


def test_store_restart_seeds_seq_from_base(spark, tmp_path):
    """A restarted store must hand new puts seqs ABOVE any persisted in
    the base table — starting at 0 would make last-write-wins dedup
    prefer old flushed rows over newer overwrites."""
    from ticktock_spark.api.http import TsdbStore

    path = str(tmp_path / "dps")
    s1 = TsdbStore(spark, table_path=path)
    s1.add(
        [
            {"metric": "m", "ts": 1704067200000, "value": 1.0, "tags": {"h": "a"}},
            {"metric": "m", "ts": 1704067200000, "value": 2.0, "tags": {"h": "a"}},
        ]
    )
    assert s1.flush() == 2

    s2 = TsdbStore(spark, base=spark.read.parquet(path), table_path=path)
    s2.add([{"metric": "m", "ts": 1704067200000, "value": 9.0, "tags": {"h": "a"}}])
    from ticktock_spark.operators.dedup import dedup_last_wins

    got = dedup_last_wins(s2.dataframe(), ["metric"]).collect()
    assert len(got) == 1 and got[0]["value"] == 9.0  # the post-restart put wins


def test_store_concurrent_flushes_no_loss_no_dup(spark, tmp_path):
    """Parallel flushes + racing adds: every row lands exactly once (the
    flush mutex prevents double-append of a shared buffer prefix and the
    trim-after-append losing raced-in rows)."""
    import threading

    from ticktock_spark.api.http import TsdbStore

    path = str(tmp_path / "dps")
    store = TsdbStore(spark, table_path=path)
    n_threads, n_rows = 4, 6

    def worker(w):
        for i in range(n_rows):
            store.add(
                [{"metric": "m", "ts": 1704067200000 + w * 1000 + i,
                  "value": 1.0, "tags": {"h": f"h{w}"}}]
            )
        store.flush()

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    store.flush()  # drain anything still buffered
    disk = spark.read.parquet(path)
    total = n_threads * n_rows
    assert disk.count() == total
    assert disk.select("seq").distinct().count() == total
    assert disk.select("ts").distinct().count() == total


def test_self_metrics_loop(spark):
    """The reference feeds its own `ticktock.*` metrics back into the
    store so dashboards can chart the engine (stats.cpp:230-430, query
    counters query.cpp:1338-1341). After traffic + an emit, /api/query
    must chart ticktock.query.latency.ms and friends; interval counters
    drain to zero on emit (the reference's exchange(0) semantics)."""
    srv = TsdbHttpServer(spark).start()
    T = 1_704_067_200
    try:
        r = _post(
            srv,
            "/api/put",
            "\n".join(f"put self.m {T + i} {i} host=h1" for i in range(5)),
        )
        assert r["success"] == 5
        for _ in range(3):
            _get(srv, f"/api/query?start={T}&end={T + 100}&m=none:self.m")
        stats = _get(srv, "/api/stats")
        assert stats["queries"] == 3
        assert stats["ingested_dps"] == 5
        assert stats["query_latency_ms"] > 0
        assert stats["http_requests"] >= 5

        emitted = srv.store.emit_self_metrics(now_ms=(T + 60) * 1000)
        names = {d["metric"] for d in emitted}
        assert {
            "ticktock.query.count",
            "ticktock.query.latency.ms",
            "ticktock.ingest.dps.count",
            "ticktock.http.request.count",
            "ticktock.time_series.count",
        } <= names

        # the self-metrics are ordinary series, queryable via /api/query
        res = _get(
            srv,
            f"/api/query?start={T}&end={T + 120}&m=none:ticktock.query.latency.ms",
        )
        assert len(res) == 1
        assert res[0]["metric"] == "ticktock.query.latency.ms"
        (val,) = res[0]["dps"].values()
        assert val > 0
        res = _get(
            srv, f"/api/query?start={T}&end={T + 120}&m=none:ticktock.query.count"
        )
        assert list(res[0]["dps"].values()) == [3.0]
        # series count gauge: self.m's 1 series (host=h1), measured
        # before the emit added the ticktock.* series themselves
        res = _get(
            srv,
            f"/api/query?start={T}&end={T + 120}&m=none:ticktock.time_series.count",
        )
        assert list(res[0]["dps"].values()) == [1.0]

        # counters drained: a second emit reports 0 for the interval
        # counts (queries since last emit), and the new query traffic
        # from the assertions above lands in it
        stats2 = _get(srv, "/api/stats")
        assert stats2["ingested_dps"] == 0  # drained by the first emit
    finally:
        srv.stop()


def test_self_metrics_timer_thread(spark):
    """The optional self-meter interval timer (the reference's Stats
    timer task) emits without any explicit call and dies with stop()."""
    import time

    srv = TsdbHttpServer(spark, self_meter_interval_sec=0.3).start()
    T = 1_704_067_200
    try:
        _post(srv, "/api/put", f"put timer.m {T} 1 host=h1")
        deadline = time.time() + 30
        names = set()
        while time.time() < deadline and "ticktock.query.count" not in names:
            time.sleep(0.3)
            names = {r["metric"] for r in srv.store.dataframe().collect()}
        assert "ticktock.query.count" in names
        assert "ticktock.ingest.dps.count" in names
    finally:
        srv.stop()
    assert srv._meter_thread is not None and not srv._meter_thread.is_alive()


def test_http_analytics_endpoint(spark):
    """/api/analytics exposes the round-6 analytics operators through
    the OpenTSDB-shaped sink, and every op's numbers re-prove against
    the SAME DuckDB oracles that pin the registry entries (metrics are
    named click/error so q167/q168's oracle SQL applies verbatim —
    the events view is rebuilt from the ingested datapoints)."""
    import duckdb
    import pandas as pd

    import ticktock_spark.pipeline.queries  # noqa: F401 — registers q153
    from ticktock_spark.queries import ORACLES

    srv = TsdbHttpServer(spark).start()
    T0 = 1_704_067_200  # seconds; top of an hour
    try:
        # 4 hours of 1m points; error FOLLOWS click by one bucket
        click = [round((i % 7) * 1.5 + (i % 13) * 0.25, 2) for i in range(240)]
        error = [0.0] + [round(c * 0.8 + 3, 2) for c in click[:-1]]
        lines = []
        for i in range(240):
            lines.append(f"put click {T0 + i * 60} {click[i]} host=h1")
            lines.append(f"put error {T0 + i * 60} {error[i]} host=h1")
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == 480

        con = duckdb.connect()
        ev = pd.DataFrame(
            {
                "event_type": ["click"] * 240 + ["error"] * 240,
                "ts": pd.to_datetime(
                    [(T0 + i * 60) * 1000 for i in range(240)] * 2, unit="ms"
                ),
                "value": click + error,
                "user_id": 0,
                "event_id": range(480),
            }
        )
        con.register("events", ev)

        def odf(name):
            return con.sql(ORACLES[name]).df()

        # seasonal profile (q155 oracle)
        res = _get(srv, "/api/analytics?op=seasonal_profile&m=click&m=error")
        assert [r["metric"] for r in res] == ["click", "error"]
        assert all(r["aggregateTags"] == ["host"] and r["tags"] == {} for r in res)
        exp = odf("q155_seasonal_profile")
        for r in res:
            sub = exp[exp.metric == r["metric"]]
            assert {int(h): v for h, v in zip(sub.hour_utc, sub.avg_value)} == {
                int(k): v for k, v in r["dps"].items()
            }

        # rolling p95 (q153 oracle)
        res = _get(srv, "/api/analytics?op=rolling_pct&q=95&m=click")
        exp = odf("q153_rolling_p95")
        sub = exp[exp.metric == "click"]
        assert {int(t): v for t, v in zip(sub.ts, sub.pct)} == {
            int(k): v for k, v in res[0]["dps"].items()
        }

        # anomaly ensemble (q157 oracle)
        res = _get(srv, "/api/analytics?op=anomaly&m=click")
        exp = odf("q157_anomaly_ensemble")
        sub = exp[exp.metric == "click"]
        assert {int(t): v for t, v in zip(sub.ts, sub.score)} == {
            int(k): v for k, v in res[0]["dps"].items()
        }

        # EWMA baseline: alpha=0.5 is exact in binary; recompute the
        # fold in plain python on the 1m bucket means (bucket mean ==
        # the point value here: one point per bucket)
        res = _get(srv, "/api/analytics?op=ewma&m=click&lookback=16")
        got = {int(k): v for k, v in res[0]["dps"].items()}
        import math

        exp_ewma = {}
        for i in range(1, 240):
            lo = max(0, i - 16)
            wts = [0.5 ** (i - j) for j in range(lo, i)]
            raw = sum(w * v for w, v in zip(wts, click[lo:i])) / sum(wts)
            exp_ewma[(T0 + i * 60) * 1000] = math.floor(raw * 1e6 + 0.5) / 1e6
        assert got == exp_ewma

        # exact Pearson (q167 oracle)
        res = _get(srv, "/api/analytics?op=correlation&a=click&b=error")
        exp = odf("q167_metric_correlation")
        assert res[0]["metric"] == "corr(click,error)"
        assert res[0]["dps"]["0"] == exp.pearson_r[0]

        # lead-lag profile (q168 oracle): error = 0.8*click + 3 one
        # bucket later -> r == 1.0 exactly at lag +1
        res = _get(srv, "/api/analytics?op=leadlag&a=click&b=error&max_shift=2")
        exp = odf("q168_lead_lag")
        got = {int(k): v for k, v in res[0]["dps"].items()}
        assert got == {int(l): v for l, v in zip(exp.lag_min, exp.pearson_r)}
        assert got[1] == 1.0

        # seasonal residual: value-minus-own-hour-mean sums to ~0 per hour
        res = _get(srv, "/api/analytics?op=seasonal_residual&m=click")
        resid = {int(k): v for k, v in res[0]["dps"].items()}
        assert len(resid) == 240
        by_hour = {}
        for t, v in resid.items():
            by_hour.setdefault((t // 3_600_000) % 24, []).append(v)
        for vs in by_hour.values():
            assert abs(sum(vs)) < 1e-3

        # unknown op -> 400
        import urllib.error

        try:
            _get(srv, "/api/analytics?op=nope")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_http_analytics_round7_ops(spark):
    """acf / changepoint / histogram / trend / burn_rate through the
    endpoint match the q170/q171/q174/q175/q172 oracles on the same
    ingested datapoints."""
    import duckdb
    import pandas as pd

    import ticktock_spark.pipeline.queries  # noqa: F401
    from ticktock_spark.queries import ORACLES

    srv = TsdbHttpServer(spark).start()
    T0 = 1_704_067_200
    try:
        click = [round((i % 5) * 2.0 + i * 0.05, 2) for i in range(240)]
        error = [round(1.0 + (i % 11) * 0.3, 2) for i in range(240)]
        lines = []
        for i in range(240):
            lines.append(f"put click {T0 + i * 60} {click[i]} host=h1")
            lines.append(f"put error {T0 + i * 60} {error[i]} host=h1")
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == 480

        con = duckdb.connect()
        ev = pd.DataFrame(
            {
                "event_type": ["click"] * 240 + ["error"] * 240,
                "ts": pd.to_datetime(
                    [(T0 + i * 60) * 1000 for i in range(240)] * 2, unit="ms"
                ),
                "value": click + error,
                "user_id": 0,
                "event_id": range(480),
            }
        )
        con.register("events", ev)

        def odf(name):
            return con.sql(ORACLES[name]).df()

        res = _get(srv, "/api/analytics?op=acf&m=click&max_lag=5")
        exp = odf("q170_acf")
        sub = exp[exp.metric == "click"]
        assert {int(l): v for l, v in zip(sub.lag, sub.pearson_r)} == {
            int(k): v for k, v in res[0]["dps"].items()
        }
        # period-5 series: lag 5 autocorrelates near 1
        assert res[0]["dps"]["5"] > 0.99

        res = _get(srv, "/api/analytics?op=changepoint&m=error")
        exp = odf("q171_changepoint")
        sub = exp[exp.metric == "error"]
        assert {int(t): v for t, v in zip(sub.ts, sub.shift_score)} == {
            int(k): v for k, v in res[0]["dps"].items()
        }

        res = _get(srv, "/api/analytics?op=histogram&m=click&width=10")
        exp = odf("q174_histogram")
        sub = exp[exp.metric == "click"]
        assert {int(b): float(n) for b, n in zip(sub.bin, sub.n)} == {
            int(k): v for k, v in res[0]["dps"].items()
        }

        res = _get(srv, "/api/analytics?op=trend&m=click")
        exp = odf("q175_trend")
        sub = exp[exp.metric == "click"].iloc[0]
        assert res[0]["metric"] == "trend(click)"
        assert res[0]["dps"] == {
            "0": sub.slope, "1": sub.intercept, "2": sub.pearson_r
        }
        # the planted +0.05/min drift is recovered
        assert abs(res[0]["dps"]["0"] - 0.05) < 0.01

        res = _get(srv, "/api/analytics?op=burn_rate")
        exp = odf("q172_burn_rate")
        fast = {int(t): v for t, v in zip(exp.ts, exp.ratio_5m)}
        slow = {int(t): v for t, v in zip(exp.ts, exp.ratio_1h)}
        assert res[0]["metric"] == "burn_rate_fast"
        assert {int(k): v for k, v in res[0]["dps"].items()} == fast
        assert {int(k): v for k, v in res[1]["dps"].items()} == slow
    finally:
        srv.stop()


def test_http_analytics_rollup_grain(spark):
    """grain=1h routes bucket-mean ops through the materialized hourly
    rollup: results equal the raw-scan path at the same hourly buckets
    (values chosen exact-binary so both IEEE sums agree bit-for-bit);
    asking for a grain before materialization is a 400."""
    import urllib.error

    srv = TsdbHttpServer(spark).start()
    T0 = 1_704_067_200
    try:
        # 48 hours, 4 points/hour across 2 hosts; exact-binary values
        lines = []
        for h in range(48):
            for k in range(4):
                v = (h % 7) + k * 0.25
                lines.append(
                    f"put cpu {T0 + h * 3600 + k * 600} {v} host=h{k % 2}"
                )
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == len(lines)

        # grain before materialization -> 400 with the admin hint
        try:
            _get(srv, "/api/analytics?op=ewma&m=cpu&grain=1h")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400

        assert _post(srv, "/api/admin?cmd=rollup", "") == {
            "rollup": "materialized"
        }
        for q in (
            "op=ewma&m=cpu&bucket_ms=3600000",
            "op=anomaly&m=cpu&bucket_ms=3600000",
            "op=trend&m=cpu&bucket_ms=3600000",
            "op=acf&m=cpu&max_lag=3&bucket_ms=3600000",
            "op=mad&m=cpu&bucket_ms=3600000&threshold=0.5",
            "op=theilsen&m=cpu&bucket_ms=3600000",
            "op=seasonal_strength&m=cpu&bucket_ms=3600000",
            # round-9 rollup-routable ops: run lengths, bucket presence,
            # and envelope percentiles all read off the same bucket means
            "op=flatline&m=cpu&bucket_ms=3600000&min_run=3",
            "op=gaps&m=cpu&bucket_ms=3600000",
            "op=seasonal_envelope&m=cpu&bucket_ms=3600000&q=90",
        ):
            raw = _get(srv, f"/api/analytics?{q}")
            rolled = _get(srv, f"/api/analytics?{q}&grain=1h")
            assert rolled == raw, q
        # bucket_ms must be a multiple of the grain
        try:
            _get(srv, "/api/analytics?op=ewma&m=cpu&grain=1h&bucket_ms=60000")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # unknown grain -> 400
        try:
            _get(srv, "/api/analytics?op=ewma&m=cpu&grain=5m")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_http_analytics_post(spark):
    """POST /api/analytics accepts a JSON body (the /api/query POST
    parity): scalar and list params normalize to the GET semantics and
    produce identical results; a non-object body is a 400."""
    import urllib.error

    srv = TsdbHttpServer(spark).start()
    T0 = 1_704_067_200
    try:
        lines = [
            f"put cpu {T0 + i * 60} {float(i % 5)} host=h{i % 2}"
            for i in range(60)
        ]
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == 60
        get_res = _get(srv, "/api/analytics?op=seasonal_profile&m=cpu")
        post_res = _post(
            srv,
            "/api/analytics",
            json.dumps({"op": "seasonal_profile", "m": ["cpu"]}),
        )
        assert post_res == get_res
        post_res = _post(
            srv,
            "/api/analytics",
            json.dumps({"op": "ewma", "m": "cpu", "lookback": 8}),
        )
        assert post_res == _get(srv, "/api/analytics?op=ewma&m=cpu&lookback=8")
        for bad in ("[1,2]", "not json"):
            try:
                _post(srv, "/api/analytics", bad)
                raise AssertionError("expected 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        srv.stop()


def test_http_analytics_dominant_period(spark):
    """op=dominant_period matches the q179 oracle on ingested points:
    a planted period-4 series reports period_buckets=4."""
    import duckdb
    import pandas as pd

    from ticktock_spark.queries import ORACLES

    srv = TsdbHttpServer(spark).start()
    T0 = 1_704_067_200
    try:
        vals = [float([2, 9, 5, 7][i % 4]) + (i % 3) * 0.01 for i in range(96)]
        lines = [
            f"put click {T0 + i * 60} {vals[i]} host=h1" for i in range(96)
        ]
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == 96
        res = _get(srv, "/api/analytics?op=dominant_period&m=click")
        assert res[0]["metric"] == "period(click)"
        assert res[0]["dps"]["0"] == 4.0

        con = duckdb.connect()
        ev = pd.DataFrame(
            {
                "event_type": "click",
                "ts": pd.to_datetime(
                    [(T0 + i * 60) * 1000 for i in range(96)], unit="ms"
                ),
                "value": vals,
                "user_id": 0,
                "event_id": range(96),
            }
        )
        con.register("events", ev)
        exp = con.sql(ORACLES["q179_dominant_period"]).df().iloc[0]
        assert res[0]["dps"] == {
            "0": float(exp.period_buckets), "1": exp.pearson_r
        }
    finally:
        srv.stop()


def test_http_analytics_tag_filter_and_by_series(spark):
    """Round-8 `/api/query` parity on the analytics surface:
    ``m=cpu{host=web*}`` compiles the reference tag-filter family
    (tag.cpp:692-796 semantics via plans/tagfilter.py) into the
    datapoint scan, and ``by_series=true`` emits one ResultSet per
    series (its tags populated, aggregateTags empty). Both the
    tag-scoped aggregate and the per-series profiles are re-proven
    against a DuckDB oracle over the same ingested points."""
    import urllib.error

    import duckdb
    import pandas as pd

    srv = TsdbHttpServer(spark).start()
    T0 = 1_704_067_200
    try:
        hosts = ["web1", "web2", "db1"]
        lines, recs = [], []
        for i in range(240):
            for hi, h in enumerate(hosts):
                v = round((i % (5 + hi)) * 1.5 + hi * 0.25, 2)
                lines.append(f"put cpu {T0 + i * 60} {v} host={h} dc=east")
                recs.append((h, (T0 + i * 60) * 1000, v))
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == len(lines)

        con = duckdb.connect()
        con.register(
            "pts", pd.DataFrame(recs, columns=["host", "ts", "value"])
        )
        q6avg = (
            "floor((CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
            " / count(*)) * 1000000.0 + 0.5) / 1000000.0"
        )

        def profile_oracle(where: str) -> dict[int, float]:
            rows = con.sql(
                "SELECT CAST((ts // 3600000) % 24 AS INT) AS hour_utc, "
                f"{q6avg} AS avg_value FROM pts {where} GROUP BY 1"
            ).fetchall()
            return {int(h): v for h, v in rows}

        enc = "m=cpu%7Bhost%3Dweb*%7D"  # m=cpu{host=web*}

        # tag-scoped aggregate: only web1+web2 contribute
        res = _get(srv, f"/api/analytics?op=seasonal_profile&{enc}")
        assert len(res) == 1 and res[0]["metric"] == "cpu"
        assert res[0]["tags"] == {}
        assert res[0]["aggregateTags"] == ["dc", "host"]
        got = {int(k): v for k, v in res[0]["dps"].items()}
        assert got == profile_oracle("WHERE host LIKE 'web%'")
        assert got != profile_oracle("")  # the filter actually bit

        # per-series: one ResultSet per (host) series, tags populated
        res = _get(srv, "/api/analytics?op=seasonal_profile&m=cpu&by_series=true")
        assert len(res) == 3
        assert [r["metric"] for r in res] == ["cpu"] * 3
        assert [r["tags"]["host"] for r in res] == ["db1", "web1", "web2"]
        assert all(r["tags"]["dc"] == "east" for r in res)
        assert all(r["aggregateTags"] == [] for r in res)
        for r in res:
            got = {int(k): v for k, v in r["dps"].items()}
            assert got == profile_oracle(f"WHERE host = '{r['tags']['host']}'")

        # filter + per-series compose: only the two web series remain
        res = _get(
            srv, f"/api/analytics?op=seasonal_profile&{enc}&by_series=true"
        )
        assert [r["tags"]["host"] for r in res] == ["web1", "web2"]

        # literal_or filter through a bucket-mean op (changepoint):
        # rows equal the single-host run, proving the compiled filter
        # reaches the bucket source too
        enc_lit = "m=cpu%7Bhost%3Dliteral_or(db1)%7D"
        res = _get(srv, f"/api/analytics?op=changepoint&{enc_lit}")
        by_host = _get(
            srv, "/api/analytics?op=changepoint&m=cpu&by_series=true"
        )
        db1 = next(r for r in by_host if r["tags"]["host"] == "db1")
        assert res[0]["dps"] == db1["dps"]

        # per-series trend: the composite label splits back cleanly
        res = _get(srv, "/api/analytics?op=trend&m=cpu&by_series=true")
        assert [r["metric"] for r in res] == ["trend(cpu)"] * 3
        assert [r["tags"]["host"] for r in res] == ["db1", "web1", "web2"]

        # by_series on a cross-metric op -> 400
        try:
            _get(srv, "/api/analytics?op=burn_rate&by_series=true")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # grain on a raw-only op -> 400 (rejected, not silently ignored)
        try:
            _get(srv, "/api/analytics?op=histogram&m=cpu&grain=1h")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_http_analytics_suggest_grain(spark):
    """suggest_grain=true on dominant_period maps the detected cycle to
    the coarsest rollup grain that still resolves it (Nyquist: >=2
    rollup buckets per period) — the reference's use_rollup decision
    (query.cpp:1032-1091) made data-driven."""
    from ticktock_spark.api.analytics import suggest_rollup_grain

    HOUR = 3_600_000
    assert suggest_rollup_grain(24 * HOUR) == "1h"  # daily cycle
    assert suggest_rollup_grain(7 * 24 * HOUR) == "1d"  # weekly cycle
    assert suggest_rollup_grain(2 * HOUR) == "1h"  # exactly 2 buckets
    assert suggest_rollup_grain(HOUR) == "raw"  # sub-2h: scan raw

    srv = TsdbHttpServer(spark).start()
    T0 = 1_704_067_200
    try:
        # period-24 cycle on HOURLY points => dominant period = 24 h
        vals = [float((i % 24) % 7) * 2 + 1 for i in range(96)]
        lines = [
            f"put load {T0 + i * 3600} {vals[i]} host=h1" for i in range(96)
        ]
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == 96
        res = _get(
            srv,
            "/api/analytics?op=dominant_period&m=load&bucket_ms=3600000"
            "&max_lag=30&suggest_grain=true",
        )
        assert res[0]["metric"] == "period(load)"
        assert res[0]["dps"]["0"] == 24.0
        # 24 h cycle: rollup_1d (2*1d > 24h) cannot resolve it, rollup_1h can
        assert res[0]["tags"]["suggested_grain"] == "1h"
        # without the flag the advice is absent and tags stay empty
        res = _get(
            srv,
            "/api/analytics?op=dominant_period&m=load&bucket_ms=3600000"
            "&max_lag=30",
        )
        assert res[0]["tags"] == {}
    finally:
        srv.stop()


def test_http_concurrent_query_mix(spark):
    """The reference's whole concurrency story is listener/responder
    thread pools (conf/tt.conf; test/int_test3.py drives multi-threaded
    clients); here the ThreadingHTTPServer + shared TsdbStore is driven
    by 8 parallel clients mixing /api/query, /api/analytics and
    /api/suggest, and every concurrent response must be byte-identical
    to its single-threaded reference — no cross-request state bleed
    through the shared store or SparkSession."""
    from concurrent.futures import ThreadPoolExecutor

    srv = TsdbHttpServer(spark).start()
    T0 = 1_704_067_200
    try:
        lines = []
        for i in range(120):
            for h in ("h1", "h2"):
                v = round((i % 7) * 1.5 + (0.25 if h == "h2" else 0.0), 2)
                lines.append(f"put cpu {T0 + i * 60} {v} host={h}")
            lines.append(f"put err {T0 + i * 60} {float(i % 3)} host=h1")
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == len(lines)

        reqs = [
            f"/api/query?start={T0}&end={T0 + 7200}&m=sum:cpu",
            f"/api/query?start={T0}&end={T0 + 7200}&m=avg:10m-avg:cpu%7Bhost=h1%7D",
            "/api/analytics?op=seasonal_profile&m=cpu",
            "/api/analytics?op=histogram&m=err&width=1",
            "/api/suggest?type=metrics&q=c&max=5",
        ]
        expected = [_get(srv, r) for r in reqs]

        def worker(w: int):
            out = []
            for k in range(len(reqs)):
                idx = (w + k) % len(reqs)  # each worker a different order
                out.append((idx, _get(srv, reqs[idx])))
            return out

        with ThreadPoolExecutor(max_workers=8) as ex:
            results = list(ex.map(worker, range(8)))
        for w, out in enumerate(results):
            for idx, res in out:
                assert res == expected[idx], f"worker {w} request {reqs[idx]}"
    finally:
        srv.stop()


def test_http_analytics_round8_ops(spark):
    """mad / theilsen / seasonal_strength / wasserstein through the
    endpoint match the q180/q181/q182/q183 oracles on the same ingested
    datapoints."""
    import duckdb
    import pandas as pd

    import ticktock_spark.pipeline.queries  # noqa: F401
    from ticktock_spark.queries import ORACLES, T_MID

    srv = TsdbHttpServer(spark).start()
    base = T_MID // 1000 - 7200  # 2h before the q183 split boundary
    try:
        click = [round((i % 5) * 2.0 + i * 0.05, 2) for i in range(240)]
        click[37] = 400.0  # the planted outlier mad must flag
        error = [round(1.0 + (i % 11) * 0.3 + (i >= 120) * 5.0, 2)
                 for i in range(240)]  # level shift across the boundary
        lines = []
        for i in range(240):
            lines.append(f"put click {base + i * 60} {click[i]} host=h1")
            lines.append(f"put error {base + i * 60} {error[i]} host=h1")
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == 480

        con = duckdb.connect()
        ev = pd.DataFrame(
            {
                "event_type": ["click"] * 240 + ["error"] * 240,
                "ts": pd.to_datetime(
                    [(base + i * 60) * 1000 for i in range(240)] * 2,
                    unit="ms",
                ),
                "value": click + error,
                "user_id": 0,
                "event_id": range(480),
            }
        )
        con.register("events", ev)

        def odf(name):
            return con.sql(ORACLES[name]).df()

        res = _get(srv, "/api/analytics?op=mad&m=click")
        exp = odf("q180_mad_outliers")
        sub = exp[exp.metric == "click"]
        assert {int(t): v for t, v in zip(sub.ts, sub.score)} == {
            int(k): v for k, v in res[0]["dps"].items()
        }
        # exactly the planted spike, at its bucket timestamp
        assert list(res[0]["dps"]) == [str((base + 37 * 60) * 1000)]

        res = _get(srv, "/api/analytics?op=theilsen&m=click")
        exp = odf("q181_theilsen_trend")
        sub = exp[exp.metric == "click"].iloc[0]
        assert res[0]["metric"] == "theilsen(click)"
        assert res[0]["dps"] == {
            "0": sub.slope, "1": float(sub.n), "2": float(sub.n_pairs)
        }
        # the spike corrupts one of only FOUR hourly buckets (25% of the
        # data — at the ~29% breakdown edge): the slope must still carry
        # the planted upward drift's sign, even if attenuated
        assert res[0]["dps"]["0"] > 0

        res = _get(srv, "/api/analytics?op=seasonal_strength&m=error")
        exp = odf("q182_seasonal_strength")
        sub = exp[exp.metric == "error"].iloc[0]
        assert res[0]["metric"] == "seasonal_strength(error)"
        assert res[0]["dps"] == {
            "0": sub.strength, "1": float(sub.n), "2": float(sub.n_phases)
        }

        res = _get(
            srv, f"/api/analytics?op=wasserstein&m=error&split_ts={T_MID}"
        )
        exp = odf("q183_wasserstein_drift")
        sub = exp[exp.metric == "error"].iloc[0]
        assert res[0]["metric"] == "w1(error)"
        assert res[0]["dps"] == {
            "0": sub.w1, "1": float(sub.n_a), "2": float(sub.n_b)
        }
        # the planted +5.0 level shift dominates the cycle noise
        assert res[0]["dps"]["0"] > 3.0
        # raw-only op: grain= is a caller error, not a silent raw scan
        import urllib.error

        try:
            _get(srv, f"/api/analytics?op=wasserstein&m=error"
                      f"&split_ts={T_MID}&grain=1h")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # missing split_ts -> 400
        try:
            _get(srv, "/api/analytics?op=wasserstein&m=error")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_http_analytics_fano_top_movers(spark):
    """op=fano / op=top_movers through the endpoint match the
    q188/q189 oracles on the same ingested datapoints."""
    import duckdb
    import pandas as pd

    import ticktock_spark.pipeline.queries  # noqa: F401
    from ticktock_spark.queries import ORACLES

    srv = TsdbHttpServer(spark).start()
    T0 = 1_704_067_200
    DAY = 86_400
    try:
        # 8 days of clicks: regular 1/min for 30 min each day, except a
        # burst day; daily mean jumps +50 on day 6
        lines, ts_all, v_all = [], [], []
        for d in range(8):
            base_v = 10.0 if d < 6 else 60.0
            for i in range(30):
                t = T0 + d * DAY + i * 60
                v = round(base_v + (i % 3), 2)
                lines.append(f"put click {t} {v} host=h1")
                ts_all.append(t)
                v_all.append(v)
        # burst: 20 extra events inside one minute on day 2
        for k in range(20):
            t = T0 + 2 * DAY + 3600 + k
            lines.append(f"put click {t} 5.0 host=h1")
            ts_all.append(t)
            v_all.append(5.0)
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == len(lines)

        con = duckdb.connect()
        ev = pd.DataFrame(
            {
                "event_type": ["click"] * len(ts_all),
                "ts": pd.to_datetime([t * 1000 for t in ts_all], unit="ms"),
                "value": v_all,
                "user_id": 0,
                "event_id": range(len(ts_all)),
            }
        )
        con.register("events", ev)

        def odf(name):
            return con.sql(ORACLES[name]).df()

        res = _get(srv, "/api/analytics?op=fano&m=click")
        exp = odf("q188_fano_burstiness")
        sub = exp[exp.metric == "click"].iloc[0]
        assert res[0]["metric"] == "fano(click)"
        assert res[0]["dps"] == {
            "0": sub.fano,
            "1": float(sub.n_buckets),
            "2": float(sub.n_events),
        }
        assert res[0]["dps"]["0"] > 1.0  # the planted burst shows

        res = _get(srv, "/api/analytics?op=top_movers&m=click")
        exp = odf("q189_daily_top_movers")
        sub = exp[exp.metric == "click"]
        assert {int(t): v for t, v in zip(sub.ts, sub.delta)} == {
            int(k): v for k, v in res[0]["dps"].items()
        }
        # rank-1 mover is the planted +50 jump at day 6
        best = sub[sub["rank"] == 1].iloc[0]
        assert int(best.ts) == (T0 + 6 * DAY) * 1000
        assert abs(best.delta - 50.0) < 1e-6
        # raw-only: grain= is a caller error
        import urllib.error

        for q in ("op=fano&m=click&grain=1h", "op=top_movers&m=click&grain=1h"):
            try:
                _get(srv, f"/api/analytics?{q}")
                raise AssertionError("expected 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        srv.stop()


def test_http_analytics_histogram_quantile(spark):
    """op=histogram_quantile matches the q194 oracle on the same
    ingested datapoints; quantiles ride as permille dps keys."""
    import duckdb
    import pandas as pd

    import ticktock_spark.pipeline.queries  # noqa: F401
    from ticktock_spark.queries import ORACLES

    srv = TsdbHttpServer(spark).start()
    T0 = 1_704_067_200
    try:
        vals = [round(i * 0.97, 2) for i in range(200)]  # spread bins
        lines = [f"put lat {T0 + i * 60} {vals[i]} host=h1"
                 for i in range(200)]
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == 200

        con = duckdb.connect()
        ev = pd.DataFrame(
            {
                "event_type": ["lat"] * 200,
                "ts": pd.to_datetime(
                    [(T0 + i * 60) * 1000 for i in range(200)], unit="ms"
                ),
                "value": vals,
                "user_id": 0,
                "event_id": range(200),
            }
        )
        con.register("events", ev)
        exp = con.sql(ORACLES["q194_histogram_quantile"]).df()
        sub = exp[exp.metric == "lat"]
        res = _get(srv, "/api/analytics?op=histogram_quantile&m=lat")
        assert res[0]["metric"] == "lat"
        assert {int(q * 1000): est for q, est in zip(sub.q, sub.est)} == {
            int(k): v for k, v in res[0]["dps"].items()
        }
        # custom quantile list + width
        res = _get(
            srv, "/api/analytics?op=histogram_quantile&m=lat&q=0.25&q=0.75"
        )
        assert sorted(res[0]["dps"]) == ["250", "750"]
        # estimates bracket the true quartiles of the uniform ramp
        assert abs(res[0]["dps"]["250"] - 48.5) < 10
        assert abs(res[0]["dps"]["750"] - 145.0) < 10
        # raw-only: grain= is a 400
        import urllib.error

        try:
            _get(srv, "/api/analytics?op=histogram_quantile&m=lat&grain=1h")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # out-of-range quantiles are caller errors, not silent empties
        for bad_q in ("50", "0", "-0.1", "1.5"):
            try:
                _get(srv,
                     f"/api/analytics?op=histogram_quantile&m=lat&q={bad_q}")
                raise AssertionError(f"q={bad_q} should 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        srv.stop()


def test_http_analytics_round9_ops(spark):
    """interarrival / flatline / gaps / seasonal_envelope /
    value_precision / compress_audit / rollup_error through the endpoint
    match the q195–q198/q201–q203 oracles on the same ingested
    datapoints (the round-8 test's shape)."""
    import urllib.error

    import duckdb
    import pandas as pd

    import ticktock_spark.pipeline.queries  # noqa: F401
    from ticktock_spark.queries import ORACLES

    srv = TsdbHttpServer(spark).start()
    base = 1_704_067_200  # seconds
    try:
        # 48 hours of 10-minute points: hour-of-day cycle + a 2h frozen
        # stretch + one 50-minute silence in the middle
        lines, vals, ts_list = [], [], []
        for i in range(288):
            t = base + i * 600
            if 100 <= i < 105:      # silence: drop 5 points (~50 min)
                continue
            if 120 <= i < 132:      # 2h flatline at a fixed value
                v = 42.0
            else:
                v = round(10.0 + ((t // 3600) % 24) + (i % 3) * 0.25, 2)
            lines.append(f"put cpu {t} {v} host=h1")
            ts_list.append(t * 1000)
            vals.append(v)
        assert _post(srv, "/api/put", "\n".join(lines))["success"] == len(lines)

        con = duckdb.connect()
        ev = pd.DataFrame(
            {
                "event_type": "cpu",
                "ts": pd.to_datetime(ts_list, unit="ms"),
                "value": vals,
                "user_id": 0,
                "event_id": range(len(vals)),
            }
        )
        con.register("events", ev)

        def odf(name):
            return con.sql(ORACLES[name]).df()

        # interarrival: p50 = native 10-minute cadence, p95 sees the gap
        res = _get(srv, "/api/analytics?op=interarrival&m=cpu")
        exp = odf("q195_interarrival")
        p50 = exp[(exp.metric == "cpu") & (exp["quantile"] == 50.0)].iloc[0]
        p95 = exp[(exp.metric == "cpu") & (exp["quantile"] == 95.0)].iloc[0]
        assert res[0]["metric"] == "interarrival(cpu)"
        assert res[0]["dps"] == {
            "0": p50.pct, "1": p95.pct, "2": float(p50.n)
        }
        assert res[0]["dps"]["0"] == 600_000.0

        # flatline over 1m buckets (10-min points → 1 bucket each):
        # the 12-point frozen stretch is the longest identical run
        res = _get(srv, "/api/analytics?op=flatline&m=cpu")
        exp = odf("q196_flatline_runs")
        sub = exp[exp.metric == "cpu"].iloc[0]
        assert res[0]["metric"] == "flatline(cpu)"
        assert res[0]["dps"] == {
            "0": float(sub.longest_run), "1": float(sub.n_flat_runs),
            "2": float(sub.n_runs), "3": float(sub.n_buckets),
        }
        assert res[0]["dps"]["0"] == 12.0 and res[0]["dps"]["1"] == 1.0

        # gaps: 5 dropped 10-min points = one 49-minute hole in 1m buckets
        res = _get(srv, "/api/analytics?op=gaps&m=cpu")
        exp = odf("q197_gap_report")
        sub = exp[exp.metric == "cpu"].iloc[0]
        assert res[0]["metric"] == "gaps(cpu)"
        assert res[0]["dps"] == {
            "0": float(sub.n_expected), "1": float(sub.n_present),
            "2": float(sub.n_missing), "3": float(sub.longest_gap_ms),
        }
        assert res[0]["dps"]["3"] >= 49 * 60_000.0

        # seasonal envelope at q=90 over hourly buckets == the q198
        # oracle's quantile=90 rows, keyed by phase
        res = _get(
            srv, "/api/analytics?op=seasonal_envelope&m=cpu&bucket_ms=3600000&q=90"
        )
        exp = odf("q198_seasonal_envelope")
        sub = exp[(exp.metric == "cpu") & (exp["quantile"] == 90.0)]
        assert res[0]["metric"] == "cpu"
        assert {int(p): v for p, v in zip(sub.phase, sub.pct)} == {
            int(k): v for k, v in res[0]["dps"].items()
        }

        # value precision: every value is on the 2-decimal grid; the
        # .25-cycle makes integers a strict subset
        res = _get(srv, "/api/analytics?op=value_precision&m=cpu")
        exp = odf("q202_value_precision")
        sub = exp[exp.metric == "cpu"].iloc[0]
        assert res[0]["dps"] == {
            "0": sub.frac_integer, "1": sub.frac_1dp, "2": sub.frac_2dp,
            "3": float(sub.n),
        }

        # compressibility: regular 10-min cadence except around the gap
        res = _get(srv, "/api/analytics?op=compress_audit&m=cpu")
        exp = odf("q203_compress_audit")
        sub = exp[exp.metric == "cpu"].iloc[0]
        assert res[0]["dps"] == {
            "0": sub.frac_ts_regular, "1": sub.frac_val_repeat,
            "2": float(sub.n),
        }
        assert res[0]["dps"]["0"] > 0.9

        # rollup error: hourly means of a within-hour .25-cycle vs raw
        res = _get(srv, "/api/analytics?op=rollup_error&m=cpu")
        exp = odf("q201_rollup_error")
        sub = exp[exp.metric == "cpu"].iloc[0]
        assert res[0]["dps"] == {
            "0": sub.max_abs_err, "1": sub.mean_abs_err,
            "2": float(sub.n_coarse),
        }

        # raw-only ops reject grain=; envelope validates q range
        for bad in (
            "op=interarrival&m=cpu&grain=1h",
            "op=rollup_error&m=cpu&grain=1h",
            "op=seasonal_envelope&m=cpu&q=101",
        ):
            try:
                _get(srv, f"/api/analytics?{bad}")
                raise AssertionError("expected 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        srv.stop()


def test_http_stream_gaps_parity_with_batch(spark, tmp_path):
    """GET /api/analytics/stream?op=gaps serves the LIVE streaming_presence
    monitor's revising gap report with the exact response shape and
    values of the batch op: the same points (including a late one that
    splits a reported gap) are POSTed to /api/put for the batch path and
    replayed through a watermarked streaming_presence query for the live
    path, and the two endpoints' dps must be identical."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.liveness import streaming_presence

    minute = 60_000
    t0 = 1_700_000_000_000 - (1_700_000_000_000 % minute)
    rows = [("gapm", t0 + m * minute + 123, 1.0) for m in (0, 1, 2, 10, 11)]
    late = [("gapm", t0 + 6 * minute + 45, 9.9)]

    srv = TsdbHttpServer(spark).start()
    try:
        # batch side: every point (late one included) through /api/put
        body = "\n".join(
            f"put {m} {ts} {v} host=x" for m, ts, v in rows + late
        )
        assert _post(srv, "/api/put", body)["success"] == len(rows) + len(late)

        # streaming side: two file micro-batches, the late point second
        (tmp_path / "in").mkdir()
        for bi, chunk in enumerate((rows, late)):
            f = tmp_path / "in" / f"b{bi}.txt"
            f.write_text("\n".join(f"{m} {ts} {v}" for m, ts, v in chunk))
            os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))
        p = F.split("value", " ")
        stream = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(str(tmp_path / "in"))
            .select(
                p.getItem(0).alias("metric"),
                p.getItem(1).cast("long").alias("ts"),
                p.getItem(2).cast("double").alias("value"),
            )
        )
        q = (
            streaming_presence(stream, bucket_ms=minute, watermark="1 hour")
            .writeStream.format("memory")
            .queryName("presence_http")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        srv.store.attach_presence(
            lambda: spark.table("presence_http"), bucket_ms=minute
        )

        live = _get(srv, "/api/analytics/stream?op=gaps&m=gapm")
        batch = _get(srv, "/api/analytics?op=gaps&m=gapm")
        assert len(live) == 1 and len(batch) == 1
        assert live[0]["metric"] == batch[0]["metric"] == "gaps(gapm)"
        assert live[0]["dps"] == batch[0]["dps"]
        # the late point split the 7-bucket gap: longest run is 3 minutes
        assert live[0]["dps"]["3"] == 3 * minute

        # unknown op and unattached-monitor guards
        import urllib.error

        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(srv, "/api/analytics/stream?op=nope")
        assert ei.value.code == 400
        srv.store._presence = None
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(srv, "/api/analytics/stream?op=gaps")
        assert ei.value.code == 400
    finally:
        srv.stop()
