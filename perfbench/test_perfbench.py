"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The Spark-free tests check the statistics, the metric parser, the output
checks and that a wrong response or sink counts as failed. The
``test_spark_*`` tests (deselect with ``-k "not spark"``) run each workload
at its tiny size for two seconds from the repository root: untraced (every
end-to-end metric printed, nothing failed) and traced (every per-layer
metric printed, with the tracing overhead against the untraced run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads as wl  # noqa: E402


def test_tail_uses_highest_percentile_with_ten_beyond():
    vals = [float(i) for i in range(1, 101)]
    v, label = run.tail(vals)
    assert label == "p90 of n=100"
    assert 89.0 < v < 91.0
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, "max of n=3")


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_parse_metric_forms():
    assert tracing.parse_metric("1.5 KiB") == 1536.0
    assert tracing.parse_metric("56 ms") == 56.0
    assert tracing.parse_metric("1.2 s") == 1200.0
    assert tracing.parse_metric("9,436") == 9436.0
    multi = "total (min, med, max (stageId: taskId))\n19.8 KiB (5.0 KiB, 5.0 KiB, 5.0 KiB)"
    assert tracing.parse_metric(multi) == pytest.approx(19.8 * 1024)


def test_close_tolerates_last_ulp_only():
    a = {"dps": {"1": 0.1 + 0.2}, "tags": {"h": "a"}}
    assert check.close(a, {"dps": {"1": 0.3}, "tags": {"h": "a"}})
    assert not check.close(a, {"dps": {"1": 0.31}, "tags": {"h": "a"}})
    assert not check.close(a, {"dps": {"2": 0.3}, "tags": {"h": "a"}})
    assert check.close(("m", [1.0]), ("m", [1.0]))


def test_tracer_self_time_excludes_children():
    tr = tracing.Tracer()

    def child():
        return sum(range(20000))

    def parent():
        return tr.call("child", child, (), {})

    tr.call("parent", parent, (), {})
    lt = tr.layer_times()
    assert lt["parent"]["calls"] == lt["child"]["calls"] == 1
    assert lt["parent"]["self_ms"] == pytest.approx(
        lt["parent"]["total_ms"] - lt["child"]["total_ms"])
    tr.reset()
    assert tr.layer_times() == {}


def test_live_check_is_read_your_write():
    tl = wl.Timeline(seed=5, base_days=1, minutes_per_batch=2)
    assert len(tl.points(1)) == 2 * len(wl.LIVE_METRICS) * len(wl.datagen.HOSTS)
    tl.ack(1)
    assert tl.acked == 3
    body = [{"metric": "live.cpu", "tags": {"host": h},
             "dps": {str(tl.t0 + k * 60_000): tl.value("live.cpu", h, k) for k in range(3)}}
            for h in wl.datagen.HOSTS]
    assert wl._check_live(body, tl, "live.cpu", 0, 2) == (True, "")
    body[0]["dps"].pop(str(tl.t0 + 60_000))
    ok, why = wl._check_live(body, tl, "live.cpu", 0, 2)
    assert not ok and "minute 1" in why


class _Canned(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *a):
        pass

    def do_GET(self):
        body = json.dumps([{"metric": "m", "tags": {}, "dps": {"1": 1.0}}]).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.mark.parametrize("wrong", [False, True])
def test_wrong_response_counts_as_failed(wrong):
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Canned)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        reqs = [wl.Req("q", wl.QUERY, "GET", "/api/query?x=1")]
        value = 1.5 if wrong else 1.0  # the canned server always answers 1.0
        expected = [[{"metric": "m", "tags": {}, "dps": {"1": value}}]]
        res = wl.Result()
        deadline = wl.time.perf_counter() + 0.3
        wl.dash_loop(httpd.server_address[1], reqs, expected, 1, 2, deadline, res)
    finally:
        httpd.shutdown()
        httpd.server_close()
    assert res.attempted > 0
    assert res.failed == (res.attempted if wrong else 0)
    assert wl.QUERY not in res.samples if wrong else len(res.samples[wl.QUERY]) == res.attempted


def test_sink_that_differs_from_its_oracle_fails(tmp_path):
    import pandas as pd

    import pyarrow as pa
    import pyarrow.parquet as pq

    df = pd.DataFrame({"id": [1, 2, 3], "score": [0.5, 0.25, 0.125]})
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp_path / "part.parquet")
    want = {"columns": ["id", "score"], "rows": [list(r) for r in check.canon(df)]}
    assert run.check_sink(str(tmp_path), want) == (True, "")
    short = {**want, "rows": want["rows"][1:]}
    ok, why = run.check_sink(str(tmp_path), short)
    assert not ok and "3 rows differ" in why
    ok, why = run.check_sink(str(tmp_path), {**want, "columns": ["id"]})
    assert not ok and "columns" in why


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
           "--seconds", "2", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_spark_smoke_prints_every_end_to_end_metric(workload):
    lines, res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(run.END_TO_END)
    for name, m in res["metrics"].items():
        assert m["unit"] == run.END_TO_END[name] and m["value"] > 0, name
    report = "\n".join(lines[:-1])
    for name in [*run.END_TO_END, "failed_frac", "peak_rss_mb"]:
        assert f"\n{name} = " in "\n" + report, name
    printed = {"dash_ingest": ["meta_p50_ms", "analytics_p50_ms", "live_p50_ms",
                               "live_tail_ms", "put_p50_ms", "put_tail_ms", "put_dps",
                               "flushes"],
               "pipeline_batch": ["batch_wall_s"]}[workload]
    for name in printed:
        assert f"\n{name} = " in "\n" + report, name


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_spark_traced_run_prints_every_per_layer_metric(workload):
    _run(workload, 0)  # the baseline for the tracing overhead
    lines, res = _run(workload, 1)
    assert res["correct"]
    assert set(res["metrics"]) == set(run.PER_LAYER)
    layer = {k: v["value"] for k, v in res["metrics"].items()}
    assert layer["session.start_s"] > 0 and layer["spark.jobs"] > 0
    if workload == "dash_ingest":
        assert layer["planner.self_ms"] > 0 and layer["parsers.points"] > 0
        assert layer["store.dataframe_ms"] > 0 and layer["http.self_ms"] > 0
    else:
        assert layer["pipeline.build_s"] > 0 and layer["pipeline.q77.build_s"] > 0
    assert any(line.startswith("tracing overhead (traced minus untraced") for line in lines)
