"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload dash_ingest --seed 1 --seconds 32 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``,
starts the program in a server process of its own (Spark ``local[nproc]``
plus, for the HTTP workload, a ``TsdbHttpServer``), drives it from this
process for ``--seconds`` seconds, checks every output, and prints a
report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones from a run whose layers are wrapped by ``tracing.py``.
See ``perfbench/README.md`` for the workloads, metrics and layer map.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ("dash_ingest", "pipeline_batch")
PIPELINE_QUERIES = (
    "q77_dedup_pipeline",
    "q82_leakage_safe_split",
    "q34_minhash_lsh",
    "q114_bm25_topk",
    "q138_ppl_buckets",
    "q190_knn_label_agreement",
    "q127_bpe_token_ids",
)
FLEET_DAYS = 31  # 31 days x 5 metrics x 8 hosts at 1 min; writes go to the days after
CORPUS_DOCS = 150  # documents and as many embeddings
# The write phase moves the store's write buffer through the regime where a
# probe of the program measured live-tail queries at 2.5-3.0 s: 20k-80k
# buffered rows. The open-loop writer alone (ALONE_PUTS batches) and then
# a closed-loop burst fill it to PREFILL_ROWS; beside the reader the
# open-loop writer adds INGEST_RATE x 320 points/s, about 40% of one
# writer's closed-loop rate (~6.4k points/s), and the server flushes at
# FLUSH_ROWS, about 15 s into that phase.
ALONE_PUTS = 36  # 4.5 s at INGEST_RATE: the gated put latency
PREFILL_ROWS = 20_000
FLUSH_ROWS = 60_000
MINUTES_PER_BATCH = 10  # x 32 live series = 320 points per batch
INGEST_RATE = 8.0  # open-loop batches/s
MIN_LIVE = 10  # live-tail samples; the writes phase runs on until it has them
# the window: dashboard reads, then writes beside a live-tail reader
DASH_SHARE = 0.35

END_TO_END = {  # name -> unit; printed on every workload
    "setup_s": "s",
    "first_call_s": "s",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "query_qps": "1/s",
    "write_p50_ms": "ms",
    "retained_mb": "MB",
}


def per_layer_names() -> dict[str, str]:
    names = {
        "http.self_ms": "ms", "http.resp_bytes": "B",
        "parsers.ms": "ms", "parsers.points": "count",
        "parser.ms": "ms", "planner.self_ms": "ms", "shape.ms": "ms",
        "analytics.execute_ms": "ms",
        "store.add_ms": "ms", "store.dataframe_ms": "ms", "store.buffer_rows": "count",
        "store.flush_ms": "ms", "store.flush_rows": "count",
        "store.series_dim_ms": "ms", "store.rollup_ms": "ms",
        "session.start_s": "s",
        "spark.action_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.persist_calls": "count",
        "spark.cached_plans_after": "count", "spark.shuffle_write_bytes": "B",
        "spark.spill_bytes": "B", "spark.python_eval_ms": "ms", "jvm.gc_ms": "ms",
        "pipeline.build_s": "s", "pipeline.exec_s": "s", "pipeline.build_jobs": "count",
        "loadgen.late_ms": "ms", "loadgen.cpu_frac": "ratio",
    }
    for q in PIPELINE_QUERIES:
        short = q.split("_", 1)[0]
        names[f"pipeline.{short}.build_s"] = "s"
        names[f"pipeline.{short}.exec_s"] = "s"
    return names


PER_LAYER = per_layer_names()


# -- statistics ---------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, str]:
    """The highest whole percentile with at least ten samples beyond it
    (below 20 samples: the maximum), and its label."""
    n = len(values)
    if n == 0:
        return math.nan, "n=0"
    if n < 20:
        return max(values), f"max of n={n}"
    p = min(99, math.floor(100 * (1 - 10 / n)))
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1], f"p{p} of n={n}"


def median(values) -> float:
    return statistics.median(values) if values else math.nan


# -- the server process ---------------------------------------------------------

class ServerProc:
    """``perfbench/server.py`` in its own process group; JSON lines both ways."""

    def __init__(self, root: str, work: str, cfg: dict, timeout: float = 170.0):
        env = dict(os.environ)
        env.pop("SPARK_DRIVER_MEM", None)  # the program's default heap
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, HERE, env.get("PYTHONPATH")) if p)
        for d in ("spark-local", "tmp"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        env["TMPDIR"] = os.path.join(work, "tmp")
        env["SPARK_SUBMIT_OPTS"] = (
            f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData "
            f"-Dderby.system.home={env['TMPDIR']}")
        self.log = open(os.path.join(work, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), json.dumps(cfg)],
            cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, start_new_session=True)
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        self.ready: dict = {}
        try:
            self.ready = self._read(timeout)
        except BaseException:
            self.close()
            raise

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def _read(self, timeout: float) -> dict:
        while True:
            try:
                line = self.lines.get(timeout=timeout)
            except queue.Empty:
                raise RuntimeError("server did not answer in time") from None
            if line is None:
                raise RuntimeError(f"server exited (code {self.proc.wait()})")
            if line.startswith("{"):
                return json.loads(line)

    def call(self, cmd: str, timeout: float = 170.0, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        return self._read(timeout)

    def close(self) -> None:
        """Stop the server and wait until it, its JVM and the JVM's Python
        workers (all in the server's process group) have ended."""
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(json.dumps({"cmd": "stop"}) + "\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            pass
        deadline = time.time() + 30  # the JVM exits by itself once its gateway closes
        while _group_alive(self.proc.pid) and time.time() < deadline:
            time.sleep(0.1)
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        while _group_alive(self.proc.pid):
            time.sleep(0.1)
        self.log.close()


def _group_alive(pgid: int) -> bool:
    """Whether any process of group ``pgid`` is still running (not a zombie)."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


# -- workloads ----------------------------------------------------------------

def run_dash_ingest(ctx: dict) -> dict:
    seed, cores, seconds, days = ctx["seed"], ctx["cores"], ctx["seconds"], ctx["fleet_days"]
    src = datagen.cached("fleet", seed, f"{days}d",
                         lambda p: datagen.gen_fleet(seed, days, p))
    table = os.path.join(ctx["work"], "table")
    shutil.copytree(src, table)  # flushes append to it
    reqs = wl.dash_requests(seed, days)
    tl = wl.Timeline(seed, days, MINUTES_PER_BATCH)
    srv = ctx["start"]({"table": table, "flush_rows": ctx["flush_rows"]})
    res = wl.Result()
    try:
        port = srv.ready["port"]
        srv.call("mark")  # the traced layers cover the pre-pass's cold calls too
        expected = wl.dash_prepass(port, reqs, src, res)
        t0 = time.perf_counter()
        cpu0 = sum(os.times()[:2])
        wall = wl.dash_loop(port, reqs, expected, seed, cores, t0 + seconds * DASH_SHARE, res)
        # the write buffer stays empty until here: dashboard reads first
        k0 = wl.ingest_first_calls(port, tl, res)
        gen = wl.ingest(port, tl, k0, ctx["alone_puts"], ctx["prefill_rows"], INGEST_RATE,
                        seconds * (1 - DASH_SHARE), ctx["min_live"], res)
        cpu_frac = (sum(os.times()[:2]) - cpu0) / (time.perf_counter() - t0)
        stats = srv.call("stats")
    finally:
        srv.close()
    for _ in stats["flushes"]:
        res.record(None, None, True)
    for _ in range(stats["flush_errors"]):
        res.record(None, None, False, "store.flush() raised (server log on stderr)")
    q = res.samples.get(wl.QUERY, [])
    alone = [res.samples.get(f"put_alone.{f}", []) for f in wl.FORMATS]
    puts = [ms for f in wl.FORMATS for ms in res.samples.get(f"put.{f}", [])]
    p_tail, p_label = tail(puts)
    live = res.samples.get("live", [])
    l_tail, l_label = tail(live)

    def med(cls):
        v = res.samples.get(cls, [])
        return median(v), "ms", f"n={len(v)}"

    return {
        "res": res, "srv": srv, "stats": stats, "window_s": wall,
        "queries": q, "query_qps": len(q) / wall,
        # beside the reader a put's latency follows the reader's phases
        # (store.dataframe() holds the GIL for ~0.7 s per live query), and
        # its median spread 0.11-0.25 over sets of ten runs; the writer
        # alone does not wait for it.
        # A median per wire format: Influx puts take twice as long, and the
        # median of the mix sits on the edge of the other two formats' times.
        "writes": (statistics.mean(median(v) for v in alone),
                   "put from due time, writer alone, mean of the wire formats' medians, n="
                   + "+".join(str(len(v)) for v in alone)),
        "loadgen": {"late_ms": gen["late_ms"], "cpu_frac": cpu_frac},
        "extra": {
            "meta_p50_ms": med(wl.META),
            "analytics_p50_ms": med(wl.ANALYTICS),
            "live_p50_ms": (median(live), "ms", f"n={len(live)}, beside the writer"),
            "live_tail_ms": (l_tail, "ms", l_label),
            "put_p50_ms": (median(puts), "ms", f"n={len(puts)}, from due time, beside the reader"),
            "put_tail_ms": (p_tail, "ms", f"{p_label}, from due time, beside the reader"),
            "put_dps": (gen["burst_points"] / gen["burst_s"], "1/s",
                        f"{gen['burst_points']} points in the closed-loop burst"),
            "flushes": (float(len(stats.get("flushes", []))), "count",
                        f"at {ctx['flush_rows']} buffered rows"),
        },
        "sizes": {"raw_rows": datagen.fleet_rows(days),
                  "raw_bytes": datagen.dir_bytes(src)},
        "puts": gen["puts"] + k0,  # the traced window holds the first calls' puts too
    }


def corpus_with_oracles(seed: int, docs: int) -> str:
    """The seed's corpus plus each query's DuckDB oracle answer,
    canonicalized, in ``oracle.json`` beside it."""
    def make(path: str) -> None:
        import duckdb

        import ticktock_spark.pipeline.queries  # noqa: F401 — registers the queries
        from check import canon
        from ticktock_spark.queries import ORACLES

        tmp = datagen.gen_corpus(seed, docs, docs, path + ".tmp")
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet'")
        answers = {}
        for q in PIPELINE_QUERIES:
            df = con.sql(ORACLES[q]).df()
            answers[q] = {"columns": sorted(df.columns), "rows": canon(df)}
        con.close()
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump(answers, f)
        os.rename(tmp, path)

    return datagen.cached("corpus", seed, f"{docs}d", make)


def check_sink(sink: str, want: dict) -> tuple[bool, str]:
    import pyarrow.parquet as pq

    from check import canon

    df = pq.read_table(sink).to_pandas()
    for c in df.columns:
        if getattr(df[c].dtype, "tz", None) is not None:
            df[c] = df[c].dt.tz_localize(None)
    if sorted(df.columns) != want["columns"]:
        return False, f"columns {sorted(df.columns)} != {want['columns']}"
    got = [list(r) for r in canon(df)]
    if got != want["rows"]:
        return False, f"{len(got)} rows differ from the oracle's {len(want['rows'])}"
    return True, ""


def run_batch(ctx: dict) -> dict:
    seed = ctx["seed"]
    corpus = corpus_with_oracles(seed, ctx["docs"])
    with open(os.path.join(corpus, "oracle.json")) as f:
        oracle = json.load(f)
    srv = ctx["start"]({"corpus": corpus, "sink": os.path.join(ctx["work"], "sink")})
    res = wl.Result()
    passes = []
    try:
        srv.call("mark")
        spent = 0.0
        # whole passes while another one fits in the window (at least one)
        while not passes or spent + spent / len(passes) <= ctx["seconds"]:
            out = srv.call("batch", names=list(PIPELINE_QUERIES))["queries"]
            passes.append(out)
            spent += sum(r["wall_s"] for r in out)
            for rec in out:  # outside the timed queries
                ok, why = check_sink(rec["sink"], oracle[rec["name"]])
                res.record(None, None, ok, f"{rec['name']}: {why}")
        stats = srv.call("stats")
    finally:
        srv.close()
    # the batch job is this workload's operation: one latency sample per
    # pass (the per-query times are per-layer metrics); a median over seven
    # different queries would just be the run-to-run noise of one of them
    walls = [sum(r["wall_s"] for r in p) for p in passes]
    sink_ms = [1000.0 * sum(r["exec_s"] for r in p) / len(p) for p in passes]
    res.first_calls = {r["name"]: r["wall_s"] for r in passes[0]}
    return {
        "res": res, "srv": srv, "stats": stats, "window_s": sum(walls),
        "queries": [w * 1000.0 for w in walls],
        "query_qps": len(PIPELINE_QUERIES) * len(passes) / sum(walls), "passes": passes,
        "writes": (median(sink_ms), f"sink write per query, mean of a pass, {len(passes)} passes"),
        "loadgen": {"late_ms": 0.0, "cpu_frac": 0.0},
        "extra": {"batch_wall_s": (median(walls), "s", f"{len(walls)} passes")},
        "sizes": {"documents": ctx["docs"], "embeddings": ctx["docs"],
                  "raw_bytes": datagen.dir_bytes(corpus)},
    }


RUNNERS = {"dash_ingest": run_dash_ingest, "pipeline_batch": run_batch}


# -- metrics ------------------------------------------------------------------

def end_to_end(out: dict) -> dict[str, tuple[float, str]]:
    q = out["queries"]
    q_tail, q_label = tail(q)
    kept = out["stats"]["retained_mb"]
    return {
        "setup_s": (out["srv"].ready["setup"]["setup_s"], "setup"),
        "first_call_s": (sum(out["res"].first_calls.values()),
                         f"{len(out['res'].first_calls)} types"),
        "query_p50_ms": (median(q), f"n={len(q)}"),
        "query_tail_ms": (q_tail, q_label),
        "query_qps": (out["query_qps"], f"in {out['window_s']:.1f} s"),
        "write_p50_ms": out["writes"],
        "retained_mb": (sum(kept.values()), "after the window: " + " + ".join(
            f"{k} {v:.0f}" for k, v in kept.items())),
    }


def per_layer(out: dict, workload: str) -> dict[str, float]:
    stats = out["stats"]
    layers = stats.get("layers", {})
    spark = stats.get("spark", {})
    setup = out["srv"].ready["setup"]

    def lt(name, key="total_ms", per=None):
        d = layers.get(name)
        if not d:
            return 0.0
        n = d["calls"] if per is None else per
        return d[key] / n if n else 0.0

    n_ops = max(1, layers.get("http", {}).get("calls", 0)
                or len(PIPELINE_QUERIES) * len(out.get("passes", [])))
    queries = layers.get("planner", {}).get("calls", 0)
    df_busy = layers.get("store.dataframe", {}).get("n_calls", 0)
    flushes = stats.get("flushes", [])
    resp = out["res"].extra.get("resp_bytes", [])
    m = {
        "http.self_ms": lt("http", "self_ms"),
        "http.resp_bytes": sum(resp) / len(resp) if resp else 0.0,
        "parsers.ms": lt("parsers", per=out.get("puts", 0)),
        "parsers.points": float(layers.get("parsers", {}).get("n", 0)),
        "parser.ms": lt("parser"),
        "planner.self_ms": lt("planner", "self_ms"),
        "shape.ms": lt("shape", per=queries),
        "analytics.execute_ms": lt("analytics"),
        "store.add_ms": lt("store.add"),
        # over the dataframe() calls that found buffered rows (the write phase)
        "store.dataframe_ms": lt("store.dataframe", "n_ms", per=df_busy),
        "store.buffer_rows": lt("store.dataframe", "n", per=df_busy),
        "store.flush_ms": 1000.0 * median([f[0] for f in flushes]) if flushes else 0.0,
        "store.flush_rows": median([f[1] for f in flushes]) if flushes else 0.0,
        "store.series_dim_ms": layers.get("store.series_dim", {}).get("total_ms", 0.0),
        "store.rollup_ms": 1000.0 * setup.get("rollup_s", 0.0),
        "session.start_s": setup["session_start_s"],
        "spark.action_ms": lt("spark.action", per=n_ops),
        "spark.cached_plans_after": float(spark.get("cached_plans_after", 0)),
        "jvm.gc_ms": float(spark.get("gc_ms", 0.0)),
        "loadgen.late_ms": out["loadgen"]["late_ms"],
        "loadgen.cpu_frac": out["loadgen"]["cpu_frac"],
    }
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
              "python_eval_ms"):
        m[f"spark.{k}"] = spark.get(k, 0) / n_ops
    m["spark.persist_calls"] = layers.get("spark.persist", {}).get("calls", 0) / n_ops
    m["pipeline.build_s"] = m["pipeline.exec_s"] = m["pipeline.build_jobs"] = 0.0
    for q in PIPELINE_QUERIES:
        short = q.split("_", 1)[0]
        m[f"pipeline.{short}.build_s"] = m[f"pipeline.{short}.exec_s"] = 0.0
    if workload == "pipeline_batch":
        passes = out["passes"]
        m["pipeline.build_s"] = median([sum(r["build_s"] for r in p) for p in passes])
        m["pipeline.exec_s"] = median([sum(r["exec_s"] for r in p) for p in passes])
        m["pipeline.build_jobs"] = median([sum(r.get("build_jobs", 0) for r in p)
                                           for p in passes])
        left = [r.get("cached_plans_after", 0) for p in passes for r in p]
        m["spark.cached_plans_after"] = sum(left) / len(left)
        for q in PIPELINE_QUERIES:
            short = q.split("_", 1)[0]
            recs = [r for p in passes for r in p if r["name"] == q]
            m[f"pipeline.{short}.build_s"] = median([r["build_s"] for r in recs])
            m[f"pipeline.{short}.exec_s"] = median([r["exec_s"] for r in recs])
    return m


def print_server_log(work: str) -> None:
    """The end of the server's log (Spark's stderr) on our stderr."""
    path = os.path.join(work, "server.log")
    if os.path.exists(path):
        with open(path) as f:
            print(f.read()[-4000:], file=sys.stderr)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of this machine's CPUs so far (/proc/stat)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def source_digest(root: str) -> str:
    """A digest of the program's and the benchmark's Python sources, so an
    untraced baseline is only compared with a traced run of the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(root, "ticktock_spark"), HERE):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if not x.startswith((".", "__")))
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def ram_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return math.nan


# -- main ---------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test: a 12-day fleet and a 40-document corpus")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ticktock_spark", "api", "http.py")):
        print("perfbench: run from the repository root (ticktock_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    traces = os.path.join(HERE, ".traces")
    span_file = None
    if args.trace:
        os.makedirs(traces, exist_ok=True)
        span_file = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")

    def start(extra: dict) -> ServerProc:
        cfg = {"cores": cores, "trace": bool(args.trace), "span_file": span_file, **extra}
        return ServerProc(root, work, cfg)

    ctx = {"seed": args.seed, "seconds": args.seconds, "cores": cores, "work": work,
           "start": start,
           "fleet_days": 12 if args.tiny else FLEET_DAYS,
           "alone_puts": 4 if args.tiny else ALONE_PUTS,
           "prefill_rows": 2_000 if args.tiny else PREFILL_ROWS,
           "flush_rows": 4_000 if args.tiny else FLUSH_ROWS,
           "min_live": 2 if args.tiny else MIN_LIVE,
           "docs": 40 if args.tiny else CORPUS_DOCS}
    steal0, total0 = cpu_ticks()
    try:
        out = RUNNERS[args.workload](ctx)
        if out["res"].failed:
            print_server_log(work)
    except BaseException:
        print_server_log(work)
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()

    res = out["res"]
    e2e = end_to_end(out)
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cores={cores} spark=local[{cores}] clients<={cores}")
    for name, (val, note) in e2e.items():
        print(f"{name} = {val:.4f} {END_TO_END[name]}  ({note})")
    rss = out["stats"]["rss_mb"]
    extra = {**out["extra"], "peak_rss_mb": (
        rss["python"] + rss["jvm"], "MB",
        f"VmHWM: python {rss['python']:.0f} + jvm {rss['jvm']:.0f}")}
    for name, (val, unit, note) in extra.items():
        print(f"{name} = {val:.4f} {unit}  ({note})")
    print(f"failed_frac = {res.failed / max(1, res.attempted):.4f}  "
          f"({res.failed} of {res.attempted} attempted)")
    for why in res.errors:
        print(f"  failure: {why}")
    kinds = {k: v for k, v in res.extra.items() if k != "resp_bytes"}
    if kinds:
        print("by type (median ms, n): " + ", ".join(
            f"{k} {median(v):.0f} ({len(v)})" for k, v in kinds.items()))
    for i, p in enumerate(out.get("passes", []), 1):
        print(f"pass {i}: " + ", ".join(
            f"{r['name'].split('_', 1)[0]} {r['build_s']:.2f}+{r['exec_s']:.2f} s" for r in p))
    setup = out["srv"].ready["setup"]
    print("setup: " + ", ".join(f"{k}={v:.3f}" for k, v in setup.items()))
    sizes = dict(out["sizes"])
    sizes["ram_mb"] = round(ram_mb())
    sizes["driver_heap"] = out["srv"].ready["driver_heap"]
    if "rollup_rows" in setup:
        sizes["rollup_rows"] = setup["rollup_rows"]
    print("data: " + json.dumps(sizes))
    print(f"host: cpu steal {100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f}% "
          f"during the run, load average {os.getloadavg()[0]:.2f}")

    size = "-tiny" if args.tiny else ""
    cache_file = os.path.join(datagen.CACHE, f"e2e-{args.workload}{size}-seed{args.seed}-"
                                             f"{source_digest(root)}.json")
    if args.trace:
        metrics = per_layer(out, args.workload)
        if os.path.exists(cache_file):
            with open(cache_file) as f:
                base = json.load(f)
            print("tracing overhead (traced minus untraced, same seed and sources): " + ", ".join(
                f"{n}={val - base[n]:+.4f} {END_TO_END[n]}" for n, (val, _) in e2e.items()))
        else:
            print("tracing overhead: unknown (no untraced run of this seed and these "
                  "sources in this checkout; run --trace 0 first)")
        print(f"spans: {span_file}")
        units = PER_LAYER
    else:
        metrics = {name: val for name, (val, _) in e2e.items()}
        os.makedirs(datagen.CACHE, exist_ok=True)
        with open(cache_file, "w") as f:
            json.dump(metrics, f)
        units = END_TO_END
    missing = [k for k in units if math.isnan(metrics[k])]
    if missing:
        print(f"perfbench: no measurement for {missing}", file=sys.stderr)
        return 1
    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
