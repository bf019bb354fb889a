"""The benchmark's server process: it hosts the Spark driver.

Started by ``run.py`` as ``python3 perfbench/server.py '<json config>'``.
It sets up the program, prints one ``{"event": "ready", ...}`` line on
stdout and then answers one JSON command per stdin line with one JSON line
on stdout until ``stop``. Spark's own logging goes to stderr.

Set-up (timed as ``setup_s``): SparkSession start, opening the fleet table
behind a ``TsdbHttpServer`` with rollup materialization (HTTP workloads),
and a warm-up Spark job. The batch workload has no HTTP server; its
queries run here on the ``batch`` command.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import threading
import time

T_START = time.perf_counter()


def _status_mb(pid: int, field: str) -> float:
    """A memory field of ``/proc/<pid>/status`` (``VmHWM``: peak resident
    set size, ``VmRSS``: resident set size) in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Flusher(threading.Thread):
    """Calls ``store.flush()`` whenever the write buffer reaches ``rows``."""

    def __init__(self, store, rows: int):
        super().__init__(daemon=True)
        self.store, self.rows = store, rows
        self.stop_evt = threading.Event()
        self.flushes: list[tuple[float, int]] = []  # (seconds, rows)
        self.errors = 0

    def run(self) -> None:
        while not self.stop_evt.wait(0.02):
            if len(self.store._buffer) >= self.rows:
                t0 = time.perf_counter()
                try:
                    n = self.store.flush()
                except Exception as e:  # noqa: BLE001 — reported, never fatal
                    self.errors += 1
                    print(f"flush failed: {e!r}", file=sys.stderr)
                    continue
                self.flushes.append((time.perf_counter() - t0, n))


class Server:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.tracer = None
        if cfg["trace"]:
            from tracing import Tracer

            self.tracer = Tracer()
        self.setup: dict[str, float] = {}
        self.http = None
        self.flusher = None
        self.counters = None

    # -- set-up --
    def start(self) -> dict:
        from pyspark.sql import functions as F

        from ticktock_spark.session import get_spark

        cfg = self.cfg
        conf = {}  # the program's own defaults, heap size included
        if self.tracer is not None:
            from tracing import TRACE_CONF, SparkCounters

            conf.update(TRACE_CONF)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cfg['cores']}]",
            shuffle_partitions=cfg["cores"],
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session_start_s"] = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.install()
            self.counters = SparkCounters(self.spark)
        if cfg.get("table"):
            from ticktock_spark.api.http import TsdbHttpServer

            t0 = time.perf_counter()
            base = self.spark.read.parquet(cfg["table"])
            self.http = TsdbHttpServer(self.spark, base=base, table_path=cfg["table"])
            self.setup["open_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            store = self.http.store
            store.materialize_rollups()
            self.setup["rollup_rows"] = float(
                store.rollup_1h.count() + store.rollup_1d.count())
            self.setup["rollup_s"] = time.perf_counter() - t0
            self.http.start()
            if cfg.get("flush_rows"):
                self.flusher = Flusher(store, cfg["flush_rows"])
                self.flusher.start()
        t0 = time.perf_counter()
        # warm-up: one shuffle, so the first timed call does not pay for
        # the executors' first task
        warm = self.spark.range(0, 4096, numPartitions=self.cfg["cores"])
        warm.groupBy((F.col("id") % 7).alias("k")).count().collect()
        self.setup["warmup_s"] = time.perf_counter() - t0
        self.setup["setup_s"] = time.perf_counter() - T_START
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        return {
            "event": "ready",
            "port": self.http.port if self.http else None,
            "setup": self.setup,
            "driver_heap": self.spark.conf.get("spark.driver.memory"),
        }

    # -- commands --
    def cmd_mark(self, _msg) -> dict:
        """Start of the measured window."""
        if self.tracer is not None:
            self.tracer.reset()
            self.counters.mark()
        if self.flusher is not None:
            self.flusher.flushes.clear()
        return {"ok": True}

    def cmd_batch(self, msg) -> dict:
        """Run registry queries cold, each from its registry call to its
        last row written to a parquet sink."""
        import ticktock_spark.pipeline.queries  # noqa: F401 — registers q3x+
        from ticktock_spark.queries import QUERIES

        out = []
        for name in msg["names"]:
            self.spark.catalog.clearCache()
            jobs0 = self._jobs()
            t0 = time.perf_counter()
            df = self._span("pipeline.build", QUERIES[name], self.spark, self.cfg["corpus"])
            t1 = time.perf_counter()
            jobs1 = self._jobs()
            sink = os.path.join(self.cfg["sink"], name)
            self._span("pipeline.exec", df.write.mode("overwrite").parquet, sink)
            t2 = time.perf_counter()
            rec = {"name": name, "build_s": t1 - t0, "exec_s": t2 - t1,
                   "wall_s": t2 - t0, "sink": sink}
            if self.counters is not None:
                rec["build_jobs"] = jobs1 - jobs0
                rec["cached_plans_after"] = self.counters.cached_plans()
            out.append(rec)
        return {"queries": out}

    def _span(self, name, fn, *args):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.call(name, fn, args, {})

    def _jobs(self) -> int:
        if self.counters is None:
            return 0
        return self.counters.max_job()

    def _retained_mb(self) -> dict[str, float]:
        """What the server keeps once the work is done: the JVM's live heap
        after a full collection, its non-heap and direct buffers, and this
        process's resident set."""
        jvm = self.spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        # Python first: DataFrames in reference cycles pin their JVM objects
        # until Python's cycle collector drops them. The JVM twice: Spark's
        # ContextCleaner frees shuffle and broadcast state only after a
        # collection has found their handles unreachable.
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(1.0)
        jvm.java.lang.System.gc()
        mem = mf.getMemoryMXBean()
        cls = jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean")
        pools = mf.getPlatformMXBeans(cls)
        buffers = sum(pools.get(i).getMemoryUsed() for i in range(pools.size()))
        mib = 1024.0 * 1024.0
        return {"heap": mem.getHeapMemoryUsage().getUsed() / mib,
                "non_heap": (mem.getNonHeapMemoryUsage().getUsed() + buffers) / mib,
                "python": _status_mb(os.getpid(), "VmRSS")}

    def cmd_stats(self, _msg) -> dict:
        if self.flusher is not None:  # let a flush in progress finish
            self.flusher.stop_evt.set()
            self.flusher.join()
        out: dict = {
            "rss_mb": {"python": _status_mb(os.getpid(), "VmHWM"),
                       "jvm": _status_mb(self.jvm_pid, "VmHWM")},
            "retained_mb": self._retained_mb(),
        }
        if self.flusher is not None:
            out["flushes"] = list(self.flusher.flushes)
            out["flush_errors"] = self.flusher.errors
        if self.tracer is not None:
            out["layers"] = self.tracer.layer_times()
            out["spark"] = self.counters.read()
            out["spark"]["cached_plans_after"] = self.counters.cached_plans()
            if self.cfg.get("span_file"):
                self.tracer.dump(self.cfg["span_file"])
        return out

    def stop(self) -> None:
        if self.flusher is not None:
            self.flusher.stop_evt.set()
            self.flusher.join()
        if self.http is not None:
            self.http.stop()
        self.spark.stop()


def main() -> int:
    cfg = json.loads(sys.argv[1])
    srv = Server(cfg)
    print(json.dumps(srv.start()), flush=True)
    handlers = {"mark": srv.cmd_mark, "batch": srv.cmd_batch, "stats": srv.cmd_stats}
    try:
        for line in sys.stdin:
            msg = json.loads(line)
            if msg["cmd"] == "stop":
                break
            print(json.dumps(handlers[msg["cmd"]](msg)), flush=True)
    finally:
        srv.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
