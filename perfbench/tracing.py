"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Nothing in the package is edited: ``install()`` wraps each layer's public
functions at run time, patching the name where its caller looks it up
(``ticktock_spark.api.http.parse_query_params``, not the defining module).
Every wrapped call records a span ``(name, start, end, parent, request)``
in memory; ``layer_times()`` turns the spans since ``reset()`` into
per-layer numbers (calls, total and self time). ``SparkCounters`` reads
Spark's own counts from ``statusTracker``, the SQL status store, the
CacheManager and the JVM's GC beans, which all work with the Spark UI
disabled.

A span's self time is its duration minus the time its direct children
cover; children run on the caller's thread, so they nest inside it.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time

# span name -> the (owner import path, attribute) pairs it wraps
WRAPS = {
    "http": [("ticktock_spark.api.http:_Handler", "do_GET"),
             ("ticktock_spark.api.http:_Handler", "do_POST")],
    "parsers": [("ticktock_spark.api.http", "parse_put_line"),
                ("ticktock_spark.api.http", "parse_put_json"),
                ("ticktock_spark.api.http", "parse_influx_line")],
    "parser": [("ticktock_spark.api.http", "parse_query_params"),
               ("ticktock_spark.api.http", "parse_query_json")],
    "planner": [("ticktock_spark.plans.planner:TsdbContext", "execute")],
    "shape": [("ticktock_spark.api.http", "resultset_to_dict")],
    "analytics": [("ticktock_spark.api.analytics", "execute")],
    "store.add": [("ticktock_spark.api.http:TsdbStore", "add")],
    "store.dataframe": [("ticktock_spark.api.http:TsdbStore", "dataframe")],
    "store.flush": [("ticktock_spark.api.http:TsdbStore", "flush")],
    "store.series_dim": [("ticktock_spark.api.http:TsdbStore", "series_dim")],
    "store.rollup": [("ticktock_spark.api.http:TsdbStore", "materialize_rollups")],
    # driver-side Spark actions: the time a caller blocks on executors
    "spark.action": [("pyspark.sql.classic.dataframe:DataFrame", a)
                     for a in ("collect", "count", "toPandas", "take", "head")]
    + [("pyspark.sql.readwriter:DataFrameWriter", a) for a in ("parquet", "save")],
    "spark.persist": [("pyspark.sql.classic.dataframe:DataFrame", a)
                      for a in ("persist", "cache")],
}
# spans that only count their outermost call (actions call one another)
OUTERMOST = {"spark.action"}


def _points(args, out) -> int:
    """Datapoints a parser call returned."""
    if out is None:
        return 0
    return len(out) if isinstance(out, list) else 1


def _buffer_rows(args, out) -> int:
    """Rows in the store's write buffer when ``dataframe()`` returned."""
    return len(args[0]._buffer)


# span name -> what its ``n`` field counts (1 per call otherwise)
COUNTS = {"parsers": _points, "store.dataframe": _buffer_rows}


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    """In-memory span recorder; one per server process."""

    def __init__(self):
        self.spans: list[list] = []  # [name, start_ns, end_ns, parent_idx, req, n]
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._req_ids = itertools.count(1)
        self._window0 = 0

    # -- recording --
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def call(self, name: str, fn, args, kwargs, count=None):
        stack = self._stack()
        if not stack:
            self._tls.req = next(self._req_ids)
        rec = [name, time.perf_counter_ns(), 0, stack[-1] if stack else -1,
               self._tls.req, 1]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            out = fn(*args, **kwargs)
            if count is not None:
                rec[5] = count(args, out)
            return out
        finally:
            rec[2] = time.perf_counter_ns()
            stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        count = COUNTS.get(name)
        outermost = name in OUTERMOST
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if outermost and any(tracer.spans[i][0] == name for i in tracer._stack()):
                return orig(*args, **kwargs)
            return tracer.call(name, orig, args, kwargs, count)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        for name, targets in WRAPS.items():
            for path, attr in targets:
                self.wrap(_resolve(path), attr, name)

    def reset(self) -> None:
        """Start the measured window: later summaries skip earlier spans."""
        with self._lock:
            self._window0 = len(self.spans)

    # -- reporting --
    def layer_times(self) -> dict[str, dict]:
        """name -> {calls, total_ms, self_ms, n, n_calls, n_ms} over the
        window's finished spans; ``n_calls``/``n_ms`` cover the calls whose
        count was above 0 (``dataframe()`` with a non-empty buffer)."""
        with self._lock:
            spans = self.spans[self._window0:]
            w0 = self._window0
        child_ns = [0] * len(spans)
        for s in spans:
            p = s[3] - w0
            if s[2] and p >= 0:
                child_ns[p] += s[2] - s[1]
        out: dict[str, dict] = {}
        for s, child in zip(spans, child_ns):
            if not s[2]:
                continue
            d = out.setdefault(s[0], {"calls": 0, "total_ms": 0.0, "self_ms": 0.0, "n": 0,
                                      "n_calls": 0, "n_ms": 0.0})
            dur = s[2] - s[1]
            d["calls"] += 1
            d["total_ms"] += dur / 1e6
            d["self_ms"] += (dur - child) / 1e6
            d["n"] += s[5]
            if s[5] > 0:
                d["n_calls"] += 1
                d["n_ms"] += dur / 1e6
        return out

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines (name, start, end, parent, request)."""
        with self._lock, open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s[0], "start_ns": s[1], "end_ns": s[2],
                                    "parent": s[3], "request": s[4], "n": s[5]}) + "\n")


# -- Spark-side counters ------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_MS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ('1.2 KiB', '56 ms', '9,436', or the
    multi-task 'total (min, med, max ...)\\n<total> (...)' form) -> its
    total in bytes, milliseconds or units."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return val * _SIZE.get(unit, _TIME_MS.get(unit, 1.0))


SQL_METRICS = {
    "shuffle bytes written": "shuffle_write_bytes",
    "spill size": "spill_bytes",
    "time to run Python workers": "python_eval_ms",
}


class SparkCounters:
    """Deltas of Spark's own counters between ``mark()`` and ``read()``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._job0 = self._exec0 = -1
        self._gc0 = 0.0

    def _gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def max_job(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup()
        return max(ids) if ids else -1

    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _max_exec(self) -> int:
        ex = self._store().executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    def mark(self) -> None:
        self._job0 = self.max_job()
        self._exec0 = self._max_exec()
        self._gc0 = self._gc_ms()

    def cached_plans(self) -> int:
        """Entries in the session's CacheManager (its ``cachedData`` is
        private; read through reflection)."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return int(field.get(cm).size())

    def read(self) -> dict[str, float]:
        st = self.sc.statusTracker()
        jobs = [j for j in st.getJobIdsForGroup() if j > self._job0]
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                si = st.getStageInfo(sid)
                tasks += si.numTasks if si is not None else 0
        out = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
        out.update({v: 0.0 for v in SQL_METRICS.values()})
        store = self._store()
        ex = store.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= self._exec0:
                continue
            wanted = {}
            ms = e.metrics()
            for k in range(ms.size()):
                pm = ms.apply(k)
                if pm.name() in SQL_METRICS:
                    wanted[pm.accumulatorId()] = SQL_METRICS[pm.name()]
            if not wanted:
                continue
            values = {}
            it = store.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            for acc, key in wanted.items():
                if values.get(acc):
                    out[key] += parse_metric(values[acc])
        out["gc_ms"] = self._gc_ms() - self._gc0
        return out


TRACE_CONF = {
    # keep every job/stage/execution of a run for the counters above
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}
