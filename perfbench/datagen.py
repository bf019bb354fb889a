"""Seeded input generation for the benchmark.

Two kinds of input, both a pure function of the seed:

* a metrics *fleet*: ``METRICS`` x ``HOSTS`` (tags ``host`` and ``dc``) at
  a 1-minute cadence, written as a ``dt``-partitioned parquet table in the
  store's datapoint schema (metric, ts, value, tags, seq | dt);
* a text/embedding *corpus*: ``documents.parquet`` and
  ``embeddings.parquet`` in the shape of the repository's test tables (a
  31-word vocabulary, five languages, ``dup`` markers, planted exact and
  near copies; 64-d unit vectors with ten labels), which the pipeline
  registry queries read.

Only values change with the seed; row counts, series and near-copy
structure stay fixed, so every seed asks for the same amount of work.
Generated data is cached per seed under ``perfbench/.cache`` (a later run
with the same seed reuses it) and never counts towards set-up time.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_704_067_200_000  # 2024-01-01 00:00 UTC
MIN_MS, HOUR_MS, DAY_MS = 60_000, 3_600_000, 86_400_000

# Fleet cardinality from the repository's own fixtures: the test tables'
# events have five event types (metrics), and tools/http_concurrency_stress.py
# serves them as an 8-host tag fleet per metric. Four gauges and one
# monotonic counter (the rate query's input).
METRICS = ("sys.cpu.user", "sys.mem.used", "sys.disk.used", "net.bytes.in", "app.latency")
COUNTER = "net.bytes.in"
N_HOSTS = 8
N_DCS = 2
HOSTS = tuple(f"h{i:02d}" for i in range(N_HOSTS))


def host_dc(host: str) -> str:
    return f"dc{int(host[1:]) % N_DCS}"


CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

_TAGS_T = pa.map_(pa.string(), pa.string())
FLEET_SCHEMA = pa.schema(
    [
        ("metric", pa.string()),
        ("ts", pa.int64()),
        ("value", pa.float64()),
        ("tags", _TAGS_T),
        ("seq", pa.int64()),
    ]
)


def _fleet_day(rng: np.random.Generator, day: int, seq0: int, counters: np.ndarray):
    """One day of the fleet, every series at every minute (aligned)."""
    minutes = np.arange(1440, dtype=np.int64)
    ts = T0_MS + day * DAY_MS + minutes * MIN_MS
    metric_col, ts_col, val_col, tag_col = [], [], [], []
    for metric in METRICS:
        for hi, host in enumerate(HOSTS):
            if metric == COUNTER:
                inc = rng.integers(1_000, 50_000, size=1440)
                vals = counters[hi] + np.cumsum(inc)
                counters[hi] = vals[-1]
                vals = vals.astype(np.float64)
            elif metric == "app.latency":
                vals = np.round(rng.lognormal(3.0, 0.6, size=1440), 2)
            else:
                phase = 2 * np.pi * (minutes / 1440.0)
                base = 40.0 + 10.0 * hi / N_HOSTS + 15.0 * np.sin(phase)
                vals = np.round(base + rng.normal(0.0, 5.0, size=1440), 2)
            metric_col.append(np.full(1440, metric, dtype=object))
            ts_col.append(ts)
            val_col.append(vals)
            tag_col.extend([[("host", host), ("dc", host_dc(host))]] * 1440)
    n = fleet_rows(1)
    return pa.table(
        [
            pa.array(np.concatenate(metric_col), pa.string()),
            pa.array(np.concatenate(ts_col), pa.int64()),
            pa.array(np.concatenate(val_col), pa.float64()),
            pa.array(tag_col, _TAGS_T),
            pa.array(np.arange(seq0, seq0 + n, dtype=np.int64), pa.int64()),
        ],
        schema=FLEET_SCHEMA,
    )


def fleet_rows(days: int) -> int:
    return days * 1440 * len(METRICS) * N_HOSTS


def gen_fleet(seed: int, days: int, out_dir: str) -> str:
    """Write ``days`` days of the fleet under ``out_dir`` (one file per
    ``dt=YYYY-MM-DD`` partition) and return ``out_dir``."""
    rng = np.random.default_rng([seed, days, 1])
    counters = rng.integers(0, 1_000_000, size=N_HOSTS).astype(np.int64)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    seq = 1
    for day in range(days):
        part = _fleet_day(rng, day, seq, counters)
        seq += part.num_rows
        d = dt.date(2024, 1, 1) + dt.timedelta(days=day)
        os.makedirs(f"{tmp}/dt={d.isoformat()}")
        pq.write_table(part, f"{tmp}/dt={d.isoformat()}/part-0.parquet")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


# -- corpus ------------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10


def _doc_text(rng: np.random.Generator) -> str:
    words = list(rng.choice(VOCAB, size=int(rng.integers(8, 90))))
    if rng.random() < 0.05:
        words += ["dup"] * int(rng.integers(1, 3))
    return " ".join(words)


def gen_corpus(seed: int, n_docs: int, n_vecs: int, out_dir: str) -> str:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``out_dir``. Every 25th document is a near copy (one word replaced)
    and every 50th an exact copy of an earlier one, so dedup and
    near-duplicate stages always have the same amount of real work."""
    rng = np.random.default_rng([seed, n_docs, 2])
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 50 and i % 50 == 0:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 25 and i % 25 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
        else:
            texts.append(_doc_text(rng))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[int(k)] for k in rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{int(k)}" for k in rng.integers(0, N_SOURCES, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, size=n_vecs).astype(np.int32)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(docs, f"{tmp}/documents.parquet")
    pq.write_table(embs, f"{tmp}/embeddings.parquet")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


def _generator_digest() -> str:
    """A digest of the generator's and the checks' sources: cached inputs
    and oracle answers from an older generator are never reused."""
    h = hashlib.sha256()
    for name in ("datagen.py", "check.py"):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def cached(kind: str, seed: int, size: str, make) -> str:
    """Path of the cached input ``kind``/``size`` for ``seed``; ``make(path)``
    builds it on a miss."""
    path = os.path.join(CACHE, f"{kind}-{size}-seed{seed}-{_generator_digest()}")
    if not os.path.isdir(path):
        os.makedirs(CACHE, exist_ok=True)
        make(path)
    return path


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )
