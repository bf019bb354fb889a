"""Adversarial-data regression: a seeded tools/fuzz_testdata.py dir (edge
cases the driver's fixed testdata never contains — empty/unicode/dup
documents, duplicate timestamps, bucket- and predicate-boundary rows,
duplicate embeddings) run through the Spark-vs-DuckDB differential for
the most semantics-sensitive registry queries.

The full 96-query fuzz sweep lives in tools/ (`fuzz_testdata.py` then
`diff_sf.py <dir>`); this pins the subset that caught real divergences
when first run (empty-doc '' vs NULL in q75/q76, DECIMAL(18,2) overflow
in the q84 oracle) plus the dedup/downsample/percentile edges.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import ticktock_spark.pipeline.queries  # noqa: F401 — registers pipeline queries
from ticktock_spark.queries import ORACLES, QUERIES
from ticktock_spark.schema import TESTDATA_TABLES
from tools.fuzz_testdata import generate

SUBSET = [
    "q02_downsample_avg_1m",   # bucket-boundary points
    "q05_downsample_p95_10m",  # R-6 percentile on tiny/tied buckets
    "q14_dedup_last_wins",     # duplicate-timestamp clusters
    "q16_0all_first_last",     # first/last with ties
    "q33_exact_dedup",         # exact-dup document cluster
    "q34_minhash_lsh",         # near-dup cluster + empty docs
    "q37_embedding_neardup",   # duplicate + tiny-norm vectors
    "q65_rolling_1h_avg",      # boundary rows entering/leaving frames
    "q75_collapse_repeats",    # empty/whitespace docs ('' vs NULL)
    "q76_vocab_cap",           # empty docs through vocab capping
    "q84_rolling_zscore",      # decimal moments at value extremes
    "q92_boilerplate_lines",   # shared boilerplate cluster
    "q20_pricing_summary",     # shipdate exactly on the <= boundary
    "q21_revenue_by_nation",   # orderdate on [start, end) bounds + orphan FK
    "q100_semantic_dedup",     # duplicate/tiny-norm vectors through CC closure
    "q101_source_cap",         # cap vs sources smaller than the cap
    # the all-NULL-value series (default-on since r11): the 5 entries
    # whose NULL/NaN group semantics diverged across engines before the
    # r11 alignment (NULL-value rows dropped at the scan, both sides)
    "q85_percentile_rollup",
    "q148_ewma_baseline",
    "q153_rolling_p95",
    "q157_anomaly_ensemble",
    "q194_histogram_quantile",
    "q203_compress_audit",     # all-NULL series through the r10 n_rep==0 guard
    # operators with a single engine (their DuckDB oracle is the spec):
    # the production kernels on the adversarial corpus
    "q94_winnowing_fp",        # hashlib winnowing on empty/unicode docs
    "q95_winnowing_overlap",   # shared-fingerprint pairs over dup clusters
    "q109_pq_knn",             # numpy PQ argmin on duplicate/tiny-norm vectors
    "q112_bpe_train",          # driver-local merge loop, tie rule
    "q113_bpe_encode",         # heap replay on empty/unicode docs
    "q118_jl_project",         # sequential-fold projection, full precision
    "q120_bpe_fertility",      # train + encode + lang join
    "q152_containment_pairs",  # containment over dup/empty docs
    "q169_containment_windowed",  # tile band keys over the fuzz corpus
    "q181_theilsen_trend",     # numpy pair kernel on the all-NULL series
]


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fuzz")
    generate(str(d), seed=7)
    return str(d)


@pytest.fixture(scope="module")
def con(fuzz_dir):
    c = duckdb.connect()
    for t in TESTDATA_TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fuzz_dir}/{t}.parquet'")
    return c


def _canon(df):
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle_on_fuzz_data(spark, con, fuzz_dir, name):
    got = QUERIES[name](spark, fuzz_dir).toPandas()
    exp = con.sql(ORACLES[name]).df()
    assert sorted(got.columns) == sorted(exp.columns)
    assert len(got) == len(exp), f"{name}: {len(got)} rows != {len(exp)}"
    cg, ce = _canon(got), _canon(exp)
    mismatches = [(a, b) for a, b in zip(cg, ce) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
