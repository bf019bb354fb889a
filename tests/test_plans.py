"""Physical-plan quality guards: pushdown, broadcast, single-shuffle.

These pin the *shape* of the plans the scale design depends on — a
regression that silently drops a pushed filter or turns a broadcast join
into a shuffle join should fail loudly, not just run slower.
"""

from __future__ import annotations

import pytest

import ticktock_spark.pipeline.queries  # noqa: F401
from ticktock_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_scan_filter_pushdown(spark):
    plan = _plan(spark, "q01_scan_tag_filter")
    assert "PushedFilters: [" in plan
    assert "EqualTo(event_type,click)" in plan
    # column pruning: props/tags never read for this query
    assert "props" not in plan


def test_downsample_single_shuffle(spark):
    import re

    plan = _plan(spark, "q02_downsample_avg_1m")
    # formatted mode lists each node in the tree AND a detail section;
    # count the numbered detail headers: partial agg -> ONE shuffle -> final
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "partial_avg" in plan


def test_star_join_broadcasts_dims(spark):
    plan = _plan(spark, "q21_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation never shuffle
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 2
    # the orders date filter reaches the parquet scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_topn_single_scan_no_join_no_cache(spark):
    """top_bottom_n ranks and keeps the N series' rows in one per-series
    aggregation: one parquet scan, no join back to its input and no
    persisted input."""
    import re

    plan = _plan(spark, "q10_top3_series")
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


@pytest.mark.parametrize("name", ["q10_top3_series", "q25_bottom3_series"])
def test_topn_leaves_no_state(spark, state, name):
    """top_bottom_n (q10 top3, q25 bottom3) persists nothing: once its
    frame is collected, and while the frame is still referenced, the
    session has no new persisted RDD and no new CacheManager entry."""
    before = state()
    df = QUERIES[name](spark, SF)
    assert df.collect()
    assert state() == before


def test_bpe_token_ids_single_scan_no_shuffle(spark):
    """q127's id emission is one corpus scan through Arrow stages with
    zero KEYED exchanges — the model state (merge table + vocab) is
    collected and closed over, never joined. A hashpartitioning
    exchange or a join appearing here means the vocab mapping regressed
    into a join. The one allowed exchange is spread_scan's round-robin
    REPARTITION_BY_NUM (local-only: at scale the scan has >= parallelism
    splits and spread_scan adds nothing)."""
    import re

    plan = _plan(spark, "q127_bpe_token_ids")
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", plan, re.M)
    assert all(a.startswith("RoundRobinPartitioning") for a in exchanges), exchanges
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_topn_no_single_partition_exchange(spark):
    """The N rank keys are selected via TakeOrderedAndProject (local
    top-n per partition, merged at the driver), not a global
    Window.orderBy row_number — which would funnel EVERY series key
    through one partition (a straggler at many-million-series
    cardinality)."""
    plan = _plan(spark, "q10_top3_series")
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_single_shuffle_aggregations(spark):
    """Each single-level aggregation pipeline shuffles exactly once on a
    KEY, with map-side partial aggregation ahead of it. q13
    (daily-from-hourly) is deliberately two exchanges: both carry
    partial aggregates, which at scale beats one raw-row repartition.
    q20 additionally carries spread_scan's round-robin repartition
    (local-only: at scale the scan has >= parallelism splits and
    spread_scan adds nothing), so the assert counts KEYED exchanges and
    pins the exact RoundRobinPartitioning count per query — only q20
    may carry one (ADVICE r11: a regression adding an unneeded
    round-robin to the others must not pass silently)."""
    import re

    for name, rr_expected in (
        ("q20_pricing_summary", 1),
        ("q33_exact_dedup", 0),
        ("q12_rollup_1h", 0),
        ("q07_rate", 0),
        ("q05_downsample_p95_10m", 0),
    ):
        plan = _plan(spark, name)
        args = re.findall(
            r"^\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", plan, re.M
        )
        rr = [a for a in args if a.startswith("RoundRobinPartitioning")]
        assert len(rr) == rr_expected, (name, args)
        keyed = [a for a in args if not a.startswith("RoundRobinPartitioning")]
        assert len(keyed) == 1, (name, args)
        assert all(a.startswith("hashpartitioning") for a in keyed), (name, args)


def test_time_filter_pushdown(spark):
    plan = _plan(spark, "q05_downsample_p95_10m")
    assert "EqualTo(event_type,view)" in plan
    plan = _plan(spark, "q20_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the consumed columns only
    assert "l_comment" not in plan


def test_contamination_broadcasts_bench_set(spark):
    """q63's benchmark gram set must broadcast — the corpus side of the
    decontamination screen never shuffles for the join."""
    plan = _plan(spark, "q63_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_equi_join(spark):
    """The bucketed range join must compile to hash/sort-merge equi-joins
    on (key, bucket) — never the nested-loop or cartesian plan Spark
    picks for a raw inequality join."""
    plan = _plan(spark, "q67_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rolling_window_single_shuffle(spark):
    import re

    plan = _plan(spark, "q65_rolling_1h_avg")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_vocab_topk_no_global_sort(spark):
    """Top-k must be TakeOrdered (partial top-k per partition), never a
    full Exchange rangepartitioning + global Sort."""
    plan = _plan(spark, "q61_vocab_topk")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_metadata_served_from_series_dim(spark, tmp_path):
    """/api/suggest and /api/search/lookup must answer from the cached
    series dimension (the analogue of the reference's in-memory metric map,
    tsdb.h:160-164) — never by re-scanning the datapoints fact table."""
    import datetime as dt

    from pyspark.sql import Row

    from ticktock_spark.api.http import TsdbStore
    from ticktock_spark.schema import DATAPOINTS_SCHEMA, series_key, series_tsuid

    rows = [
        Row(metric="m.a", ts=1704067200000 + i * 1000, value=float(i),
            tags={"host": f"h{i % 2}", "dc": "east"}, seq=i,
            dt=dt.date(2024, 1, 1))
        for i in range(20)
    ]
    path = str(tmp_path / "dps")
    spark.createDataFrame(rows, DATAPOINTS_SCHEMA).write.parquet(path)
    store = TsdbStore(spark, base=spark.read.parquet(path))

    dim = store.series_dim()
    got = {r["skey"]: r["tsuid"] for r in dim.collect()}  # materializes cache
    # canonicalization lockstep: Spark skey/tsuid == Python twin
    expect = {}
    for h in ("h0", "h1"):
        k = series_key("m.a", {"host": h, "dc": "east"})
        expect[k] = series_tsuid(k)
    assert got == expect

    # after the one-time index build, metadata plans hit the cache, not the
    # parquet fact table
    plan = store.series_dim()._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    # the only FileScan allowed is the one recorded INSIDE the cached
    # relation's description (the index build); the live plan above the
    # InMemoryRelation boundary must not touch the fact table
    live = plan.split("InMemoryRelation")[0]
    assert "FileScan" not in live and "Scan parquet" not in live


def test_bigram_perplexity_single_scan(spark):
    """The per-doc perplexity scorer must stay a linear plan: ONE corpus
    scan, window-derived LM totals, no self-joins re-executing the
    doc-pair subtree."""
    plan = _plan(spark, "q91_bigram_perplexity")
    import re

    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_boilerplate_scrub_single_scan(spark):
    """scrub_boilerplate must count distinct docs per line via stacked
    windows — ONE corpus scan, no flagged-line self-join."""
    import re

    plan = _plan(spark, "q93_boilerplate_scrub")
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_minhash_xxh64_scan_side_is_native(spark):
    """The xxh64 engine's selling point: NO Python stage before the
    band-key shuffle. Text is hashed by JVM xxhash64 expressions on the
    scan side; the only Python node is the id-only pair enumeration
    AFTER the bucket aggregation (its input schema carries chunked id
    arrays, never text/shingles)."""
    from ticktock_spark.schema import load_table
    from ticktock_spark.pipeline.dedup import minhash_lsh_candidates

    docs = load_table(spark, SF, "documents")
    df = minhash_lsh_candidates(docs, engine="xxh64")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "xxhash64" in plan
    # exactly one Arrow/Python stage (the pair enumerator)
    import re

    py_nodes = re.findall(r"^\((\d+)\) (MapInPandas|ArrowEvalPython)", plan, re.M)
    assert len(py_nodes) == 1, py_nodes
    # the Python stage consumes chunk arrays (ca/cb), not document text:
    # read the node's DETAIL block (numbered header + Input/Arguments)
    num, kind = py_nodes[0]
    detail = plan.split(f"({num}) {kind}")[-1]
    detail = detail[: detail.index("\n\n")] if "\n\n" in detail else detail
    assert "ca#" in detail and "cb#" in detail, detail
    assert "text#" not in detail and "norm#" not in detail and "sh#" not in detail


def test_series_key_lockstep_randomized(spark):
    """schema.series_key/series_tsuid (Python) and series_dim_from
    (Spark expressions) must canonicalize identically for any
    OpenTSDB-legal metric/tag charset plus the escaped delimiters — 300
    seeded-random series incl. empty tag sets, single tags, and
    sort-order-sensitive key sets."""
    import random

    from pyspark.sql import Row

    from ticktock_spark.schema import (
        SERIES_SCHEMA,
        series_dim_from,
        series_key,
        series_tsuid,
    )

    rng = random.Random(42)
    # the escaped delimiters (backslash, comma, equals) are in the
    # alphabet: the Python and the Spark key must escape them alike
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789._-/\\,="

    def word():
        return "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 10)))

    rows = []
    for i in range(300):
        metric = word()
        tags = {word(): word() for _ in range(rng.randint(0, 5))}
        rows.append(
            Row(metric=metric, ts=1704067200000 + i, value=1.0, tags=tags,
                seq=i, dt=None)
        )
    from ticktock_spark.schema import DATAPOINTS_SCHEMA

    df = spark.createDataFrame(rows, DATAPOINTS_SCHEMA)
    got = {r["skey"]: (r["metric"], r["tsuid"])
           for r in series_dim_from(df).collect()}
    expect = {}
    for r in rows:
        k = series_key(r.metric, r.tags)
        expect[k] = (r.metric, series_tsuid(k))
    assert got == expect


def test_load_table_timezone_guard(spark):
    """load_table accepts any zero-offset session tz spelling (a bare
    session on a UTC host reports Etc/UTC) and fails loudly on a real
    offset zone, where the NTZ reinterpretation would silently shift
    epochs."""
    import pytest

    from ticktock_spark.schema import load_table

    key = "spark.sql.session.timeZone"
    orig = spark.conf.get(key)
    try:
        for ok in ("UTC", "Etc/UTC", "GMT"):
            spark.conf.set(key, ok)
            assert load_table(spark, "/root/testdata/sf0.001", "events") is not None
        spark.conf.set(key, "America/New_York")
        with pytest.raises(RuntimeError, match="UTC session timezone"):
            load_table(spark, "/root/testdata/sf0.001", "events")
    finally:
        spark.conf.set(key, orig)


def test_chunk_dedup_single_scan(spark):
    """chunk_dedup must stay a linear plan: ONE corpus scan, tile
    explode, a first-occurrence window, a reassembly agg — no
    flagged-chunk self-join re-executing the explode subtree."""
    import re

    plan = _plan(spark, "q107_chunk_dedup")
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_prepare_corpus_single_scan(spark):
    """prepare_corpus must evaluate quality, digest, dedup, cap, and
    split off ONE text scan — quality rides the projection (gopher
    _struct), the cap's rank and totals share one source partitioning;
    no joined-back flags frame, no totals branch re-executing the
    upstream."""
    import re

    plan = _plan(spark, "q110_prepare_corpus")
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def _scan_counts_by_path(plan: str) -> dict[str, int]:
    """Count `Scan parquet` nodes per source file path in a formatted
    plan — the per-TABLE twin of the single-scan asserts above, for
    operators that legitimately read two different tables."""
    import re

    counts: dict[str, int] = {}
    scans = re.findall(r"^\(\d+\) Scan parquet ?.*\n(?:.+\n)*?Location:.*\[(.*?)\]",
                       plan, re.M)
    for loc in scans:
        key = loc.rsplit("/", 1)[-1] or loc
        counts[key] = counts.get(key, 0) + 1
    return counts


def test_decontaminate_separate_tables_single_corpus_scan(spark, tmp_path):
    """The deployed decontamination shape is a TRAINING corpus screened
    against a SEPARATE eval-suite table (q173/q186's fixture derives
    both sides from one documents.parquet, which is why PLANS.md shows
    that entry scanning it twice — fixture construction, not operator
    cost). Pin the operator's own shape: with two distinct parquet
    tables, the corpus side scans exactly ONCE and the bench side
    exactly once."""
    from ticktock_spark.pipeline.dedup import decontaminate

    corpus_p = str(tmp_path / "corpus.parquet")
    bench_p = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i}") for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(corpus_p)
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta doc 7")],
        "doc_id long, text string",
    ).write.parquet(bench_p)

    out = decontaminate(
        spark.read.parquet(corpus_p), spark.read.parquet(bench_p), n=3
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    counts = _scan_counts_by_path(plan)
    assert counts.get("corpus.parquet") == 1, counts
    assert counts.get("bench.parquet") == 1, counts
    assert out.count() >= 1  # the planted bench doc is flagged


def test_rarity_decontaminate_separate_tables_two_corpus_scans_max(spark, tmp_path):
    """decontaminate_rarity's skew-hardened shape: document frequencies
    come from a map-side-combinable groupBy joined back on the gram key
    (AQE-splittable), which re-executes the 2-column gram explode — so
    the pinned bound is corpus scans == 2 (NOT growing back to the
    fixture's apparent ×N), bench scans == 1."""
    from ticktock_spark.pipeline.dedup import decontaminate_rarity

    corpus_p = str(tmp_path / "corpus_r.parquet")
    bench_p = str(tmp_path / "bench_r.parquet")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i}") for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(corpus_p)
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta doc 7")],
        "doc_id long, text string",
    ).write.parquet(bench_p)

    out = decontaminate_rarity(
        spark.read.parquet(corpus_p), spark.read.parquet(bench_p), n=3
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    counts = _scan_counts_by_path(plan)
    assert counts.get("corpus_r.parquet") == 2, counts
    assert counts.get("bench_r.parquet") == 1, counts


def test_split_leakage_audit_separate_pair_table_single_doc_scan(spark, tmp_path):
    """split_leakage_audit's deployed shape takes an ALREADY-VERIFIED
    pair table (pair-scale parquet, orders of magnitude below corpus
    scale) — q187's fixture recomputes the MinHash pipeline inline,
    which is where PLANS.md's ×7 documents scans come from. Pin the
    operator itself: a separate pairs table joins against the (id,
    split) projection with the docs table scanned exactly TWICE (once
    per join side of the pair endpoints — each a 1-column md5
    projection), the pairs table once."""
    from ticktock_spark.pipeline.cluster import split_leakage_audit

    docs_p = str(tmp_path / "docs_s.parquet")
    pairs_p = str(tmp_path / "pairs_s.parquet")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], "doc_id long, text string"
    ).write.parquet(docs_p)
    spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long"
    ).write.parquet(pairs_p)

    out = split_leakage_audit(
        spark.read.parquet(docs_p),
        spark.read.parquet(pairs_p),
        {"train": 0.8, "valid": 0.1, "test": 0.1},
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    counts = _scan_counts_by_path(plan)
    assert counts.get("docs_s.parquet") == 2, counts
    assert counts.get("pairs_s.parquet") == 1, counts
    assert out.count() >= 1


def test_round9_tsdb_ops_single_scan_no_joins(spark):
    """The round-9 analytics entries must stay single-scan, join-free
    plans: q196's two row_numbers share ONE series exchange (the
    (metric, y) window is satisfied by the metric partitioning), q201's
    three exchanges are the fine→coarse→series map-side agg chain, and
    nothing re-executes the events subtree."""
    import re

    bounds = {
        # (max scans, max exchanges, max windows).
        # q195/q203 are the r10 SEGMENT-STITCHED forms: the in-slice
        # branch and the slice-boundary branch carry different pruned
        # schemas under their windows, so static exchange reuse does
        # not collapse the (2-column) fact scans — 2-3 pruned parallel
        # scans are the designed price for removing the raw-cardinality
        # per-series sort partition (see SCALE.md round 10 and
        # tests/test_segment_stitch.py's raw-window plan assert).
        "q195_interarrival": (2, 6, 6),
        "q196_flatline_runs": (1, 2, 2),
        "q197_gap_report": (1, 2, 1),
        "q198_seasonal_envelope": (1, 2, 2),
        "q201_rollup_error": (1, 3, 0),
        "q202_value_precision": (1, 1, 0),
        "q203_compress_audit": (3, 6, 7),
    }
    for name, (max_scan, max_ex, max_win) in bounds.items():
        plan = _plan(spark, name)
        scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
        ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        win = len(re.findall(r"^\(\d+\) Window", plan, re.M))
        assert scans <= max_scan, (name, scans)
        assert ex <= max_ex, (name, ex)
        assert win <= max_win, (name, win)
        assert "Join" not in plan, name
