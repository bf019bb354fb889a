"""BM25 retrieval, hashed-feature logistic regression, and DSIR
importance weights."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from ticktock_spark.pipeline.classify import (
    BIAS_BUCKET,
    hashed_features,
    lr_quality_scores,
    lr_score,
    lr_train,
)
from ticktock_spark.pipeline.retrieval import (
    bm25_index_topk,
    bm25_topk,
    corpus_stats,
    write_inverted_index,
)
from ticktock_spark.pipeline.sample import dsir_weights

DOCS = [
    (1, "spark shuffles data across the cluster"),
    (2, "spark spark spark everywhere in this doc"),
    (3, "a very long document about many other things entirely with words"),
    (4, "cluster schedulers place tasks"),
    (5, ""),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _ref_bm25(terms, k1=1.2, b=0.75):
    """Single-process reference implementation over DOCS."""
    toks = {d: t.lower().split() for d, t in DOCS}
    n = len(DOCS)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {q: sum(1 for t in toks.values() if q in t) for q in terms}
    out = {}
    for d, t in toks.items():
        score, matched = 0.0, 0
        for q in terms:
            tf = t.count(q)
            if not tf:
                continue
            matched += 1
            idf = math.log(1 + (n - df[q] + 0.5) / (df[q] + 0.5))
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        if matched:
            out[d] = (matched, math.floor(score * 1e6 + 0.5) / 1e6)
    return out


def test_bm25_matches_reference(spark):
    got = {
        r["doc_id"]: (r["n_terms"], r["score"])
        for r in bm25_topk(_docs(spark), ["spark", "cluster"], k=10).collect()
    }
    assert got == _ref_bm25(["spark", "cluster"])
    # tf saturation: doc 2 (tf=3) must not score 3x doc 1 (tf=1)
    assert got[2][1] < 2 * got[1][1]


def test_corpus_stats_counts_empty_docs(spark):
    n, avgdl = corpus_stats(_docs(spark))
    assert n == 5
    assert avgdl == pytest.approx((6 + 7 + 11 + 4 + 0) / 5)


def test_bm25_index_parity_and_pruning(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "idx")
    write_inverted_index(docs, path)
    base = bm25_topk(docs, ["spark", "cluster"], k=10)
    idx = bm25_index_topk(spark, path, ["spark", "cluster"], k=10)
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, idx.collect()))
    # the probe must land in the parquet scan's PartitionFilters
    plan = idx._jdf.queryExecution().executedPlan().toString()
    lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "bucket" in ln
    ]
    assert lines, f"no bucket PartitionFilters in plan:\n{plan}"


def test_hashed_features_bias_and_l1(spark):
    feats = hashed_features(_docs(spark), label=F.lit(1)).collect()
    by_doc: dict[int, list] = {}
    for r in feats:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2, 3, 4, 5}
    for d, rows in by_doc.items():
        bias = [r for r in rows if r["bucket"] == BIAS_BUCKET]
        assert len(bias) == 1 and bias[0]["x"] == 1.0
        token_x = sum(r["x"] for r in rows if r["bucket"] != BIAS_BUCKET)
        assert token_x == pytest.approx(1.0 if d != 5 else 0.0)


def test_lr_learns_separable_label(spark):
    # two vocabularies that share no tokens -> linearly separable
    rows = [(i, "good clean prose here", 1) for i in range(20)] + [
        (i + 100, "zz qq junk spam xx", 0) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    feats = hashed_features(df, label=F.col("y") == 1)
    w = lr_train(feats, steps=8, lr=2.0)
    scores = {
        r["doc_id"]: r["p"]
        for r in lr_score(hashed_features(df), w).collect()
    }
    pos = [scores[i] for i in range(20)]
    neg = [scores[i + 100] for i in range(20)]
    assert min(pos) > max(neg)
    assert min(pos) > 0.6 and max(neg) < 0.4


def test_lr_quality_scores_every_doc(spark):
    out = lr_quality_scores(_docs(spark), F.col("doc_id") <= 2, steps=2)
    got = {r["doc_id"]: r["p"] for r in out.collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert all(0.0 < p < 1.0 for p in got.values())


def test_dsir_weights_prefer_target_like(spark):
    # target slice speaks vocabulary A; one held-out doc of each
    # vocabulary is unlabeled -- the A-like doc must weigh higher
    rows = (
        [(i, "alpha beta gamma delta", True) for i in range(10)]
        + [(i + 50, "omega psi chi phi", False) for i in range(10)]
        + [(200, "alpha beta gamma delta", False), (201, "omega psi chi phi", False)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    got = {
        r["doc_id"]: r["log_w"]
        for r in dsir_weights(df, F.col("is_t")).collect()
    }
    assert got[200] > got[201]
    # empty/zero-token docs keep a row with NULL weight
    df2 = spark.createDataFrame(
        [(1, "alpha", True), (2, "", False)], "doc_id long, text string, is_t boolean"
    )
    out2 = {r["doc_id"]: (r["n_tokens"], r["log_w"]) for r in dsir_weights(
        df2, F.col("is_t")).collect()}
    assert out2[2] == (0, None)
    assert out2[1][0] == 1


def test_bm25_index_append_matches_full_rebuild(spark, tmp_path):
    old = spark.createDataFrame(DOCS, "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "spark cluster spark"), (11, "unrelated words only")],
        "doc_id long, text string",
    )
    from ticktock_spark.pipeline.retrieval import append_inverted_index

    path = str(tmp_path / "idx")
    write_inverted_index(old, path)
    append_inverted_index(new, path, segment="batch1")
    got = bm25_index_topk(spark, path, ["spark", "cluster"], k=10)
    want = bm25_topk(old.unionByName(new), ["spark", "cluster"], k=10)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # segment replay REPLACES, never double-counts (epoch-replay safety)
    append_inverted_index(new, path, segment="batch1")
    again = bm25_index_topk(spark, path, ["spark", "cluster"], k=10)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, want.collect()))


def test_weighted_sample_determinism_and_bias(spark):
    from ticktock_spark.pipeline.sample import weighted_sample

    rows = [(i, 100 if i < 50 else 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    take = lambda: sorted(
        r["doc_id"] for r in weighted_sample(df, F.col("w"), k=100).collect()
    )
    first = take()
    assert first == take()  # idempotent: same (seed, id) -> same sample
    # the 50 heavy rows (weight 100x) must dominate the sample head
    heavy = sum(1 for d in first if d < 50)
    assert heavy >= 40
    # zero/negative/null weights are never drawn
    df2 = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -1), (4, None)], "doc_id long, w int"
    )
    got = weighted_sample(df2, F.col("w"), k=10).collect()
    assert [r["doc_id"] for r in got] == [1]


def test_streaming_index_append_matches_batch(spark, tmp_path):
    """Two micro-batches become two index segments; BM25 over the index
    equals batch BM25 over the union corpus."""
    import json
    import os

    from ticktock_spark.streaming.retrieval import streaming_index_append

    rows0 = DOCS[:3]
    rows1 = [(10, "spark cluster spark"), (11, "other words entirely")]
    (tmp_path / "in").mkdir(exist_ok=True)
    for i, rows in enumerate([rows0, rows1]):
        with open(tmp_path / "in" / f"b{i}.jsonl", "w") as f:
            for did, text in rows:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        os.utime(tmp_path / "in" / f"b{i}.jsonl", (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in"))
    )
    q = streaming_index_append(
        stream, str(tmp_path / "idx"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    union = spark.createDataFrame(
        rows0 + rows1, "doc_id long, text string"
    )
    got = bm25_index_topk(spark, str(tmp_path / "idx"), ["spark", "cluster"], k=10)
    want = bm25_topk(union, ["spark", "cluster"], k=10)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_jl_project_engines_and_distortion(spark):
    """Each component equals a left-to-right fold over d of x[d]·s(b,d)
    times 1/sqrt(out_dim), bit for bit (the SQL fold order q118's oracle
    uses); the projection roughly preserves pairwise geometry (JL
    property, deterministic here: fixed planes + fixed vectors)."""
    import math
    import random

    from ticktock_spark.pipeline.similarity import jl_project, srp_planes

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(64)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {r["vec_id"]: r["jl"] for r in jl_project(df, out_dim=32).collect()}
    planes = srp_planes(32, 64, 11).tolist()
    scale = 1.0 / math.sqrt(32)
    for r in df.collect():  # float32-rounded inputs, as Spark stores them
        want = []
        for plane in planes:
            acc = 0.0
            for x, sgn in zip(r["embedding"], plane):
                acc += x * sgn
            want.append(acc * scale)
        assert a[r["vec_id"]] == want, r["vec_id"]
    assert all(len(v) == 32 for v in a.values())

    def dist(u, v):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(u, v)))

    orig = {r[0]: [float(x) for x in r[1]] for r in rows}
    ratios = []
    ids = sorted(orig)
    for i in ids[:10]:
        for j in ids[10:20]:
            d0 = dist(orig[i], orig[j])
            d1 = dist(a[i], a[j])
            ratios.append(d1 / d0)
    # 32 of 64 dims: distortion concentrated near 1 (loose deterministic bound)
    assert 0.5 < min(ratios) and max(ratios) < 1.6, (min(ratios), max(ratios))


def test_corpus_report_cards(spark):
    from ticktock_spark.pipeline.text import corpus_report

    rows = [
        (1, "alpha beta", "a"),
        (2, "alpha beta", "b"),      # cross-source exact dup of doc 1
        (3, "unique text here", "a"),
        (4, "", "a"),                # zero tokens
        (5, None, "b"),              # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r.asDict() for r in corpus_report(df).collect()}
    assert got["a"]["n_docs"] == 3 and got["b"]["n_docs"] == 2
    # dup counts hit BOTH sources of the pair
    assert got["a"]["n_dup_docs"] == 1 and got["b"]["n_dup_docs"] == 1
    assert got["a"]["n_empty"] == 1 and got["b"]["n_empty"] == 1  # "" and NULL
    assert got["a"]["n_tokens"] == 5 and got["b"]["n_tokens"] == 2
    assert got["a"]["pct_tokens"] + got["b"]["pct_tokens"] == pytest.approx(1.0)


def test_lr_score_expr_matches_join_and_streams(spark, tmp_path):
    """Scan-side inference ≈ the join/agg scorer (fold-order ulp only),
    and runs STATELESS on a stream: per-row results equal the batch."""
    import json
    import os

    from ticktock_spark.pipeline.classify import (
        hashed_features,
        lr_score_expr,
        lr_train,
    )

    rows = [(i, "good clean prose here", 1) for i in range(10)] + [
        (i + 100, "zz qq junk spam xx", 0) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w = lr_train(hashed_features(df, label=F.col("y") == 1), steps=4, lr=2.0)

    batch = {r["doc_id"]: r["p"] for r in lr_score_expr(df, w).collect()}

    (tmp_path / "in").mkdir(exist_ok=True)
    with open(tmp_path / "in" / "b0.jsonl", "w") as f:
        for did, text, _ in rows:
            f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(tmp_path / "in")
    )
    q = (
        lr_score_expr(stream, w)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]: r["p"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert streamed == batch  # identical expression -> identical floats


def test_dsir_snapshot_scoring_matches_fit(spark, tmp_path):
    """Fitting the LLR table on the corpus and scoring the SAME corpus
    with the frozen snapshot reproduces dsir_weights (fold-order ulp);
    the snapshot path also runs stateless on a stream."""
    import json

    from ticktock_spark.pipeline.sample import (
        dsir_llr_table,
        dsir_score_expr,
        dsir_weights,
    )

    rows = (
        [(i, "alpha beta gamma delta", True) for i in range(8)]
        + [(i + 50, "omega psi chi phi", False) for i in range(8)]
        + [(200, "alpha beta unknownword", False), (201, "", False)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    want = {
        r["doc_id"]: (r["n_tokens"], r["log_w"])
        for r in dsir_weights(df, F.col("is_t")).collect()
    }
    llr = dsir_llr_table(df, F.col("is_t"))
    got = {
        r["doc_id"]: (r["n_tokens"], r["log_w"])
        for r in dsir_score_expr(df, llr).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        if want[k][1] is None:
            assert got[k][1] is None
        else:
            assert got[k][1] == pytest.approx(want[k][1], abs=1e-9)

    (tmp_path / "in").mkdir(exist_ok=True)
    with open(tmp_path / "in" / "b0.jsonl", "w") as f:
        for did, text, _ in rows:
            f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(tmp_path / "in")
    )
    q = (
        dsir_score_expr(stream, llr)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]: (r["n_tokens"], r["log_w"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert streamed == got


def test_ks_drift_exact_statistic(spark):
    import bisect
    import random

    from ticktock_spark.operators.drift import ks_drift

    rng = random.Random(11)
    rows = [(round(rng.gauss(0, 1), 2), True) for _ in range(200)] + [
        (round(rng.gauss(0.7, 1.3), 2), False) for _ in range(250)
    ] + [(None, True), (1.0, None)]
    df = spark.createDataFrame(rows, "value double, a boolean")
    got = ks_drift(df, F.col("a"), "value").collect()[0]
    av = sorted(v for v, s in rows if s and v is not None)
    bv = sorted(v for v, s in rows if s is False and v is not None)
    pts = sorted(set(av + bv))
    gaps = [
        (
            abs(
                bisect.bisect_right(av, p) / len(av)
                - bisect.bisect_right(bv, p) / len(bv)
            ),
            p,
        )
        for p in pts
    ]
    d_ref = max(g for g, _ in gaps)
    at_ref = min(p for g, p in gaps if g == d_ref)
    assert got["n_a"] == len(av) and got["n_b"] == len(bv)
    assert got["ks"] == pytest.approx(d_ref, abs=1e-6)
    assert got["ks_at"] == at_ref
    # identical distributions -> D from sampling noise only (same rows: 0)
    df2 = spark.createDataFrame(
        [(float(v), s) for v in range(50) for s in (True, False)],
        "value double, a boolean",
    )
    assert ks_drift(df2, F.col("a"), "value").collect()[0]["ks"] == 0.0


def test_categorical_drift_statistics(spark):
    import math

    from ticktock_spark.operators.drift import categorical_drift

    rows = (
        [("en", True)] * 50 + [("de", True)] * 30 + [("fr", True)] * 20
        + [("en", False)] * 20 + [("de", False)] * 30 + [("fr", False)] * 50
    )
    df = spark.createDataFrame(rows, "lang string, a boolean")
    got = categorical_drift(df, F.col("a"), "lang").collect()[0]
    # reference chi2/psi
    cats = {"en": (50, 20), "de": (30, 30), "fr": (20, 50)}
    ta, tb = 100, 100
    chi2 = sum(
        (na - (na + nb) * ta / (ta + tb)) ** 2 / ((na + nb) * ta / (ta + tb))
        + (nb - (na + nb) * tb / (ta + tb)) ** 2 / ((na + nb) * tb / (ta + tb))
        for na, nb in cats.values()
    )
    k = 3
    psi = sum(
        ((na + 1) / (ta + k) - (nb + 1) / (tb + k))
        * (math.log((na + 1) / (ta + k)) - math.log((nb + 1) / (tb + k)))
        for na, nb in cats.values()
    )
    assert got["n_a"] == ta and got["n_b"] == tb and got["n_categories"] == k
    assert got["chi2"] == pytest.approx(chi2, abs=1e-6)
    assert got["psi"] == pytest.approx(psi, abs=1e-6)
    # identical mixes -> both statistics 0
    same = spark.createDataFrame(
        [("en", s) for s in (True, False)] * 40 + [("de", s) for s in (True, False)] * 10,
        "lang string, a boolean",
    )
    z = categorical_drift(same, F.col("a"), "lang").collect()[0]
    assert z["chi2"] == 0.0 and z["psi"] == 0.0


def test_streaming_drift_monitor(spark, tmp_path):
    """Batch 0 matches the reference (tiny KS), batch 1 is shifted
    (large KS) — the monitor's per-epoch rows say which."""
    import json
    import os

    from ticktock_spark.streaming.drift import streaming_drift_monitor

    ref = spark.createDataFrame(
        [(float(v % 10),) for v in range(200)], "value double"
    )
    b0 = [{"value": float(v % 10)} for v in range(100)]       # same dist
    b1 = [{"value": float(v % 10) + 25.0} for v in range(100)]  # shifted
    (tmp_path / "in").mkdir(exist_ok=True)
    for i, batch in enumerate([b0, b1]):
        with open(tmp_path / "in" / f"b{i}.jsonl", "w") as f:
            for row in batch:
                f.write(json.dumps(row) + "\n")
        os.utime(tmp_path / "in" / f"b{i}.jsonl", (1000 + i, 1000 + i))
    stream = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in"))
    )
    q = streaming_drift_monitor(
        stream, ref, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    rows = {
        r["epoch"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert rows[0]["test"] == "ks:value" and rows[0]["n_ref"] == 200
    assert rows[0]["stat"] == 0.0          # identical distribution
    assert rows[1]["stat"] == 1.0          # fully disjoint supports


def test_intake_report_flags_duplicate_delivery(spark):
    from ticktock_spark.pipeline.sample import intake_report

    corpus = spark.createDataFrame(
        [(i, f"corpus doc number {i} with some words", "en", "s0")
         for i in range(20)],
        "doc_id long, text string, lang string, source string",
    )
    # delivery: 2 docs copied from the corpus, 1 internal dup pair, 1 new
    new = spark.createDataFrame(
        [
            (100, "corpus doc number 3 with some words", "en", "s1"),
            (101, "corpus doc number 7 with some words", "en", "s1"),
            (102, "a fresh never seen document", "de", "s1"),
            (103, "a fresh never seen document", "de", "s1"),
            (104, "another brand new doc entirely", "fr", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = intake_report(new, corpus).collect()[0]
    assert got["n_new"] == 5
    assert got["n_dup_exact"] == 2
    assert got["n_dup_internal"] == 1
    assert got["lang_psi"] > 0.0  # en-only corpus vs mixed delivery
    assert 0.0 <= got["gopher_pass_frac"] <= 1.0


def test_streaming_index_append_soak(spark, tmp_path):
    """10 micro-batches -> 10 segments; the index answer still equals
    batch BM25 over the full union (df/stats stay consistent as
    segments accumulate)."""
    import json
    import os

    from ticktock_spark.streaming.retrieval import streaming_index_append

    vocab = ["spark", "cluster", "data", "task", "node", "word"]
    batches = []
    did = 0
    for b in range(10):
        rows = []
        for _ in range(5):
            text = " ".join(vocab[(did + j) % len(vocab)] for j in range(7))
            rows.append((did, text))
            did += 1
        batches.append(rows)
    (tmp_path / "in").mkdir(exist_ok=True)
    for i, rows in enumerate(batches):
        with open(tmp_path / "in" / f"b{i:02d}.jsonl", "w") as f:
            for r_id, text in rows:
                f.write(json.dumps({"doc_id": r_id, "text": text}) + "\n")
        os.utime(tmp_path / "in" / f"b{i:02d}.jsonl", (1000 + i, 1000 + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in"))
    )
    q = streaming_index_append(
        stream, str(tmp_path / "idx"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    union = spark.createDataFrame(
        [r for rows in batches for r in rows], "doc_id long, text string"
    )
    got = bm25_index_topk(spark, str(tmp_path / "idx"), ["spark", "node"], k=20)
    want = bm25_topk(union, ["spark", "node"], k=20)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    segs = {
        r["segment"]
        for r in spark.read.parquet(str(tmp_path / "idx") + "/stats").collect()
    }
    assert len(segs) == 10


def test_embedding_drift_centroids(spark):
    from ticktock_spark.operators.drift import embedding_drift

    rows = [(i, [1.0, 0.0, 0.0, 0.0], True) for i in range(10)] + [
        (i + 100, [0.0, 1.0, 0.0, 0.0], False) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, a boolean")
    got = embedding_drift(df, F.col("a")).collect()[0]
    assert got["n_a"] == 10 and got["n_b"] == 10
    assert got["centroid_cosine"] == 0.0           # orthogonal centroids
    assert got["centroid_l2"] == pytest.approx(2 ** 0.5, abs=1e-6)
    # identical slices -> cosine 1, distance 0
    same = spark.createDataFrame(
        [(i, [0.5, 0.5], i % 2 == 0) for i in range(20)],
        "vec_id long, embedding array<float>, a boolean",
    )
    z = embedding_drift(same, F.col("a")).collect()[0]
    assert z["centroid_cosine"] == 1.0 and z["centroid_l2"] == 0.0


def test_bm25_require_all(spark):
    got = bm25_topk(
        _docs(spark), ["spark", "cluster"], k=10, require_all=True
    ).collect()
    # only doc 1 contains BOTH terms
    assert [r["doc_id"] for r in got] == [1]
    assert got[0]["n_terms"] == 2


def test_hybrid_rrf_fuses_both_lists(spark):
    from ticktock_spark.pipeline.retrieval import hybrid_rrf

    docs = _docs(spark)
    # embeddings aligned with doc ids: doc 2 nearest to the query (doc 1),
    # then 3, then 4, then 5 (orthogonal-ish tail).
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.5, 0.5, 0.0]),
            (4, [0.1, 0.9, 0.0]),
            (5, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = hybrid_rrf(docs, emb, ["spark", "cluster"], q, k=5, k_lex=3, k_dense=3)
    rows = {r["doc_id"]: r for r in out.collect()}

    # expected: fuse the two lists by hand
    lex = bm25_topk(docs, ["spark", "cluster"], k=3).collect()
    lex_ranks = {r["doc_id"]: i + 1 for i, r in enumerate(lex)}
    dense_ranks = {2: 1, 3: 2, 4: 3}  # cosine order to [1,0,0], self excluded
    for d, r in rows.items():
        le, de = lex_ranks.get(d, 0), dense_ranks.get(d, 0)
        assert r["lex_rank"] == le and r["dense_rank"] == de
        want = (1.0 / (60 + le) if le else 0.0) + (1.0 / (60 + de) if de else 0.0)
        assert r["rrf"] == pytest.approx(want, abs=1e-6)
    # a doc on both lists must outrank an equal-rank single-list doc
    both = [d for d in rows if lex_ranks.get(d) and dense_ranks.get(d)]
    only = [d for d in rows if bool(lex_ranks.get(d)) != bool(dense_ranks.get(d))]
    if both and only:
        assert max(rows[d]["rrf"] for d in only) < max(rows[d]["rrf"] for d in both)


def test_hybrid_rrf_index_backed_parity(spark, tmp_path):
    """The production path — persisted inverted index + persisted IVF
    index, fused with rrf_fuse — must produce the identical fused list
    as the scan-based hybrid_rrf (RRF consumes only ranks, and both
    index searches are rank-parity-pinned against their scan twins)."""
    from pyspark.sql import Window

    from ticktock_spark.pipeline.retrieval import hybrid_rrf, rrf_fuse
    from ticktock_spark.pipeline.similarity import ivf_index_knn, write_ivf_index

    docs = _docs(spark)
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.9, 0.1, 0.0], 0),
            (3, [0.5, 0.5, 0.0], 0),
            (4, [0.1, 0.9, 0.0], 1),
            (5, [0.0, 0.0, 1.0], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    q = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    terms = ["spark", "cluster"]
    want = [
        tuple(r)
        for r in hybrid_rrf(
            docs, emb, terms, q, k=5, k_lex=3, k_dense=3
        ).collect()
    ]

    ipath = str(tmp_path / "inv")
    write_inverted_index(docs, ipath)
    lex = bm25_index_topk(spark, ipath, terms, k=3)
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lex_r = lex.select("doc_id", F.row_number().over(wl).alias("lex_rank"))

    vpath = str(tmp_path / "ivf")
    write_ivf_index(emb, vpath)
    dense = ivf_index_knn(spark, vpath, q, k=3, nprobe=2)  # 2 = all buckets
    dense_r = dense.select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("dense_rank")
    )

    got = [tuple(r) for r in rrf_fuse(lex_r, dense_r, k=5).collect()]
    assert got == want
