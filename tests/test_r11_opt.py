"""Round-11 optimization parity tests: the rewritten hot paths must
produce byte-identical rows to the engines they replaced.

- theil_sen (numpy pair kernel) vs the rows the pure-expression
  pair-array engine it replaced returned, recorded as literals —
  including a NULL-value series and duplicate-bucket (equal-x) input;
- cosine_argmax_partials + global max_by vs cosine_scores + max_by
  (the q190 shape) — the per-block partial argmax must reduce to the
  same global winner under the (cosine, -vec_id) order.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row, functions as F

from ticktock_spark.operators.robust import theil_sen
from ticktock_spark.pipeline import similarity as sim

HOUR = 3_600_000


def _collect_sorted(df):
    cols = df.columns
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _theilsen_frame(spark, seed=1107, n_series=4, null_series=True):
    rng = random.Random(seed)
    rows = []
    for s in range(n_series):
        base = rng.uniform(-50, 50)
        slope = rng.uniform(-2, 2)
        nb = rng.randint(2, 60)
        for i in sorted(rng.sample(range(120), nb)):
            rows.append(
                Row(
                    metric=f"m{s}",
                    ts=i * HOUR,
                    value=base + slope * i + rng.uniform(-5, 5),
                )
            )
    if null_series:
        # all-NULL-value series: slope must come back NULL
        for i in range(6):
            rows.append(Row(metric="mnull", ts=i * HOUR, value=None))
    return spark.createDataFrame(rows, "metric string, ts long, value double")


def test_theilsen_arrow_matches_hof(spark):
    # (metric, n, n_pairs, slope) as the pure-expression engine computed
    # them for this frame
    hof = [
        ("m0", 28, 378, 1.146462),
        ("m1", 32, 496, 0.943595),
        ("m2", 13, 78, 0.87057),
        ("m3", 17, 136, 1.136785),
        ("mnull", 6, 15, None),
    ]
    df = _theilsen_frame(spark)
    assert _collect_sorted(theil_sen(df, ["metric"], HOUR)) == hof


def test_theilsen_arrow_matches_hof_duplicate_buckets(spark):
    # two rows land in one bucket: equal-x pairs must be skipped (5 of
    # the 6 index pairs remain), as the pure-expression engine did
    rows = [
        Row(metric="m", ts=0, value=1.0),
        Row(metric="m", ts=10, value=3.0),  # same bucket as ts=0
        Row(metric="m", ts=HOUR, value=2.0),
        Row(metric="m", ts=2 * HOUR, value=5.0),
    ]
    df = spark.createDataFrame(rows)
    assert _collect_sorted(theil_sen(df, ["metric"], HOUR)) == [("m", 4, 5, 1.0)]


def test_theilsen_arrow_single_bucket_dropped(spark):
    rows = [Row(metric="m", ts=0, value=1.0), Row(metric="m", ts=10, value=2.0)]
    df = spark.createDataFrame(rows)
    assert theil_sen(df, ["metric"], HOUR).count() == 0


def test_theilsen_arrow_max_buckets_guard(spark):
    rows = [Row(metric="m", ts=i * HOUR, value=float(i)) for i in range(12)]
    df = spark.createDataFrame(rows)
    with pytest.raises(Exception, match="max_buckets"):
        theil_sen(df, ["metric"], HOUR, max_buckets=10).collect()


def _emb_frame(spark, seed=42, n=90, dim=8, n_ties=12):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append(
            Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(dim)])
        )
    # exact twins: quantized-cosine ties that exercise the -vec_id tiebreak
    for i in range(n_ties):
        rows.append(Row(vec_id=n + i, embedding=list(rows[i]["embedding"])))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_argmax_partials_matches_full_scores(spark):
    e = _emb_frame(spark)
    q = e.select(F.col("vec_id").alias("query_id"), "embedding")
    agg = lambda scored: scored.groupBy("query_id").agg(  # noqa: E731
        F.max_by("vec_id", F.struct(F.col("cosine"), (-F.col("vec_id")))).alias(
            "vec_id"
        )
    )
    full = agg(sim.cosine_scores(e, q))
    partial = agg(sim.cosine_argmax_partials(e, q, min_parallelism=4))
    assert _collect_sorted(full) == _collect_sorted(partial)


def test_cosine_argmax_partials_rejects_string_ids(spark):
    e = spark.createDataFrame(
        [Row(vec_id="a", embedding=[1.0, 0.0])],
        "vec_id string, embedding array<float>",
    )
    q = e.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="integral id"):
        sim.cosine_argmax_partials(e, q)


def _centroid_agreement_spec(spark, df):
    """The pre-r11 min_by reference for centroid_label_agreement:
    struct-ordered argmin over the scored table (forces SortAggregate —
    kept here only as the correctness spec for the packed-long argmax)."""
    q6 = lambda c: F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0  # noqa: E731
    cent = (
        df.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(
                F.floor(
                    F.col("x").cast("double") * 1000000.0 + F.lit(0.5)
                ).cast("decimal(38,0)")
            ).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            "label",
            "pos",
            (
                F.floor(F.col("s").cast("double") / F.col("c") + F.lit(0.5))
                / F.lit(1_000_000.0)
            ).alias("m"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
        .select(F.col("label").alias("c_label"), "cv")
    )
    ev = df.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("ed"),
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    dot = fold(F.zip_with("ed", "cv", lambda a, b: a * b))
    n_e = F.sqrt(fold(F.transform("ed", lambda a: a * a)))
    n_c = F.sqrt(fold(F.transform("cv", lambda b: b * b)))
    scored = (
        ev.crossJoin(F.broadcast(cent))
        .withColumn("__ne", n_e)
        .withColumn("__nc", n_c)
        .filter((F.col("__ne") > 0) & (F.col("__nc") > 0))
        .select(
            "vec_id",
            "label",
            "c_label",
            q6(dot / (F.col("__ne") * F.col("__nc"))).alias("cosine"),
        )
    )
    best = scored.groupBy("vec_id", "label").agg(
        F.min_by(
            "c_label",
            F.struct((-F.col("cosine")).alias("nc"), F.col("c_label")),
        ).alias("pred")
    )
    return best.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("pred") == F.col("label"), 1))
        .cast("long")
        .alias("n_match"),
        q6(
            F.count(F.when(F.col("pred") == F.col("label"), 1)).cast("double")
            / F.count(F.lit(1))
        ).alias("agreement"),
    )


def test_centroid_agreement_packed_argmax_matches_minby_spec(spark):
    # random frame + planted exact ties (twin vectors under two labels)
    from ticktock_spark.pipeline.similarity import centroid_label_agreement

    rng = random.Random(7)
    rows = []
    for i in range(120):
        rows.append(
            Row(
                vec_id=i,
                embedding=[rng.uniform(-1, 1) for _ in range(6)],
                label=f"c{i % 5}",
            )
        )
    for i in range(15):  # exact twins across labels -> quantized ties
        rows.append(
            Row(
                vec_id=200 + i,
                embedding=list(rows[i]["embedding"]),
                label=f"c{(i + 1) % 5}",
            )
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    got = _collect_sorted(centroid_label_agreement(df))
    want = _collect_sorted(_centroid_agreement_spec(spark, df))
    assert got == want


def test_centroid_agreement_label_with_only_null_vectors(spark):
    # A label whose every vector is NULL/empty never reaches posexplode,
    # so it is absent from the centroid frame while still present as a
    # true label. The packed argmax must keep labels that sort AFTER it
    # matching correctly (the match bit sidesteps lid->label unpacking,
    # so centroid-frame lids shifting past the hole is harmless).
    from ticktock_spark.pipeline.similarity import centroid_label_agreement

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0], label="a"),
        Row(vec_id=2, embedding=[1.0, 0.1], label="a"),
        # "b" has only NULL / empty vectors -> no centroid
        Row(vec_id=3, embedding=None, label="b"),
        Row(vec_id=4, embedding=[], label="b"),
        Row(vec_id=5, embedding=[0.0, 1.0], label="c"),
        Row(vec_id=6, embedding=[0.1, 1.0], label="c"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    got = _collect_sorted(centroid_label_agreement(df))
    want = _collect_sorted(_centroid_agreement_spec(spark, df))
    assert got == want
    out = {r[0]: r for r in got}
    # every "c" vector must still predict "c" (lid NOT shifted by "b")
    assert out["c"][2] == 2  # n_match


def _acf_join_spec(df, series_cols, max_lag, bucket_ms):
    """The pre-r11 acf: broadcast lag fan-out + (series, shifted-ts)
    self equi-join — kept as the correctness spec for the range-frame
    window rewrite."""
    from ticktock_spark.operators.correlate import pearson_moments

    micro = F.floor(F.col("value") * F.lit(1_000_000.0) + F.lit(0.5)).cast(
        "long"
    )
    base = df.select(*series_cols, F.col("ts").alias("ts"), micro.alias("x"))
    lags = df.sparkSession.range(1, int(max_lag) + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    expanded = base.crossJoin(F.broadcast(lags)).withColumn(
        "__tts",
        F.col("ts") + F.col("lag").cast("long") * F.lit(int(bucket_ms)),
    )
    shifted = base.select(
        *[F.col(c).alias(f"__r_{c}") for c in series_cols],
        F.col("ts").alias("__ots"),
        F.col("x").alias("y"),
    )
    cond = [expanded[c] == shifted[f"__r_{c}"] for c in series_cols]
    cond.append(expanded["__tts"] == shifted["__ots"])
    jd = expanded.join(shifted, cond)
    return pearson_moments(jd, [*series_cols, "lag"])


def _acf_frame(spark, seed=2203):
    # bucketed series with MISSING buckets (pairs must drop, not
    # interpolate), a NULL-value bucket (row exists: pairs count toward
    # n, sums skip it), and a constant series (zero variance -> NULL r)
    rng = random.Random(seed)
    rows = []
    for s in range(5):
        for i in sorted(rng.sample(range(60), rng.randint(10, 45))):
            rows.append(
                Row(metric=f"m{s}", ts=i * 60_000, value=rng.uniform(-99, 99))
            )
    rows.append(Row(metric="m0", ts=61 * 60_000, value=None))
    rows.append(Row(metric="m0", ts=62 * 60_000, value=None))
    for i in range(12):
        rows.append(Row(metric="mconst", ts=i * 60_000, value=7.25))
    return spark.createDataFrame(rows, "metric string, ts long, value double")


def test_acf_window_matches_join_spec(spark):
    from ticktock_spark.operators.correlate import acf

    df = _acf_frame(spark)
    for max_lag in (1, 5, 8):
        got = _collect_sorted(acf(df, ["metric"], max_lag, 60_000))
        want = _collect_sorted(_acf_join_spec(df, ["metric"], max_lag, 60_000))
        assert got == want, f"max_lag={max_lag}"


def test_source_word_entropy_postfilter_matches_prefilter(spark):
    """r11: source_word_entropy drops empty-norm docs via a post-explode
    tok != '' filter (ONE normalize_text evaluation, inside the Generate)
    instead of the pre-filter on length(norm) > 0 that made the Filter
    node re-evaluate the whole regex chain per row. The two forms admit
    exactly the same token multiset: normalize_text output is trimmed
    with single interior spaces, so a nonempty norm never splits into an
    empty token, and an empty norm splits into exactly [''] which the
    post-filter drops (NULL text yields a NULL array that explode drops
    under both forms)."""
    from ticktock_spark.pipeline import text as tx

    rows = [
        ("a", None),
        ("a", ""),
        ("a", "   \t  "),
        ("b", "!!! ?? ,,"),
        ("b", "Hello, World"),
        ("b", "a  b\tc"),
        ("c", "THE the the"),
        ("c", "x"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")

    norm = tx.normalize_text(F.col("text"))
    old_t = df.filter(F.length(norm) > 0).select(
        "source", F.explode(F.split(norm, r"\s+")).alias("tok")
    )
    new_t = df.select(
        "source", F.explode(F.split(norm, r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    assert sorted(map(tuple, old_t.collect())) == sorted(
        map(tuple, new_t.collect())
    )

    got = {
        r["source"]: (r["n_tokens"], r["vocab"])
        for r in tx.source_word_entropy(df).collect()
    }
    exp = {
        r["source"]: (r["n"], r["v"])
        for r in old_t.groupBy("source")
        .agg(F.count("*").alias("n"), F.count_distinct("tok").alias("v"))
        .collect()
    }
    assert got == exp


def test_bpe_post_udf_filter_matches_prefilter(spark):
    """r11: both Arrow BPE paths drop no-token docs AFTER the UDF
    (filter on the nondeterministic output column) instead of the
    size(_t) > 0 pre-filter that re-evaluated the whole tokens() chain
    in the Filter node. Row sets coincide: token_ids == [] iff
    _t == [] (every word replays to >= 1 id/symbol). Pin the edge
    shapes (NULL / empty / whitespace / punct-only text) and the
    (n_words, n_subwords) rows the SQL replace-chain engine it was
    checked against returned."""
    from ticktock_spark.pipeline import text as tx

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "  !! ?? "),
            (4, "low lower lowest"),
            (5, "aa ab aa"),
        ],
        "doc_id long, text string",
    )
    merges = spark.createDataFrame(
        [(1, "l", "o"), (2, "lo", "w")], "rank int, a string, b string"
    )

    ids = tx.bpe_encode_ids(docs, merges).collect()
    assert sorted(r["doc_id"] for r in ids) == [4, 5]
    assert all(r["n_tokens"] == len(r["token_ids"]) > 0 for r in ids)

    enc = {
        r["doc_id"]: (r["n_words"], r["n_subwords"])
        for r in tx.bpe_encode(docs, merges).collect()
    }
    assert enc == {4: (3, 8), 5: (3, 6)}


def _old_decode_netpbm_spec(payload: bytes):
    """The pre-r11 pure-Python loop form of _decode_netpbm (luma
    generator + per-byte histogram), kept verbatim as the parity spec."""
    if not payload.startswith((b"P5", b"P6")):
        return None
    pos, toks = 2, []
    n = len(payload)
    while len(toks) < 3 and pos < n:
        c = payload[pos]
        if c in b" \t\r\n":
            pos += 1
        elif c == ord("#"):
            while pos < n and payload[pos] not in b"\r\n":
                pos += 1
        else:
            start = pos
            while pos < n and payload[pos] not in b" \t\r\n":
                pos += 1
            tok = payload[start:pos]
            if not tok.isdigit():
                return None
            toks.append(int(tok))
    if len(toks) < 3 or pos >= n:
        return None
    w, h, maxval = toks
    if maxval > 255 or w <= 0 or h <= 0:
        return None
    pos += 1
    ch = 3 if payload.startswith(b"P6") else 1
    raster = payload[pos : pos + w * h * ch]
    if len(raster) < w * h * ch:
        return None
    if ch == 1:
        gray = bytes(raster)
    else:
        gray = bytes(
            (raster[i] * 19595 + raster[i + 1] * 38470 + raster[i + 2] * 7471)
            >> 16
            for i in range(0, len(raster), 3)
        )
    hist256 = [0] * 256
    for b in gray:
        hist256[b] += 1
    npix = max(1, w * h)
    mean = sum(i * c for i, c in enumerate(hist256)) / npix
    bins = [float(sum(hist256[i : i + 32])) for i in range(0, 256, 32)]
    return w, h, mean, bins


def test_netpbm_vectorized_decode_matches_loop_spec():
    """r11: _decode_netpbm's numpy luma/bincount path must be
    bit-identical to the pure-Python loop form on random P5/P6 payloads
    (including boundary-luma pixels like RGB(100,0,150)) and agree on
    every malformed-payload rejection."""
    import random

    from ticktock_spark.pipeline.multimodal import _decode_netpbm

    rng = random.Random(11)
    payloads = []
    for _ in range(12):
        w, h = rng.randint(1, 37), rng.randint(1, 29)
        raster = bytes(rng.randrange(256) for _ in range(w * h * 3))
        payloads.append(b"P6\n# c\n%d %d\n255\n" % (w, h) + raster)
        grayr = bytes(rng.randrange(256) for _ in range(w * h))
        payloads.append(b"P5 %d %d 255 " % (w, h) + grayr)
    # the documented boundary pixel + malformed shapes
    payloads.append(b"P6 1 1 255 " + bytes([100, 0, 150]))
    payloads.append(b"P6 2 1 255 " + bytes([1, 2]))  # short raster
    payloads.append(b"P5 1 1 999 \x00")  # 16-bit maxval
    payloads.append(b"JUNK")
    for p in payloads:
        got, exp = _decode_netpbm(p), _old_decode_netpbm_spec(p)
        assert got == exp, p[:24]


def test_fake_decode_vectorized_matches_loop_spec(spark):
    """r11: the fake engine's bincount mean/feature must equal the old
    per-payload sum()/count() forms bit-for-bit (empty payload
    included)."""
    import random

    from ticktock_spark.pipeline.multimodal import decode_and_featurize

    rng = random.Random(7)
    rows = []
    for i in range(6):
        size = rng.choice([0, 1, 17, 256, 1024])
        payload = bytes(rng.randrange(256) for _ in range(size))
        rows.append(
            (i, payload, {"width": 8, "height": 4, "duration_ms": 100})
        )
    df = spark.createDataFrame(
        rows,
        "doc_id long, media binary, "
        "media_meta struct<width:int,height:int,duration_ms:int>",
    )
    got = {
        r["doc_id"]: (r["mean_byte"], r["feature"])
        for r in decode_and_featurize(df).collect()
    }
    for i, payload, _m in rows:
        mean = float(sum(payload)) / len(payload) if len(payload) else 0.0
        feat = [float(payload.count(bytes([v]))) for v in range(0, 256, 32)]
        assert got[i] == (mean, feat), i


def test_winnowing_null_empty_guard_matches_prefilter(spark):
    """r11: winnowing_fingerprints drops empty-norm docs with a
    kernel-side skip instead of a plan-level filter(length(norm) > 0)
    that re-evaluated the normalize regex chain in the Filter node.
    Parity vs the old pre-filter spec on NULL / empty / punct-only /
    shorter-than-k / normal docs, plus overlap_pairs end-to-end."""
    import hashlib

    from ticktock_spark.pipeline import text as tx

    rows = [
        (1, None),
        (2, ""),
        (3, " !! ?? "),
        (4, "ab"),  # norm shorter than k
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "the quick brown fox jumps over the lazy cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k, w = 5, 4

    # expected (old pre-filter spec), computed in pure Python from the
    # JVM-normalized text
    norms = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", tx.normalize_text(F.col("text")).alias("n")
        ).collect()
    }
    exp = {}
    for did, nrm in norms.items():
        if not nrm:  # None or '' — the old filter(length(norm) > 0)
            continue
        hs = [
            hashlib.md5(nrm[i : i + k].encode()).hexdigest()[:8]
            for i in range(max(len(nrm) - k + 1, 1))
        ]
        exp[did] = {min(hs[j : j + w]) for j in range(max(len(hs) - w + 1, 1))}

    got = {}
    for r in tx.winnowing_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    assert got == exp

    pairs = tx.winnowing_overlap_pairs(df, min_shared=2).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(5, 6)]
