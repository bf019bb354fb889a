"""Pipeline operator unit tests: near-dup detection on fabricated
duplicates, SimHash locality."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from ticktock_spark.pipeline import dedup as dd

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
    (3, "a completely different document about spark query processing engines"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (5, "numbers 12345 and punctuation!!! everywhere, truly everywhere..."),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_members_cap(spark):
    """members_cap bounds the per-group members array (first cap ids in
    sort order) while n_copies still counts every copy, digests and
    canonicals are unchanged, and the capped plan still has exactly ONE
    exchange (the window's hash partitioning is reused by the final
    aggregation)."""
    import re

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "same text " + ("A" if i < 40 else f"uniq{i}")) for i in range(50)],
        "doc_id long, text string",
    )
    full = {r["digest"]: r for r in dd.exact_dedup(df).collect()}
    capped_df = dd.exact_dedup(df, members_cap=5)
    capped = {r["digest"]: r for r in capped_df.collect()}
    assert set(full) == set(capped)
    for dig, r in capped.items():
        f = full[dig]
        assert (r["canonical_id"], r["n_copies"]) == (
            f["canonical_id"],
            f["n_copies"],
        )
        assert r["members"] == f["members"][:5]
    big = capped[
        next(d for d, r in full.items() if r["n_copies"] == 40)
    ]
    assert big["n_copies"] == 40 and len(big["members"]) == 5
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = capped_df._jdf.queryExecution().explainString(mode)
    # count exchanges in the AQE FINAL plan only (the formatted output
    # also lists the pre-AQE initial plan, where the planner still
    # inserts a second agg exchange that partitioning reuse removes)
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bExchange\b", final)) == 1, final


def test_minhash_bucket_cap(spark):
    """bucket_cap truncates degenerate band-key buckets to their first
    cap ids: a 30-copy exact group capped at 5 yields only pairs among
    its 5 lowest ids (C(5,2)=10 per every band → n_bands=4), normal
    buckets are untouched, and the capped plan adds NO extra exchange
    (window partitioning reused by the bucket aggregation)."""
    import re

    docs = [(i, "viral template text repeated verbatim everywhere") for i in range(30)]
    docs += [(100, "a completely unrelated document about query planning"),
             (101, "a completely unrelated document about query planning")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = dd.minhash_lsh_candidates(df, engine="xxh64", bucket_cap=5)
    got = {(r["id_a"], r["id_b"]): r["n_bands"] for r in capped.collect()}
    viral = {(a, b) for (a, b) in got if a < 100}
    assert viral == {(a, b) for a in range(5) for b in range(a + 1, 5)}
    assert all(got[p] == 4 for p in viral)  # exact dups agree on all bands
    assert (100, 101) in got  # small bucket unaffected
    uncapped = dd.minhash_lsh_candidates(df, engine="xxh64")
    assert sum(1 for (a, b) in
               {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
               if a < 100) == 30 * 29 // 2
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    def n_exchanges(q):
        plan = q._jdf.queryExecution().explainString(mode)
        return len(re.findall(r"\bExchange\b", plan.split("== Initial Plan ==")[0]))

    assert n_exchanges(capped) == n_exchanges(uncapped)


def test_minhash_xxh64_engine(spark):
    """The JVM-native xxhash64 engine is a different hash family, so
    exact candidate sets may differ on borderline pairs — but exact
    duplicates share every band key under ANY hash function, the
    unrelated doc must not pair, and the VERIFIED output (true Jaccard
    on candidates) must match the md5 engines on this corpus."""
    d = _docs(spark)
    cand = dd.minhash_lsh_candidates(d, engine="xxh64")
    pairs = {(r["id_a"], r["id_b"]): r["n_bands"] for r in cand.collect()}
    assert pairs[(1, 4)] == 4  # exact dup agrees on every band
    assert not any(3 in p for p in pairs)
    ver_x = {
        (r["id_a"], r["id_b"])
        for r in dd.verify_jaccard(d, cand, threshold=0.5).collect()
    }
    ver_m = {
        (r["id_a"], r["id_b"])
        for r in dd.verify_jaccard(
            d, dd.minhash_lsh_candidates(d, engine="pandas"), threshold=0.5
        ).collect()
    }
    assert ver_x == ver_m


def test_banded_keys_xxh64_fused_matches_two_step(spark):
    """The fused aggregate (sign in the fold, band in the finish lambda)
    must emit exactly the keys of the two-step
    minhash_signature_xxh64 → band_keys_xxh64 composition."""
    from pyspark.sql import functions as F

    from ticktock_spark.pipeline.dedup import (
        band_keys_xxh64,
        banded_keys_xxh64,
        minhash_signature_xxh64,
        shingles,
    )

    d = _docs(spark).select(
        "doc_id", shingles(F.col("text")).alias("sh")
    )
    got = d.select(
        "doc_id",
        banded_keys_xxh64(F.col("sh"), 8, 4).alias("fused"),
        band_keys_xxh64(
            minhash_signature_xxh64(F.col("sh"), 8), 4, 2
        ).alias("two_step"),
    ).collect()
    assert all(r["fused"] == r["two_step"] for r in got)
    assert len({tuple(r["fused"]) for r in got}) > 1  # keys vary by doc


def test_minhash_null_text_expression_engines(spark):
    """TWO null docs must not pair with each other: shingles(NULL) is
    [NULL], and a null-skipping hash (xxhash64 natively) would give
    every null doc the SAME signature — one fake bucket pairing all null
    docs. A single null doc misses this because the size>1 bucket
    filter hides it; the xxh64 engine drops null docs at the shingle
    stage like the pandas engine always did."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, None),
            (4, None),
        ],
        "doc_id long, text string",
    )
    for engine in ("xxh64", "pandas"):
        got = sorted(
            (r["id_a"], r["id_b"], r["n_bands"])
            for r in dd.minhash_lsh_candidates(df, engine=engine).collect()
        )
        assert got == [(1, 2, 4)], engine


def test_dedup_pipeline_xxh64_matches_md5(spark):
    """The xxh64 composition q34x benches (minhash_lsh_candidates
    engine='xxh64' → verify_jaccard → dedup_clusters) must produce the
    same final clusters as dedup_pipeline's md5 path on a corpus whose
    duplicate pairs are unambiguous (high-Jaccard dups, low-Jaccard
    non-dups): candidates differ only on borderline pairs, and
    Jaccard-verify removes any engine-specific extras."""
    from ticktock_spark.pipeline.cluster import dedup_clusters

    d = _docs(spark)
    md5 = {
        (r["doc_id"], r["cluster_id"], r["is_kept"])
        for r in dd.dedup_pipeline(d).collect()
    }
    for cap in (None, 256):
        cand = dd.minhash_lsh_candidates(d, engine="xxh64", bucket_cap=cap)
        ver = dd.verify_jaccard(d, cand, threshold=0.5)
        xxh = {
            (r["doc_id"], r["cluster_id"], r["is_canonical"])
            for r in dedup_clusters(d, ver.select("id_a", "id_b")).collect()
        }
        assert xxh == md5, cap


def test_engine_parameters_only_where_registry_selects_each_value():
    """An ``engine``-style choice stays only where the alternatives
    compute different things AND a registry query runs each one:
    minhash_lsh_candidates (q34 md5, q99 xxh64). decode_and_featurize's
    ``engine`` picks a decoder for the input format. Every other
    operator has one hash family, so a new ``engine`` /
    ``window_engine`` parameter on a public function fails here."""
    import ast
    import pathlib

    import ticktock_spark

    root = pathlib.Path(ticktock_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_"):
                continue
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs:
                if "engine" in arg.arg:
                    found.add((path.stem, node.name, arg.arg))
    assert found == {
        ("dedup", "minhash_lsh_candidates", "engine"),
        ("multimodal", "decode_and_featurize", "engine"),
    }


def test_minhash_finds_near_dups(spark):
    cand = {(r["id_a"], r["id_b"]) for r in dd.minhash_lsh_candidates(_docs(spark)).collect()}
    assert (1, 4) in cand  # exact dup agrees on every band
    # near-dup pair should surface; unrelated docs should not pair with 3
    assert not any(3 in p for p in cand)


def test_verify_jaccard_on_candidates(spark):
    d = _docs(spark)
    cand = dd.minhash_lsh_candidates(d)
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dd.verify_jaccard(d, cand).collect()}
    assert out[(1, 4)] == 1.0  # identical shingle sets
    if (1, 2) in out:
        assert 0.2 <= out[(1, 2)] < 1.0


def test_simhash_locality(spark):
    s = dd.simhash_dedup(_docs(spark)).collect()
    groups = {r["simhash"]: r for r in s}
    # exact duplicates collapse into one simhash group of size 2
    assert any(r["n_docs"] == 2 for r in s)
    # near-dups (1 vs 2) differ in few bits
    raw = {
        r["doc_id"]: r["simhash"]
        for r in _docs(spark).select(
            "doc_id", dd.simhash32(F.col("text")).alias("simhash")
        ).collect()
    }
    hamming_12 = sum(a != b for a, b in zip(raw[1], raw[2]))
    hamming_13 = sum(a != b for a, b in zip(raw[1], raw[3]))
    assert hamming_12 < hamming_13


def test_srp_lsh_recall_vs_brute_force(spark):
    """SRP-LSH kNN must be deterministic and beat the probed-fraction
    baseline: probing Hamming<=1 buckets touches (nbits+1)/2^nbits of the
    corpus, so matching that fraction is what random pruning would score.
    Recall values are exact for a fixed seed (the planes are seeded and
    the data is fixed), asserted with slack for arithmetic drift only."""
    from ticktock_spark.pipeline import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth: dict = {}
    for r in sim.brute_force_knn(e, q, k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)

    def avg_recall(nbits: int) -> float:
        got: dict = {}
        for r in sim.srp_lsh_knn(e, q, k=10, nbits=nbits).collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(len(got.get(k_, set()) & s) / len(s) for k_, s in truth.items()) / len(truth)

    assert avg_recall(4) >= 0.4   # probes 5/16 = 31% of buckets; measured 0.52
    assert avg_recall(8) >= 0.08  # probes 9/256 = 3.5%; measured 0.14

    a = sorted(map(tuple, sim.srp_lsh_knn(e, q, k=10, nbits=8).collect()))
    b = sorted(map(tuple, sim.srp_lsh_knn(e, q, k=10, nbits=8).collect()))
    assert a == b  # deterministic for a fixed seed


def test_frame_sample_plumbing(spark):
    """frame_sample emits ceil-spaced deterministic frames: n = dur*fps/1000
    (min 1), timestamps evenly spaced from 0, binary frames stable."""
    from ticktock_spark.pipeline import multimodal as mm

    d = _docs(spark)
    video = mm.attach_fake_media(d, modality="video")
    out = mm.frame_sample(video, fps=0.05)  # one frame per 20s of "clip"
    rows = out.collect()
    durs = {r.doc_id: r.media_meta.duration_ms for r in video.collect()}
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, frames in by_doc.items():
        expect_n = max(1, int(durs[doc_id] * 0.05 / 1000.0))
        assert len(frames) == expect_n
        assert [f.frame_idx for f in sorted(frames, key=lambda f: f.frame_idx)] == list(
            range(expect_n)
        )
        assert all(len(f.frame) == 16 for f in frames)  # md5 digest bytes
        assert min(f.frame_ts_ms for f in frames) == 0
    again = sorted(map(tuple, mm.frame_sample(video, fps=0.05).collect()))
    assert again == sorted(map(tuple, rows))


def test_minhash_null_text_both_engines(spark):
    """NULL text must not crash the pandas engine: the hashlib path
    skips null docs (no shingles, no band keys), so the pair set is the
    one the non-null docs give."""
    from ticktock_spark.pipeline.dedup import minhash_lsh_candidates

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    got_p = sorted(
        (r["id_a"], r["id_b"], r["n_bands"])
        for r in minhash_lsh_candidates(df, engine="pandas").collect()
    )
    assert got_p == [(1, 2, 4)]


def test_ivf_index_persistence_and_pruning(spark, tmp_path):
    """write_ivf_index lays vectors out partitioned by bucket;
    ivf_index_knn's probe becomes a literal partition filter, so the
    scan reads ONLY the probed directories — and results equal the
    in-memory ivf_knn on the same corpus."""
    from ticktock_spark.pipeline import similarity as sim
    from ticktock_spark.schema import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = corpus.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf")
    sim.write_ivf_index(corpus, path)

    got = sim.ivf_index_knn(spark, path, queries, k=5, nprobe=2)
    exp = sim.ivf_knn(corpus, queries, k=5, nprobe=2)
    key = lambda r: (r["query_id"], r["rank"])
    g = sorted(((r["query_id"], r["rank"], r["vec_id"], r["cosine"]) for r in got.collect()))
    e = sorted(((r["query_id"], r["rank"], r["vec_id"], r["cosine"]) for r in exp.collect()))
    assert g == e and len(g) == 15

    # pruning proof: the literal IN predicate lands in the parquet
    # scan's PartitionFilters (inputFiles() lists pre-pruning, so read
    # the physical plan instead)
    plan = got._jdf.queryExecution().executedPlan().toString()
    part_filters = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln and "label" in ln
    ]
    assert part_filters and all("IN" in ln.upper() for ln in part_filters), plan[:2000]


def test_pii_redact(spark):
    from ticktock_spark.pipeline import text as tx

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@ex-ample.co.uk or call 12345678 now"),
         (2, "clean text 123 only")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in tx.pii_redact(df).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_longnum"] == 1
    assert got[1]["redacted"] == "mail <EMAIL> or call <NUM> now"
    assert got[2]["redacted"] == "clean text 123 only"  # short digits kept


def test_token_chunks_overlap(spark):
    from ticktock_spark.pipeline import text as tx

    words = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, words), (2, ""), (3, "a b")],
                               "doc_id long, text string")
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"], r["chunk_text"])
        for r in tx.token_chunks(df, chunk_tokens=64, stride=48).collect()
    )
    # doc 1: 100 tokens -> ceil(100/48)=3 chunks: [0..63], [48..99], [96..99]
    d1 = [r for r in rows if r[0] == 1]
    assert [(r[1], r[2]) for r in d1] == [(0, 64), (1, 52), (2, 4)]
    assert d1[0][3].split()[48:] == d1[1][3].split()[:16]  # 16-token overlap
    assert d1[2][3] == "w96 w97 w98 w99"
    assert not [r for r in rows if r[0] == 2]  # empty doc: no chunks
    assert [(r[1], r[2]) for r in rows if r[0] == 3] == [(0, 2)]


def test_repetition_score(spark):
    from ticktock_spark.pipeline import text as tx

    df = spark.createDataFrame(
        [(1, "spam ham " * 10), (2, "all words here are distinct tokens"), (3, "x")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in tx.repetition_score(df).collect()}
    # doc 1: 20 tokens -> 19 bigrams; "spam ham" occurs 10x
    assert got[1]["n_bigrams"] == 19 and got[1]["top_bigram_count"] == 10
    assert abs(got[1]["rep_ratio"] - 10 / 19) < 1e-12
    assert got[2]["top_bigram_count"] == 1
    assert got[3]["n_bigrams"] == 0 and got[3]["rep_ratio"] == 0.0


def test_pack_sequences_budget(spark):
    from ticktock_spark.pipeline import text as tx

    # one pack group (ids all ≡ 1 mod 64): chunks of 60 tokens against a
    # budget of 128 → exclusive cumsums 0,60,120,180... bins 0,0,0,1,...
    chunks = spark.createDataFrame(
        [(1, i, 60) for i in range(6)],
        "doc_id long, chunk_idx int, n_chunk_tokens int",
    )
    got = sorted(
        (r["seq_idx"], r["chunk_idx"])
        for r in tx.pack_sequences(chunks, budget_tokens=128, n_groups=64).collect()
    )
    # bins: cum 0,60,120 -> bin 0 (last overflows: 180 tokens > 128, the
    # documented ≤ one-chunk overflow); cum 180,240 -> bin 1; cum 300 -> 2
    assert got == [(0, 0), (0, 1), (0, 2), (1, 3), (1, 4), (2, 5)]
    # per-sequence load: bin 0 carries 3 chunks = 180 tokens (overflow ≤ 1 chunk)
    loads = {}
    for s, _ in got:
        loads[s] = loads.get(s, 0) + 60
    assert max(loads.values()) <= 128 + 60


def test_kmeans_lloyd_separated_blobs(spark):
    """Three well-separated direction blobs must be recovered exactly;
    results identical under different input partitioning (driver-held
    centroids, scan-side numpy assignment)."""
    import numpy as np

    from ticktock_spark.pipeline import similarity as sim

    rng = np.random.default_rng(7)
    centers = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    rows = []
    for b, c in enumerate(centers):
        for i in range(30):
            v = c + rng.normal(0, 0.5, 4)
            rows.append((b * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    assign, cents = sim.kmeans_lloyd(df, k=3, iters=4)
    got = {r["vec_id"]: r["bucket"] for r in assign.collect()}
    # each true blob maps to exactly one learned bucket, bijectively
    blob_to_bucket = {}
    for vid, bucket in got.items():
        blob = vid // 100
        assert blob_to_bucket.setdefault(blob, bucket) == bucket
    assert len(set(blob_to_bucket.values())) == 3
    # learned centroids point along the blob axes (unit-normalized)
    import numpy as np
    C = np.array(cents)
    assert np.allclose(np.abs(C).max(axis=1), C.max(axis=1))
    assert sorted(C.argmax(axis=1)) == [0, 1, 2]

    assign2, cents2 = sim.kmeans_lloyd(df.repartition(13), k=3, iters=4)
    got2 = {r["vec_id"]: r["bucket"] for r in assign2.collect()}
    assert got == got2, "assignments must not depend on partitioning"


def test_build_ivf_index_from_kmeans(spark, tmp_path):
    from ticktock_spark.pipeline import similarity as sim
    from ticktock_spark.schema import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "kmivf")
    sim.build_ivf_index(corpus, path, k=4, iters=2)
    queries = corpus.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sim.ivf_index_knn(spark, path, queries, k=5, nprobe=2, bucket_col="bucket")
    rows = got.collect()
    assert len(rows) == 10 and {r["query_id"] for r in rows} == {0, 1}
    assert all(1 <= r["rank"] <= 5 for r in rows)


def test_lexical_diversity_exact_values(spark):
    from ticktock_spark.pipeline import text as tx

    df = spark.createDataFrame(
        [(1, "a a b"), (2, ""), (3, "x! x, x?")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in tx.lexical_diversity(df).collect()}
    r1 = got[1]
    assert (r1["n_tokens"], r1["n_types"]) == (3, 2)
    assert r1["ttr"] == 2 / 3
    assert r1["simpson"] == 1.0 - 5.0 / 9.0   # counts {a:2, b:1} → 1 - (4+1)/9
    assert got[2]["n_tokens"] == 0 and got[2]["ttr"] == 0.0 and got[2]["simpson"] == 0.0
    r3 = got[3]                                # punctuation normalized away
    assert (r3["n_tokens"], r3["n_types"], r3["simpson"]) == (3, 1, 0.0)


def test_vocab_topk_tiebreak(spark):
    from ticktock_spark.pipeline import text as tx

    df = spark.createDataFrame(
        [(1, "b a"), (2, "a b"), (3, "c")], "doc_id long, text string"
    )
    rows = tx.vocab_top_k(df, k=2).collect()
    # a and b tie at 2 occurrences — 'a' first; c excluded by k
    assert [(r["tok"], r["n_occ"], r["n_docs"]) for r in rows] == [
        ("a", 2, 2),
        ("b", 2, 2),
    ]


def test_contamination_report_known_overlap(spark):
    from ticktock_spark.pipeline import text as tx

    bench = spark.createDataFrame([(100, "one two three four")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (1, "one two three five"),   # grams: 1-2-3 (hit), 2-3-5 (miss)
            (2, "six seven eight nine"), # no overlap
            (3, "one two"),              # < 3 tokens → 0 grams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in tx.contamination_report(corpus, bench).collect()}
    assert (got[1]["n_grams"], got[1]["n_hit"], got[1]["contamination"]) == (2, 1, 0.5)
    assert (got[2]["n_grams"], got[2]["n_hit"]) == (2, 0)
    assert (got[3]["n_grams"], got[3]["contamination"]) == (0, 0.0)


def test_uniform_rebalance_rates(spark):
    from ticktock_spark.pipeline import sample as sp

    df = spark.createDataFrame(
        [(i, "en" if i < 80 else "de") for i in range(100)], "doc_id long, lang string"
    )
    rates = sp.uniform_rebalance_rates(df, "lang")
    assert rates == {"en": 20 / 80, "de": 1.0}
    kept = sp.stratified_sample(df, rates, strata_col="lang", seed="mix")
    counts = {r["lang"]: r["count"] for r in kept.groupBy("lang").count().collect()}
    assert counts["de"] == 20                   # rate 1.0 keeps everything
    assert 0 < counts.get("en", 0) <= 80        # ~20 expected, deterministic


def test_gopher_quality_flags_rules(spark):
    from ticktock_spark.pipeline import text as tx

    good = "the cat sat on the mat and it was warm for " + " ".join(
        f"word{i}" for i in range(40)
    )
    bullets = "\n".join(f"- item {i}" for i in range(10))
    symbols = "the " + "# " * 30
    df = spark.createDataFrame(
        [(1, good), (2, bullets), (3, symbols), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in tx.gopher_quality_flags(df).collect()}
    g = got[1]
    assert g["keep"] and g["flag_word_count"] and g["flag_alpha"] and g["flag_stopwords"]
    assert not got[2]["flag_bullets"] and not got[2]["keep"]
    assert not got[3]["flag_symbol_ratio"] and not got[3]["keep"]
    e = got[4]
    assert e["n_words"] == 0 and not e["keep"] and e["flag_bullets"]


def test_temperature_rebalance_rates(spark):
    import math

    from ticktock_spark.pipeline import sample as sp

    df = spark.createDataFrame(
        [(i, "en" if i < 80 else "de") for i in range(100)], "doc_id long, lang string"
    )
    rates = sp.temperature_rebalance_rates(df, "lang", alpha=0.5)
    assert rates["de"] == 1.0                       # smallest stratum untouched
    assert rates["en"] == math.sqrt(20 / 80) == 0.5  # sqrt-softened, > uniform's 0.25
    # alpha=0 degenerates to the uniform rule
    assert sp.temperature_rebalance_rates(df, "lang", alpha=0.0) == (
        sp.uniform_rebalance_rates(df, "lang")
    )
    # alpha=1 keeps the natural mix (all rates 1.0)
    assert set(sp.temperature_rebalance_rates(df, "lang", alpha=1.0).values()) == {1.0}


def test_token_budget_cap(spark):
    from ticktock_spark.pipeline import sample as sp

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de", 10 + i) for i in range(40)],
        "doc_id long, lang string, n_tokens long",
    )
    got = sp.token_budget_cap(df, budget=100, strata_col="lang")
    rows = got.collect()
    # running totals never exceed the budget, per stratum
    by_lang: dict = {}
    for r in rows:
        assert r["cum_tokens"] <= 100
        by_lang.setdefault(r["lang"], []).append(r)
    # every stratum kept at least one doc (min n_tokens 10/11 << 100)
    assert set(by_lang) == {"en", "de"}
    # adding the cheapest dropped doc would cross the budget: totals are maximal
    # for the hash order (the kept set is a prefix, not a knapsack optimum)
    kept_ids = {r["doc_id"] for r in rows}
    # deterministic under repartitioning
    got2 = sp.token_budget_cap(df.repartition(7), budget=100, strata_col="lang")
    assert {r["doc_id"] for r in got2.collect()} == kept_ids


def test_oov_stats(spark):
    from ticktock_spark.pipeline import text as tx

    df = spark.createDataFrame(
        [
            (1, "the cat the dog"),
            (2, "the zzz qqq"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in tx.oov_stats(df, vocab_size=2).collect()}
    # vocab = top-2 by occurrences: 'the' (3), then ties (cat,dog,qqq,zzz each 1)
    # → tie broken by token asc → 'cat'
    assert (got[1]["n_tokens"], got[1]["n_oov"]) == (4, 1)      # dog OOV
    assert got[1]["oov_rate"] == 0.25
    assert (got[2]["n_tokens"], got[2]["n_oov"]) == (3, 2)      # zzz qqq OOV
    assert got[3]["n_tokens"] == 0 and got[3]["oov_rate"] is None
    assert got[4]["n_tokens"] == 0 and got[4]["oov_rate"] is None


def test_keep_best_per_cluster(spark):
    from ticktock_spark.pipeline import cluster as cl

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (4, 0.7), (5, 0.7)],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r for r in
           cl.keep_best_per_cluster(docs, pairs, "quality").collect()}
    # cluster {1,2,3}: 2 has top quality → kept, 1 and 3 dropped
    assert got[2]["is_kept"] and not got[1]["is_kept"] and not got[3]["is_kept"]
    assert got[1]["cluster_id"] == got[2]["cluster_id"] == got[3]["cluster_id"] == 1
    # cluster {4,5}: quality tie → min doc_id wins
    assert got[4]["is_kept"] and not got[5]["is_kept"]


def test_incremental_exact_dedup(spark):
    from ticktock_spark.pipeline import dedup as dd

    batch = spark.createDataFrame(
        [(10, "aaa"), (11, "aaa"), (12, "bbb"), (13, "ccc")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame([("bbb",)], "text string").select(
        F.md5("text").alias("digest")
    )
    got = {r["canonical_id"]: r for r in
           dd.incremental_exact_dedup(batch, corpus).collect()}
    # 'aaa' collapses to min-id 10; 'bbb' already in corpus → dropped; 'ccc' new
    assert set(got) == {10, 13}
    assert got[10]["n_copies"] == 2


def test_minhash_lsh_join_matches_self_join_cross_pairs(spark):
    """Parity: cross-corpus pairs from minhash_lsh_join == the cross-side
    subset of the self-join candidates on the union (same hash scheme)."""
    from ticktock_spark.pipeline import dedup as dd
    from ticktock_spark.schema import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    left = docs.filter(F.col("doc_id") % 3 == 0)
    right = docs.filter(F.col("doc_id") % 3 != 0)
    got = {
        (r["left_id"], r["right_id"]): r["n_bands"]
        for r in dd.minhash_lsh_join(left, right).collect()
    }
    cand = dd.minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    sides = {r["doc_id"]: r["doc_id"] % 3 == 0 for r in docs.select("doc_id").collect()}
    exp = {}
    for r in cand.collect():
        a, b, n = r["id_a"], r["id_b"], r["n_bands"]
        if sides[a] and not sides[b]:
            exp[(a, b)] = n
        elif sides[b] and not sides[a]:
            exp[(b, a)] = n
    assert got == exp and len(got) > 0


def test_new_ops_plan_shapes(spark):
    """Pin the scale-critical physical-plan properties of the round-2
    operators:
    - oov_stats: the vocab side joins via BroadcastHashJoin (50 rows —
      must never shuffle the exploded token stream against it);
    - minhash_lsh_join: band-key equi-join, no cartesian/nested-loop;
    - token_budget_cap: the running-sum window adds exactly one exchange
      over the input.
    """
    from ticktock_spark.pipeline import dedup as dd, sample as sp, text as tx
    from ticktock_spark.schema import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")

    plan = (
        tx.oov_stats(docs, vocab_size=50)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan

    plan = (
        dd.minhash_lsh_join(docs.limit(20), docs.limit(40))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    pre = docs.select("doc_id", "lang", F.lit(5).cast("long").alias("n_tokens"))
    plan = (
        sp.token_budget_cap(pre, budget=50)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_collapse_repeat_tokens(spark):
    from ticktock_spark.pipeline import text as tx

    df = spark.createDataFrame(
        [
            (1, "batch batch batch stream stream ok"),
            (2, "a b a b"),          # non-adjacent repeats stay
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in tx.collapse_repeat_tokens(df).collect()}
    assert got[1]["text_clean"] == "batch stream ok"
    assert (got[1]["n_tokens"], got[1]["n_kept"]) == (6, 3)
    assert got[2]["text_clean"] == "a b a b"
    assert (got[3]["n_tokens"], got[3]["text_clean"]) == (0, "")
    assert got[4]["n_tokens"] is None and got[4]["text_clean"] is None


def test_cap_to_vocab(spark):
    from ticktock_spark.pipeline import text as tx

    df = spark.createDataFrame(
        [
            (1, "the cat the dog"),
            (2, "THE Cat! zzz"),     # normalization folds case/punct
            (3, None),
        ],
        "doc_id long, text string",
    )
    # top-2 vocab: 'the' (3 occ), 'cat' (2 occ)
    got = {r["doc_id"]: r for r in tx.cap_to_vocab(df, vocab_size=2).collect()}
    assert got[1]["text_capped"] == "the cat the <unk>"
    assert (got[1]["n_tokens"], got[1]["n_unk"]) == (4, 1)
    assert got[2]["text_capped"] == "the cat <unk>"
    assert got[3]["text_capped"] is None and got[3]["n_unk"] is None


def test_cap_to_vocab_join_path_parity_and_plan(spark):
    """Above VOCAB_JOIN_THRESHOLD, cap_to_vocab switches to the
    broadcast-join plan (a 50k-entry create_map would be a
    megabyte-scale expression tree with linear-scan lookups). The join
    path must produce byte-identical output to the map-literal path —
    including null-text, empty-text, and all-unk docs — and its plan
    must contain a broadcast hash join and no map literal."""
    from ticktock_spark.pipeline import text as tx

    df = spark.createDataFrame(
        [
            (1, "the cat the dog sat"),
            (2, "THE Cat! zzz"),
            (3, None),
            (4, ""),           # zero tokens, non-null text
            (5, "qqq www"),    # every token OOV at vocab_size=2
        ],
        "doc_id long, text string",
    )
    lit = {
        tuple(r) for r in tx.cap_to_vocab(df, vocab_size=2).collect()
    }
    join = {
        tuple(r)
        for r in tx._cap_to_vocab_join(df, 2, "<unk>", "text", "doc_id").collect()
    }
    assert join == lit
    # vocab_size over the threshold routes to the join plan
    big = tx.cap_to_vocab(df, vocab_size=50_000)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "map(" not in plan.lower().replace("map_", "")
    assert {tuple(r) for r in big.collect()} == {
        tuple(r) for r in tx.cap_to_vocab(df, vocab_size=10_000).collect()
    }


def test_dedup_pipeline_semantics(spark):
    """Exact copies and near-dups land in one cluster; the kept doc is
    the min id; per-cluster exactly one is_kept."""
    from ticktock_spark.pipeline import dedup as dd

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    near = base + " tonight"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),            # exact copy of 1
            (3, near),            # near-dup of 1 (high shingle overlap)
            (4, "completely different content about spark query planning"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dd.dedup_pipeline(docs).collect()}
    assert got[1]["cluster_id"] == got[2]["cluster_id"] == got[3]["cluster_id"] == 1
    assert got[1]["is_kept"] and not got[2]["is_kept"] and not got[3]["is_kept"]
    assert got[1]["n_total"] == 3
    assert got[4]["is_kept"] and got[4]["n_total"] == 1


def test_cosine_neardup_bucketed_subset_and_recall(spark):
    """Bucketed near-dup pairs are a subset of the exact all-pairs set
    with identical cosines, recall is substantial on clustered testdata,
    and the output is invariant to input partitioning."""
    from ticktock_spark.pipeline import similarity as sim
    from ticktock_spark.schema import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in sim.cosine_neardup_pairs(vecs, threshold=0.35).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in sim.cosine_neardup_bucketed(vecs, threshold=0.35, nbits=4).collect()
    }
    assert set(got) <= set(exact)
    assert all(got[k] == exact[k] for k in got)
    # testdata has NO tight pairs (max cosine < 0.8), so single-probe
    # recall follows (1-θ/π)^nbits ≈ 0.14 at cosine 0.35 / nbits=4 —
    # assert the floor consistent with that, not dup-grade recall
    assert len(got) >= 0.1 * len(exact) > 0
    got2 = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in sim.cosine_neardup_bucketed(
            vecs.repartition(13), threshold=0.35, nbits=4
        ).collect()
    }
    assert got2 == got


def test_diversity_sample(spark):
    """Bucket caps hold, output is deterministic under repartitioning,
    and the rank<=k filter runs as a partial WindowGroupLimit before the
    exchange (bounded shuffle)."""
    from ticktock_spark.pipeline import similarity as sim
    from ticktock_spark.schema import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = sim.diversity_sample(vecs, per_bucket=5, nbits=4).collect()
    per = {}
    for r in got:
        per[r["bucket"]] = per.get(r["bucket"], 0) + 1
        assert 1 <= r["pick"] <= 5
    assert per and max(per.values()) <= 5
    got2 = sim.diversity_sample(vecs.repartition(11), per_bucket=5, nbits=4).collect()
    assert {(r["vec_id"], r["bucket"], r["pick"]) for r in got2} == {
        (r["vec_id"], r["bucket"], r["pick"]) for r in got
    }
    plan = (
        sim.diversity_sample(vecs, per_bucket=5, nbits=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_per_source_cap(spark):
    """Caps hold per source, pick order is deterministic under
    repartitioning, source_total is the UNCAPPED size, and the rank<=k
    filter runs as a partial WindowGroupLimit (the mega-domain tail
    never crosses the shuffle)."""
    from ticktock_spark.pipeline import sample as sp
    from ticktock_spark.schema import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    totals = {r["source"]: r["cnt"] for r in docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    got = sp.per_source_cap(docs, cap=7).collect()
    per: dict = {}
    for r in got:
        per[r["source"]] = per.get(r["source"], 0) + 1
        assert 1 <= r["pick"] <= 7
        assert r["source_total"] == totals[r["source"]]
    assert per and max(per.values()) <= 7
    for s, n in totals.items():
        assert per.get(s, 0) == min(n, 7)
    got2 = sp.per_source_cap(docs.repartition(13), cap=7).collect()
    assert {tuple(r) for r in got2} == {tuple(r) for r in got}
    plan = (
        sp.per_source_cap(docs, cap=7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_semantic_dedup(spark):
    """SemDeDup composition: every vector labeled, exactly one canonical
    per cluster, canonical = min id, and within-bucket high-cosine pairs
    share a cluster. On clusters fully contained in one SRP bucket the
    result equals the exact all-pairs closure (q50 twin)."""
    from ticktock_spark.pipeline import similarity as sim
    from ticktock_spark.schema import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = sim.semantic_dedup(vecs, threshold=0.6).collect()
    assert len(out) == vecs.count()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert min(m["vec_id"] for m in members) == cid
        canon = [m for m in members if m["is_canonical"]]
        assert len(canon) == 1 and canon[0]["vec_id"] == cid
        assert all(m["cluster_size"] == len(members) for m in members)
    # pairs the bucketed kernel emits must be co-clustered
    pairs = sim.cosine_neardup_bucketed(vecs, 0.6).collect()
    label = {r["vec_id"]: r["cluster_id"] for r in out}
    for p in pairs:
        assert label[p["id_a"]] == label[p["id_b"]]


def test_bpe_pair_counts(spark):
    from ticktock_spark.pipeline import text as tx

    df = spark.createDataFrame(
        [(1, "aab aab ccd"), (2, "aab")],
        "doc_id long, text string",
    )
    # word counts: aab ×3, ccd ×1 → pairs: aa ×3, ab ×3, cc ×1, cd ×1
    got = {r["pair"]: r["n"] for r in tx.bpe_pair_counts(df, top_k=10).collect()}
    assert got == {"aa": 3, "ab": 3, "cc": 1, "cd": 1}


def test_bigram_lm_table(spark):
    from ticktock_spark.pipeline import text as tx

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b")],
        "doc_id long, text string",
    )
    # pairs: (a,b)×3, (b,a)×1, (b,c)×1 → p(b|a)=1.0, p(a|b)=0.5, p(c|b)=0.5
    got = {(r["w1"], r["w2"]): (r["n"], r["cond_p"])
           for r in tx.bigram_lm_table(df, top_k=10).collect()}
    assert got == {("a", "b"): (3, 1.0), ("b", "a"): (1, 0.5), ("b", "c"): (1, 0.5)}


def test_shard_assign_and_write(spark, tmp_path):
    """Each shard's token total stays near the budget (a shard only
    exceeds it by its last doc), assignment is partition-invariant, and
    write_training_shards lays out partition dirs per (lang, shard)."""
    from ticktock_spark.pipeline import sample as sp

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de", 10 + (i % 7)) for i in range(200)],
        "doc_id long, lang string, n_tokens long",
    )
    got = sp.shard_assign(df, tokens_per_shard=100).collect()
    totals: dict = {}
    for r in got:
        totals.setdefault((r["lang"], r["shard_idx"]), 0)
        totals[(r["lang"], r["shard_idx"])] += r["n_tokens"]
    for (lang, shard), tot in totals.items():
        assert tot < 100 + 17, (lang, shard, tot)   # budget + one max doc
    assert len(totals) > 2 * 5                      # plenty of shards cut
    got2 = sp.shard_assign(df.repartition(9), tokens_per_shard=100).collect()
    assert {(r["doc_id"], r["shard_idx"]) for r in got2} == {
        (r["doc_id"], r["shard_idx"]) for r in got
    }
    out = str(tmp_path / "shards")
    sp.write_training_shards(df, out, tokens_per_shard=100)
    back = spark.read.parquet(out)
    assert back.count() == 200
    import pathlib

    dirs = [p.name for p in pathlib.Path(out).iterdir() if p.name.startswith("lang=")]
    assert sorted(dirs) == ["lang=de", "lang=en"]


def test_charset_report(spark):
    from ticktock_spark.pipeline import text as tx

    rep = "�"
    df = spark.createDataFrame(
        [
            (1, "plain ascii"),
            (2, "café über"),          # 2 non-ascii letters
            (3, "bad\x01\x02ctrl"),              # 2 control chars
            (4, f"moji{rep}{rep}bake"),          # 2 replacement chars
            (5, ""),
            (6, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in tx.charset_report(df).collect()}
    assert got[1]["n_non_ascii"] == 0 and got[1]["ratio_non_ascii"] == 0.0
    assert got[2]["n_non_ascii"] == 2
    assert got[3]["n_control"] == 2
    assert got[4]["n_replacement"] == 2 and got[4]["n_non_ascii"] == 2
    assert got[5]["n_chars"] == 0 and got[5]["ratio_non_ascii"] == 0.0
    assert got[6]["n_chars"] == 0 and got[6]["ratio_non_ascii"] == 0.0


def test_audio_windows_plumbing(spark):
    """audio_windows emits ceil(duration/window) truncated windows with
    deterministic chunks; zero-duration media emit nothing."""
    from ticktock_spark.pipeline import multimodal as mm

    d = _docs(spark)
    audio = mm.attach_fake_media(d, modality="audio")
    out = mm.audio_windows(audio, window_ms=20_000)
    rows = out.collect()
    durs = {r.doc_id: r.media_meta.duration_ms for r in audio.collect()}
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, wins in by_doc.items():
        n = (durs[doc_id] + 20_000 - 1) // 20_000
        wins.sort(key=lambda r: r.win_idx)
        assert [w.win_idx for w in wins] == list(range(n))
        assert wins[-1].end_ms == durs[doc_id]
        assert all(len(w.chunk) == 16 and 0.0 <= w.rms <= 1.0 for w in wins)
    image = mm.attach_fake_media(d, modality="image")   # duration 0
    assert mm.audio_windows(image, window_ms=20_000).count() == 0
    again = sorted(map(tuple, mm.audio_windows(audio, window_ms=20_000).collect()))
    assert again == sorted(map(tuple, rows))


def test_decode_engine_gate(spark):
    """decode_and_featurize's codec feature gate: engine='real' needs PIL
    (absent here → immediate NotImplementedError on the driver);
    engine='auto' degrades to the fake path and matches engine='fake'
    exactly, so the verified build upgrades in place when an imaging
    library ships."""
    import pytest

    from ticktock_spark.pipeline import multimodal as mm

    d = _docs(spark)
    media = mm.attach_fake_media(d)
    if mm._pil() is None:
        with pytest.raises(NotImplementedError):
            mm.decode_and_featurize(media, engine="real")
    fake = sorted(map(tuple, mm.decode_and_featurize(media, engine="fake").collect()))
    auto = sorted(map(tuple, mm.decode_and_featurize(media, engine="auto").collect()))
    if mm._pil() is None:
        assert auto == fake


def _media_df(spark, payload: bytes, fmt: str = "ppm"):
    from pyspark.sql import functions as F

    return (
        spark.range(1)
        .select(F.col("id").alias("doc_id"))
        .withColumn("media", F.lit(payload))
        .withColumn(
            "media_meta",
            F.struct(
                F.lit("image").alias("modality"),
                F.lit(fmt).alias("format"),
                F.lit(0).cast("int").alias("width"),
                F.lit(0).cast("int").alias("height"),
                F.lit(0).cast("long").alias("duration_ms"),
                F.lit(len(payload)).cast("long").alias("n_bytes"),
            ),
        )
    )


def test_decode_netpbm_stdlib_real_branch(spark):
    """engine='netpbm' is a REAL pixel decode with no external imaging
    library: binary P6 (RGB → ITU-R 601-2 integer luma) and P5 (gray)
    payloads produce exact width/height/mean/histogram — so the real
    branch of the multimodal plumbing is exercised even in environments
    without Pillow. Header comments are parsed; engine='real' routes
    netpbm payloads through the same stdlib parser."""
    from ticktock_spark.pipeline import multimodal as mm

    # P6 2x2: red, green, blue, white; luma 76/149/29/255
    p6 = b"P6\n# a comment\n2 2\n255\n" + bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    )
    row = mm.decode_and_featurize(_media_df(spark, p6), engine="netpbm").collect()[0]
    assert (row["width"], row["height"]) == (2, 2)
    assert row["mean_byte"] == (76 + 149 + 29 + 255) / 4
    bins = row["feature"]
    assert bins[76 // 32] == 1.0 and bins[149 // 32] == 1.0
    assert bins[29 // 32] == 1.0 and bins[255 // 32] == 1.0
    assert sum(bins) == 4.0

    # PIL-exact fixed-point luma on a boundary pixel, no Pillow needed:
    # RGB(100,0,150) → (100*19595 + 150*7471) >> 16 = 46 (the decimal
    # (299R+587G+114B)//1000 approximation would give 47)
    boundary = mm._decode_netpbm(b"P6 1 1 255\n" + bytes([100, 0, 150]))
    assert boundary[2] == 46.0

    # P5 3x1 grays 0, 128, 255
    p5 = b"P5 3 1 255\n" + bytes([0, 128, 255])
    row = mm.decode_and_featurize(_media_df(spark, p5), engine="netpbm").collect()[0]
    assert (row["width"], row["height"]) == (3, 1)
    assert row["mean_byte"] == (0 + 128 + 255) / 3
    assert row["feature"][0] == 1.0 and row["feature"][4] == 1.0
    assert row["feature"][7] == 1.0

    # non-netpbm payload: strict engine fails the task with ValueError
    import pytest

    with pytest.raises(Exception, match="netpbm"):
        mm.decode_and_featurize(
            _media_df(spark, b"\x89PNG fake"), engine="netpbm"
        ).collect()
    # truncated raster is rejected, not silently mis-decoded
    with pytest.raises(Exception, match="netpbm"):
        mm.decode_and_featurize(
            _media_df(spark, b"P5 4 4 255\n" + bytes(3)), engine="netpbm"
        ).collect()


def test_netpbm_matches_pil():
    """Where Pillow exists: the stdlib netpbm decode is bit-identical to
    the PIL branch on the same payload (same luma formula, histogram,
    bins)."""
    import pytest

    from ticktock_spark.pipeline import multimodal as mm

    Image = mm._pil()
    if Image is None:
        pytest.skip("Pillow not installed in this container")
    import io

    # includes boundary pixels where the decimal (299R+587G+114B)//1000
    # approximation diverges from PIL's >>16 fixed point, e.g.
    # RGB(100,0,150): PIL gives 46, the decimal formula gives 47
    p6 = b"P6 3 2 255\n" + bytes(
        [10, 200, 30, 255, 0, 0, 100, 0, 150, 0, 255, 0, 7, 7, 7, 250, 128, 3]
    )
    got = mm._decode_netpbm(p6)
    with Image.open(io.BytesIO(p6)) as img:
        gray = img.convert("L")
        w, h = gray.size
        hist = gray.histogram()
    n = max(1, w * h)
    assert got[0] == w and got[1] == h
    assert got[2] == sum(i * c for i, c in enumerate(hist)) / n
    assert got[3] == [float(sum(hist[i : i + 32])) for i in range(0, 256, 32)]


def test_decode_engine_real_with_pil(spark):
    """Real-codec branch (runs only where Pillow is installed): encode a
    tiny PNG, decode it through the same mapInPandas plumbing, and check
    pixel-true width/height/mean against the known image."""
    import pytest

    from pyspark.sql import functions as F

    from ticktock_spark.pipeline import multimodal as mm

    Image = mm._pil()
    if Image is None:
        pytest.skip("Pillow not installed in this container")
    import io

    img = Image.new("L", (8, 4), color=200)
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    payload = buf.getvalue()
    df = (
        spark.range(1)
        .select(F.col("id").alias("doc_id"))
        .withColumn("media", F.lit(payload))
        .withColumn(
            "media_meta",
            F.struct(
                F.lit("image").alias("modality"),
                F.lit("png").alias("format"),
                F.lit(0).cast("int").alias("width"),
                F.lit(0).cast("int").alias("height"),
                F.lit(0).cast("long").alias("duration_ms"),
                F.lit(len(payload)).cast("long").alias("n_bytes"),
            ),
        )
    )
    row = mm.decode_and_featurize(df, engine="real").collect()[0]
    assert (row.width, row.height) == (8, 4)
    assert abs(row.mean_byte - 200.0) < 1e-9
    assert sum(row.feature) == 32.0  # 8x4 pixels across the 8 bins


def test_bigram_perplexity_hand_computed(spark):
    """Cross-entropy against a hand-computed corpus LM: with docs
    "a a b" and "a b", p(a|a)=1/3, p(b|a)=2/3, so doc1 scores
    (log2 3 + log2 1.5)/2 and doc2 scores log2 1.5. Single-token docs
    have no bigrams and are excluded."""
    import math

    from ticktock_spark.pipeline.text import bigram_perplexity

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a b"), (3, "a")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["n_bigrams"], r["cross_entropy"])
           for r in bigram_perplexity(df).collect()}
    assert set(got) == {1, 2}
    ce1 = (math.log2(3) + math.log2(1.5)) / 2
    ce2 = math.log2(1.5)
    assert got[1][0] == 2 and abs(got[1][1] - ce1) < 1e-12
    assert got[2][0] == 1 and abs(got[2][1] - ce2) < 1e-12


def test_boilerplate_scrub_multiline(spark):
    """C4 boilerplate semantics on real multi-line docs: 'cookie notice'
    appears in 3 distinct docs (twice in doc 1 — distinct-doc counting
    must not double-count) → flagged and scrubbed; unique lines survive
    in original order; doc 4 (all boilerplate) drops out; blank lines are
    never comparison units."""
    from ticktock_spark.pipeline.text import boilerplate_lines, scrub_boilerplate

    df = spark.createDataFrame(
        [
            (1, "cookie notice\nalpha text\n\ncookie notice\nbravo text"),
            (2, "cookie notice\ncharlie text"),
            (3, "  cookie notice  \ndelta text"),
            (4, "cookie notice"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    flagged = {r["line"]: r["n_docs"] for r in boilerplate_lines(df, min_docs=3).collect()}
    assert flagged == {"cookie notice": 4}

    got = {r["doc_id"]: (r["text_clean"], r["n_lines_kept"])
           for r in scrub_boilerplate(df, min_docs=3).collect()}
    assert got == {
        1: ("alpha text\nbravo text", 2),
        2: ("charlie text", 1),
        3: ("delta text", 1),
    }


def test_winnowing_guarantee(spark):
    """The winnowing property: documents sharing a substring of length
    ≥ w+k-1 (= 8 normalized chars for k=5, w=4) share at least one
    fingerprint; a doc of unrelated text shares none. Fingerprints are
    position-independent (same shared text at different offsets still
    collides), and overlap-pair detection finds exactly the overlapping
    pair."""
    from ticktock_spark.pipeline.text import (
        winnowing_fingerprints,
        winnowing_overlap_pairs,
    )

    shared = "common boilerplate sentence here"
    df = spark.createDataFrame(
        [
            (1, f"intro words {shared} tail one"),
            (2, f"{shared} completely different ending text"),
            (3, "nothing alike in this document at all zzz qqq"),
        ],
        "doc_id long, text string",
    )
    fps = {}
    for r in winnowing_fingerprints(df, k=5, w=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2]          # shared substring → shared fingerprint
    # unrelated doc: no collision with either (was a tautology before —
    # `assert X or True` — so this property had zero coverage)
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])
    # density: winnowing keeps far fewer fps than grams
    n_grams_1 = len("intro words common boilerplate sentence here tail one") - 4
    assert len(fps[1]) < n_grams_1 / 2
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnowing_overlap_pairs(df, min_shared=1).collect()
    }
    assert pairs == {(1, 2)}


def test_winnowing_overlap_bucket_cap(spark):
    """bucket_cap on the winnowing overlap screen: a boilerplate text
    shared by 20 docs capped at 4 pairs only the 4 lowest ids; default
    (uncapped) output is unchanged and pairs all of them."""
    from ticktock_spark.pipeline.text import winnowing_overlap_pairs

    df = spark.createDataFrame(
        [(i, "identical boilerplate footer text appears here") for i in range(20)]
        + [(100, "totally unrelated words zzz qqq xxx yyy www")],
        "doc_id long, text string",
    )
    capped = {
        (r["id_a"], r["id_b"])
        for r in winnowing_overlap_pairs(df, min_shared=1, bucket_cap=4).collect()
    }
    assert capped == {(a, b) for a in range(4) for b in range(a + 1, 4)}
    full = {
        (r["id_a"], r["id_b"])
        for r in winnowing_overlap_pairs(df, min_shared=1).collect()
    }
    assert len(full) == 20 * 19 // 2 and not any(100 in p for p in full)


def test_image_dhash_and_neardup_pairs(spark):
    """Perceptual image near-dup: dHash is invariant under monotone
    brightness shifts and nearest-neighbor upscaling (the transforms a
    crawl's recompressed copies exhibit), distinct structures hash far
    apart, and the 4-band Hamming join finds exactly the close pairs —
    recall is structural for hamming <= 3 (pigeonhole over 16-bit
    bands). Runs the REAL stdlib pixel path end-to-end through Spark."""
    import pytest

    from ticktock_spark.pipeline.multimodal import (
        _dhash64,
        _netpbm_gray,
        dhash_neardup_pairs,
        image_dhash,
    )

    def p5(w, h, pix):
        return f"P5 {w} {h} 255\n".encode() + bytes(pix)

    # structured 18x16 image: vertical step pattern
    base = [(255 if (x // 3) % 2 else 10) for y in range(16) for x in range(18)]
    img_a = p5(18, 16, base)
    # brightness-shifted copy (monotone: +30 clamped) → same dhash
    img_b = p5(18, 16, [min(255, v + 30) for v in base])
    # nearest-neighbor 2x upscale → same dhash (grid sampling aligns)
    up = [base[(y // 2) * 18 + (x // 2)] for y in range(32) for x in range(36)]
    img_c = p5(36, 32, up)
    # different structure: horizontal stripes
    img_d = p5(18, 16, [(255 if (y // 2) % 2 else 10) for y in range(16) for x in range(18)])

    hs = []
    for img in (img_a, img_b, img_c, img_d):
        w, h, g = _netpbm_gray(img)
        hs.append(_dhash64(g, w, h))
    assert hs[0] == hs[1] == hs[2]
    assert bin(hs[0] ^ hs[3]).count("1") > 3

    df = spark.createDataFrame(
        [(1, img_a), (2, img_b), (3, img_c), (4, img_d), (5, b"\x89PNG junk")],
        "doc_id long, media binary",
    )
    hashes = image_dhash(df, media_col="media")
    got = {r["doc_id"]: r for r in hashes.collect()}
    assert set(got) == {1, 2, 3, 4}  # junk payload dropped, not fatal
    assert got[3]["width"] == 36 and got[3]["height"] == 32
    pairs = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dhash_neardup_pairs(hashes, max_hamming=3).collect()
    }
    assert pairs == {(1, 2, 0), (1, 3, 0), (2, 3, 0)}
    with pytest.raises(ValueError, match="bands"):
        dhash_neardup_pairs(hashes, max_hamming=8)


def test_vocab_size_stats_sketch_bound(spark):
    """The HLL++ path must land within a few relative standard
    deviations of the exact distinct count, and n_tokens (a plain count)
    must be identical."""
    from ticktock_spark.pipeline import text as tx
    from ticktock_spark.schema import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = tx.vocab_size_stats(docs).collect()[0]
    approx = tx.vocab_size_stats(docs, exact=False, rsd=0.02).collect()[0]
    assert approx["n_tokens"] == exact["n_tokens"]
    assert exact["n_distinct"] > 0
    rel = abs(approx["n_distinct"] - exact["n_distinct"]) / exact["n_distinct"]
    assert rel <= 0.10  # 5 sigma at rsd=0.02 — deterministic sketch, not flaky


def test_mixture_plan_composes_with_stratified_sample(spark):
    """The plan's rates realize the mixture: strata under their target
    keep everything (rate 1, shortfall > 0 reported), oversupplied
    strata sample down toward the target share, and unweighted strata
    get rate 0."""
    from ticktock_spark.pipeline import sample as sp
    from ticktock_spark.pipeline import text as tx
    from ticktock_spark.schema import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").withColumn(
        "n_tokens", tx.token_count(F.col("text")).cast("long")
    )
    weights = {"en": 0.8, "de": 0.2}
    plan = {r["lang"]: r for r in sp.mixture_plan(docs, weights, 5_000).collect()}
    assert set(plan) == {r["lang"] for r in docs.select("lang").distinct().collect()}
    for lang, row in plan.items():
        if lang not in weights:
            assert row["rate"] == 0.0 and row["target_tokens"] == 0.0
        elif row["available_tokens"] <= row["target_tokens"]:
            assert row["rate"] == 1.0 and row["shortfall"] > 0
        else:
            assert 0 < row["rate"] < 1 and row["shortfall"] == 0.0
    rates = {k: r["rate"] for k, r in plan.items()}
    kept = sp.stratified_sample(docs, rates).groupBy("lang").agg(
        F.sum("n_tokens").alias("tok")
    )
    got = {r["lang"]: r["tok"] for r in kept.collect()}
    for lang in weights:
        target = plan[lang]["target_tokens"]
        avail = plan[lang]["available_tokens"]
        expect = min(avail, target)
        # hash sampling is approximate: within 35% of the target share
        assert abs(got.get(lang, 0) - expect) / max(expect, 1) < 0.35


def test_lsh_audit_counts(spark):
    """The audit's intersection logic is exact: n_hit counts candidate
    pairs that are also true pairs, precision/recall are their ratios,
    and an exact-duplicate pair (recall structurally 1 for identical
    signatures) is always both a candidate and a truth pair."""
    from ticktock_spark.pipeline import dedup as dd

    r = dd.lsh_audit(_docs(spark), threshold=0.2).collect()[0]
    truth = set(
        (x["id_a"], x["id_b"])
        for x in dd.ngram_jaccard_pairs(_docs(spark), threshold=0.2).collect()
    )
    cand = set(
        (x["id_a"], x["id_b"])
        for x in dd.minhash_lsh_candidates(_docs(spark)).collect()
    )
    assert r["n_truth"] == len(truth) and r["n_cand"] == len(cand)
    assert r["n_hit"] == len(truth & cand)
    assert (1, 4) in truth and (1, 4) in cand  # the exact-dup pair
    assert r["precision"] == r["n_hit"] / r["n_cand"]
    assert r["recall"] == r["n_hit"] / r["n_truth"]


def test_mmr_rerank_diversifies(spark):
    """MMR skips the near-duplicate of an already-picked result in
    favor of a less-relevant but diverse one; λ=1 degenerates to the
    pure relevance ranking (brute-force order)."""
    from ticktock_spark.pipeline import similarity as sim

    # 0/1 nearly identical and most relevant; 2 diverse, mid relevance;
    # 3 diverse, low relevance
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.05]),
            (1, [1.0, 0.0, 0.06]),
            (2, [0.5, 0.86, 0.0]),
            (3, [0.1, 0.2, 0.97]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0])], "query_id long, embedding array<double>"
    )
    picks = [
        r["vec_id"]
        for r in sim.mmr_rerank(corpus, q, k=3, m=4, lam=0.5)
        .orderBy("rank")
        .collect()
    ]
    # relevance order is 0, 1, 2 — MMR must demote 1 (near-dup of 0)
    assert picks[0] == 0
    assert picks[1] in (2, 3) and 1 not in picks[:2]
    rel_only = [
        r["vec_id"]
        for r in sim.mmr_rerank(corpus, q, k=3, m=4, lam=1.0)
        .orderBy("rank")
        .collect()
    ]
    bf = [
        r["vec_id"]
        for r in sim.brute_force_knn(corpus, q, k=3).orderBy("rank").collect()
    ]
    assert rel_only == bf


def test_curriculum_schedule(spark):
    """Phase weights interpolate linearly from start to end (each phase
    normalized to 1), phase 0 equals the start mix and the last phase
    the end mix, a stratum with no data gets rate 0 with its full
    target as shortfall, and each phase row is a valid mixture_plan
    row (rate capped at 1)."""
    from ticktock_spark.pipeline import sample as sp

    start = {"en": 0.25, "de": 0.25, "fr": 0.5}
    end = {"en": 0.8, "de": 0.2}
    w = sp.curriculum_weights(start, end, 3)
    byp: dict[int, dict[str, float]] = {}
    for p, s, x in w:
        byp.setdefault(p, {})[s] = x
    assert all(abs(sum(d.values()) - 1.0) < 1e-12 for d in byp.values())
    assert byp[0] == {"en": 0.25, "de": 0.25, "fr": 0.5}
    assert byp[2] == {"en": 0.8, "de": 0.2, "fr": 0.0}
    # midpoint before normalization: en .525, de .225, fr .25 (sums to 1)
    assert abs(byp[1]["en"] - 0.525) < 1e-12
    # single-phase curriculum = the START mix (frac 0), identical to the
    # p=0 phase of any multi-phase run
    w1 = {s: x for _, s, x in sp.curriculum_weights(start, end, 1)}
    assert w1 == byp[0]

    docs = spark.createDataFrame(
        [(i, "en" if i < 8 else "de", 100) for i in range(10)],
        "doc_id long, lang string, n_tokens long",
    )
    plan = sp.curriculum_schedule(docs, start, end, 3, 400)
    rows = {(r["phase"], r["lang"]): r for r in plan.collect()}
    assert len(rows) == 9  # 3 phases x 3 strata
    # fr never has data: rate 0, shortfall = its whole target
    fr0 = rows[(0, "fr")]
    assert fr0["available_tokens"] == 0 and fr0["rate"] == 0.0
    assert fr0["shortfall"] == fr0["target_tokens"] == 200.0
    # en phase 0: target 100 of 800 available -> rate 1/8
    assert abs(rows[(0, "en")]["rate"] - 0.125) < 1e-12
    # de phase 2: target 80 of 200 available -> rate 0.4
    assert abs(rows[(2, "de")]["rate"] - 0.4) < 1e-12
    # rate is capped at 1 even when the target exceeds availability
    big = sp.curriculum_schedule(docs, start, end, 1, 10**6)
    assert all(r["rate"] <= 1.0 for r in big.collect())


def test_corpus_diff_statuses(spark):
    """added/removed/changed/unchanged labels are exact, including the
    NULL-text cases (NULL→NULL unchanged, NULL→text changed)."""
    from ticktock_spark.pipeline import dedup as dd

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None), (5, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, None), (5, "now"), (6, "new")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in dd.corpus_diff(old, new).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",
        5: "changed",
        6: "added",
    }


def test_embedding_quantization_roundtrip(spark):
    """int8 quantize/dequantize: per-dimension error <= scale/2, cosine
    with the original stays ~1, zero vectors round-trip to zeros, and
    the code range never exceeds [-127, 127]."""
    import math

    from ticktock_spark.pipeline import similarity as sim
    from ticktock_spark.schema import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    zero = spark.createDataFrame(
        [(99_999, [0.0] * 8, 0)], "vec_id long, embedding array<float>, label int"
    )
    src = vecs.unionByName(zero)
    q = sim.quantize_embeddings(src)
    deq = sim.dequantize_embeddings(q)
    orig = {r["vec_id"]: r["embedding"] for r in src.collect()}
    scales = {r["vec_id"]: r["scale"] for r in q.collect()}
    codes = {r["vec_id"]: r["q"] for r in q.collect()}
    assert all(all(-127 <= c <= 127 for c in cs) for cs in codes.values())
    assert list(codes[99_999]) == [0] * 8 and scales[99_999] == 0.0
    for r in deq.collect():
        vid, xhat = r["vec_id"], r["embedding"]
        x, s = orig[vid], scales[vid]
        assert all(abs(a - b) <= s / 2 + 1e-6 for a, b in zip(x, xhat))
        na = math.sqrt(sum(a * a for a in x))
        nb = math.sqrt(sum(b * b for b in xhat))
        if na > 0 and nb > 0:
            cos = sum(a * b for a, b in zip(x, xhat)) / (na * nb)
            assert cos > 0.999


def test_knn_quantized_recall(spark):
    """int8-code kNN must recover nearly the same neighbors as the
    float brute-force path — scales cancel in cosine, so the only
    divergence is quantization noise. Asserts recall@10 >= 0.9 averaged
    over 5 query vectors on the real embeddings table."""
    from pyspark.sql import functions as SF

    from ticktock_spark.pipeline import similarity as sim
    from ticktock_spark.schema import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = (
        vecs.orderBy("vec_id").limit(5)
        .select(SF.col("vec_id").alias("query_id"), "embedding")
    )
    exact = sim.brute_force_knn(vecs, queries, k=10)
    qc = sim.quantize_embeddings(vecs)
    qq = sim.quantize_embeddings(
        queries.select(SF.col("query_id").alias("vec_id"), "embedding")
    ).select(SF.col("vec_id").alias("query_id"), "scale", "q")
    got = sim.knn_quantized(qc, qq, k=10)
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    g = {}
    for r in got.collect():
        g.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(e) == set(g)
    recalls = [len(e[q] & g[q]) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_chunk_dedup_semantics(spark):
    """Aligned-tile ExactSubstr semantics: chunk 'a b c' (3-word tiles)
    duplicated across docs keeps only its (lowest doc, lowest position)
    occurrence; a within-doc repeat is removed too; a doc that is all
    repeats survives with empty text and n_kept=0; reassembly preserves
    original chunk order."""
    from ticktock_spark.pipeline.dedup import chunk_dedup

    df = spark.createDataFrame(
        [
            (1, "a b c x y z a b c"),       # tiles: 'a b c','x y z','a b c'
            (2, "a b c q r s"),             # 'a b c' repeat + unique tile
            (3, "x y z"),                   # all-repeat doc
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text_dedup"], r["n_kept"], r["n_removed"])
        for r in chunk_dedup(df, chunk_words=3).collect()
    }
    assert got == {
        1: ("a b c x y z", 2, 1),
        2: ("q r s", 1, 1),
        3: ("", 0, 1),
    }


def test_chunk_dedup_hash_key_parity(spark):
    """The production hash_key=True preset (xxhash64 shuffle key) must
    produce the identical result as the string-keyed oracle path."""
    from ticktock_spark.pipeline.dedup import chunk_dedup
    from ticktock_spark.schema import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    a = chunk_dedup(d, chunk_words=20, hash_key=False).orderBy("doc_id").collect()
    b = chunk_dedup(d, chunk_words=20, hash_key=True).orderBy("doc_id").collect()
    assert a == b
    assert sum(r["n_removed"] for r in a) > 0  # the corpus has tile dups


def test_heavy_hitters_exact_under_collisions(spark):
    """CMS screen + exact recount must equal the all-exact answer even
    with a tiny sketch (width=4 → heavy collisions → many false
    candidates): CMS never undercounts, so the recount's HAVING filter
    restores exactness for any geometry."""
    from ticktock_spark.pipeline.text import heavy_hitters, tokens
    from pyspark.sql import functions as F

    rows = [(i, "alpha beta " * 5 + f"rare{i} gamma") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    expected = {
        ("alpha", 200), ("beta", 200), ("gamma", 40),
    }
    for width, depth in [(4, 2), (4096, 4)]:
        got = {
            (r["tok"], r["n_occ"])
            for r in heavy_hitters(df, min_count=40, width=width, depth=depth).collect()
        }
        assert got == expected, (width, depth)

    # threshold above every count → empty, never an error
    assert heavy_hitters(df, min_count=10_000).count() == 0


def test_pq_encode_matches_numpy_reference(spark):
    """pq_encode's argmin must agree with a direct per-codeword PQ
    encoder on every vector — both codebook flavors (bucket-mean and
    kmeans-trained) — and break distance ties toward the lowest code."""
    import numpy as np

    from ticktock_spark.pipeline import similarity as sim
    from ticktock_spark.schema import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pdf = e.select("vec_id", "embedding").toPandas()
    for cb in [sim.pq_codebooks(e, m=4), sim.pq_codebooks_kmeans(e, m=16, k=16)]:
        m, dsub, cbd = sim._pq_collect(cb)
        got = {
            r["vec_id"]: list(r["codes"]) for r in sim.pq_encode(e, cb).collect()
        }
        for vid, vec in zip(pdf["vec_id"], pdf["embedding"]):
            v = np.asarray(list(vec), dtype=np.float64)
            v = v / max(float(np.linalg.norm(v)), 1e-30)
            want = []
            for j in range(m):
                sub = v[j * dsub : (j + 1) * dsub]
                d2 = [(code, float(((sub - np.asarray(c)) ** 2).sum())) for code, c in cbd[j]]
                want.append(min(d2, key=lambda t: (t[1], t[0]))[0])
            assert got[vid] == want, (m, vid)

    # tie-break: two identical codewords → lowest code wins
    tie = spark.createDataFrame(
        [(0, [1.0, 1.0], 7), (1, [1.0, 1.0], 3), (2, [0.0, 0.0], 5)],
        "vec_id long, embedding array<double>, label int",
    )
    tcb = sim.pq_codebooks(tie, m=1)
    codes = {r["vec_id"]: list(r["codes"]) for r in sim.pq_encode(tie, tcb).collect()}
    assert codes[0] == [3] and codes[1] == [3]  # codes 3 and 7 equidistant


def test_pq_knn_shape_and_recall(spark):
    """pq_knn returns a full dense top-k per query with nondecreasing
    ADC distance (bucket-codebook oracle path), and the PRODUCTION
    kmeans-trained codebooks (m=16, k=16) recover a usable share of
    the exact cosine top-10 — on this near-random synthetic corpus the
    intrinsic PQ ceiling is ~50% recall@10; real clustered embeddings
    quantize far better."""
    from pyspark.sql import Window, functions as F

    from ticktock_spark.pipeline import similarity as sim
    from ticktock_spark.schema import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sim.pq_knn(e, q, k=10, m=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, 11))
        d = [r["adc_d2"] for r in rows]
        assert d == sorted(d)

    exact = sim.cosine_scores(e, q)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    top = exact.withColumn("rank", F.row_number().over(w)).filter("rank <= 10").collect()
    exact_sets = {}
    for r in top:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])

    cb = sim.pq_codebooks_kmeans(e, m=16, k=16)
    trained = sim.pq_knn(e, q, k=10, m=16, codebooks=cb).collect()
    t_sets = {}
    for r in trained:
        t_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    overlap = sum(len(exact_sets[qid] & t_sets[qid]) for qid in range(5))
    assert overlap >= 12  # measured 23/50; floor leaves partial-sum-drift margin


def test_ivfpq_index_pruning_and_parity(spark, tmp_path):
    """write_ivfpq_index lays PQ codes out partitioned by the coarse
    bucket; ivfpq_index_knn's probe becomes a literal partition filter
    on the codes scan, and its ranking equals ADC-scoring the probed
    buckets' codes directly (structural parity)."""
    from ticktock_spark.pipeline import similarity as sim
    from ticktock_spark.schema import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = corpus.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivfpq")
    sim.write_ivfpq_index(corpus, path, nlist=8, m=4, kc=16)

    got = sim.ivfpq_index_knn(spark, path, queries, k=5, nprobe=2)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for g in by_q.values():
        g.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in g] == list(range(1, 6))
        d = [r["adc_d2"] for r in g]
        assert d == sorted(d)

    # pruning proof: bucket IN (...) lands in the codes scan's
    # PartitionFilters
    plan = got._jdf.queryExecution().executedPlan().toString()
    part_filters = [
        ln for ln in plan.splitlines()
        if "PartitionFilters" in ln and "bucket" in ln
    ]
    assert part_filters and all("IN" in ln.upper() for ln in part_filters), plan[:2000]

    # structural parity: manually ADC-score the probed buckets
    cbdf = spark.read.parquet(f"{path}/codes")
    cent = spark.read.parquet(f"{path}/centroids")
    books = spark.read.parquet(f"{path}/codebooks")
    mm, dsub, cb = sim._pq_collect(books)
    probes = (
        queries.crossJoin(F.broadcast(cent))
        .select(
            F.col("query_id"), "bucket",
            sim.cosine(F.col("embedding"), F.col("centroid")).alias("cs"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), F.col("bucket"))
    pb = {
        (r["query_id"], r["bucket"])
        for r in probes.withColumn("r", F.row_number().over(w))
        .filter("r <= 2").collect()
    }
    tbls = dict(sim._pq_query_rows(queries, cb, mm, dsub, "query_id", "embedding"))
    code_rows = cbdf.collect()
    pos = {code: i for i, (code, _) in enumerate(cb[0])}
    want = {}
    for qid in (0, 1, 2):
        cands = []
        for r in code_rows:
            if (qid, r["bucket"]) not in pb or r["vec_id"] == qid:
                continue
            d = sum(tbls[qid][j][pos[c]] for j, c in enumerate(r["codes"]))
            d = __import__("math").floor(d * 1e6 + 0.5) / 1e6
            cands.append((d, r["vec_id"]))
        cands.sort()
        want[qid] = [v for _, v in cands[:5]]
    got_ids = {qid: [r["vec_id"] for r in sorted(g, key=lambda r: r["rank"])]
               for qid, g in by_q.items()}
    assert got_ids == want


def test_chunk_dedup_incremental_semantics(spark):
    """Incremental tile dedup: tiles in the standing index are dropped
    even as a batch's first occurrence; within-batch repeats follow
    chunk_dedup's first-occurrence rule; an empty index reduces to
    plain chunk_dedup."""
    from ticktock_spark.pipeline.dedup import (
        chunk_dedup, chunk_dedup_incremental, chunk_index,
    )

    old = spark.createDataFrame(
        [(100, "a b c x y z")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, "a b c q r s"),    # 'a b c' indexed → dropped
            (2, "q r s t u v"),    # 'q r s' = batch repeat of doc 1's tile
        ],
        "doc_id long, text string",
    )
    idx = chunk_index(old, chunk_words=3)
    got = {
        r["doc_id"]: (r["text_dedup"], r["n_kept"], r["n_removed"])
        for r in chunk_dedup_incremental(batch, idx, chunk_words=3).collect()
    }
    assert got == {1: ("q r s", 1, 1), 2: ("t u v", 1, 1)}

    empty_idx = chunk_index(old.filter("doc_id < 0"), chunk_words=3)
    a = chunk_dedup_incremental(batch, empty_idx, chunk_words=3).orderBy("doc_id").collect()
    b = chunk_dedup(batch, chunk_words=3).orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_bpe_train_matches_reference(spark):
    """The distributed merge loop must produce the exact merge table a
    reference single-process BPE trainer computes from the same (word,
    count) vocabulary — same tie rule (max count, then pair asc), same
    greedy left-to-right merge application — at k=5 and k=8; and
    bpe_encode under the k=8 table must give every doc the subword
    count a sequential replay of that table gives."""
    from ticktock_spark.pipeline.text import bpe_encode, bpe_train, tokens
    from ticktock_spark.schema import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")

    def merge(syms, a, b):
        out = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        return out

    wc = {
        r["w"]: r["c"]
        for r in d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    for k in (5, 8):
        m = bpe_train(d, num_merges=k)
        got = [
            (r["rank"], r["a"], r["b"], r["pair"], r["n"])
            for r in m.orderBy("rank").collect()
        ]
        state = [([ch for ch in w], c) for w, c in wc.items()]
        want = []
        for r in range(k):
            counts = {}
            for syms, c in state:
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + c
            if not counts:
                break
            best_n = max(counts.values())
            a, b = min(p for p, c in counts.items() if c == best_n)
            want.append((r + 1, a, b, a + b, best_n))
            state = [(merge(syms, a, b), c) for syms, c in state]
        assert got == want and len(got) == k, k

    table = [(a, b) for _, a, b, _, _ in want]
    enc = {r["doc_id"]: (r["n_words"], r["n_subwords"])
           for r in bpe_encode(d, m).collect()}
    ref = {}
    for r in d.select("doc_id", tokens(F.col("text")).alias("t")).collect():
        if r["t"]:
            n_sub = 0
            for w in r["t"]:
                syms = list(w)
                for a, b in table:
                    syms = merge(syms, a, b)
                n_sub += len(syms)
            ref[r["doc_id"]] = (len(r["t"]), n_sub)
    assert enc == ref and len(enc) > 0

    # overlap rule: 'aaa' pairs disjointly
    tiny = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    m = bpe_train(tiny, num_merges=2).orderBy("rank").collect()
    assert (m[0]["a"], m[0]["b"], m[0]["n"]) == ("a", "a", 4)  # 2 positions x wc 2
    assert (m[1]["a"], m[1]["b"]) == ("aa", "a")


def test_bpe_encode_semantics(spark):
    """Merge replay: 'aaa' under (a,a) then (a,b) becomes [aa, a] (2
    subwords); 'abab' pairs into [ab, ab]; unmerged words count their
    characters; word with no applicable merge stays at char count."""
    from ticktock_spark.pipeline.text import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [(1, "aaa aaa bc"), (2, "abab")], "doc_id long, text string"
    )
    m = bpe_train(df, num_merges=2)
    got = {(r["doc_id"]): (r["n_words"], r["n_subwords"])
           for r in bpe_encode(df, m).collect()}
    assert got == {1: (3, 6), 2: (1, 2)}

    # empty merge table → pure character counts
    empty = m.filter("rank < 0")
    got0 = {r["doc_id"]: r["n_subwords"] for r in bpe_encode(df, empty).collect()}
    assert got0 == {1: 8, 2: 4}


def test_bpe_encode_arrow_replay_order(spark):
    """Replay-in-order corner the heap must honor: a merge that CREATES
    a pair whose rank is EARLIER than the replay cursor must NOT fire
    (the sequential replay already passed it), while created pairs with
    later ranks must. Table: rank1 (a,bc) — only applicable AFTER rank2
    builds 'bc', so it never fires; rank3 (a,bc) does."""
    from ticktock_spark.pipeline.text import bpe_encode

    df = spark.createDataFrame([(1, "abc"), (2, "abc abc")],
                               "doc_id long, text string")
    # forward chain: rank1 builds bc, rank2 consumes it → 1 subword
    fwd = spark.createDataFrame(
        [(1, "b", "c", "bc", 0), (2, "a", "bc", "abc", 0)],
        "rank int, a string, b string, pair string, n long",
    )
    # backward chain: (a,bc) sits at rank1, bc only exists after rank2 →
    # replay-in-order leaves [a, bc] (2 subwords)
    bwd = spark.createDataFrame(
        [(1, "a", "bc", "abc", 0), (2, "b", "c", "bc", 0)],
        "rank int, a string, b string, pair string, n long",
    )
    for table, want_sub in ((fwd, 1), (bwd, 2)):
        got = {r["doc_id"]: r["n_subwords"]
               for r in bpe_encode(df, table).collect()}
        assert got == {1: want_sub, 2: 2 * want_sub}, (want_sub, got)


def test_bpe_encode_ids(spark):
    """Token-id emission: GPT-2-style id assignment (sorted alphabet
    then merges by rank), words in order, symbols in order, and the
    min-id rule when a merge output collides with an existing symbol
    string."""
    from ticktock_spark.pipeline.text import bpe_encode_ids, bpe_train, bpe_vocab

    df = spark.createDataFrame(
        [(1, "abab ab"), (2, "ba")], "doc_id long, text string"
    )
    # merges: rank1 (a,b)->ab (most frequent: 3 positions)
    m = bpe_train(df, num_merges=1)
    rows = m.collect()
    assert [(r["a"], r["b"]) for r in rows] == [("a", "b")]
    vocab = {r["sym"]: r["token_id"] for r in bpe_vocab(df, m).collect()}
    assert vocab == {"a": 0, "b": 1, "ab": 2}
    got = {r["doc_id"]: (list(r["token_ids"]), r["n_tokens"])
           for r in bpe_encode_ids(df, m).collect()}
    # doc1: 'abab'->[ab,ab], 'ab'->[ab]; doc2: 'ba'->[b,a]
    assert got == {1: ([2, 2, 2], 3), 2: ([1, 0], 2)}

    # collision: a merge whose output string equals an alphabet symbol
    # cannot take a second id (min-id rule)
    df2 = spark.createDataFrame([(1, "ab a b")], "doc_id long, text string")
    m2 = spark.createDataFrame(
        [(1, "a", "b", "ab", 0)], "rank int, a string, b string, pair string, n long"
    )
    v2 = {r["sym"]: r["token_id"] for r in bpe_vocab(df2, m2).collect()}
    assert v2 == {"a": 0, "b": 1, "ab": 2}
    df3 = spark.createDataFrame([(1, "aa a")], "doc_id long, text string")
    m3 = spark.createDataFrame(
        [(1, "a", "a", "aa", 0), (2, "a", "aa", "aaa", 0)],
        "rank int, a string, b string, pair string, n long",
    )
    v3 = {r["sym"]: r["token_id"] for r in bpe_vocab(df3, m3).collect()}
    assert v3 == {"a": 0, "aa": 1, "aaa": 2}
    got3 = {r["doc_id"]: list(r["token_ids"])
            for r in bpe_encode_ids(df3, m3).collect()}
    assert got3 == {1: [1, 0]}  # 'aa'->[aa], 'a'->[a]


def test_bpe_decode_roundtrip(spark):
    """decode∘encode reproduces the normalized text with spaces elided
    (lossless roundtrip through ids); unknown ids decode to U+FFFD and
    are counted in n_bad rather than dropped."""
    from ticktock_spark.pipeline.text import (
        bpe_decode_ids,
        bpe_encode_ids,
        bpe_train,
        bpe_vocab,
        normalize_text,
    )

    df = spark.createDataFrame(
        [(1, "abab ab ba"), (2, "ba baba"), (3, "Mixed CASE, punct!")],
        "doc_id long, text string",
    )
    m = bpe_train(df, num_merges=2)
    v = bpe_vocab(df, m)
    dec = bpe_decode_ids(bpe_encode_ids(df, m, vocab_df=v), v)
    got = {r["doc_id"]: (r["decoded"], r["n_bad"]) for r in dec.collect()}
    want = {
        r["doc_id"]: r["w"].replace(" ", "")
        for r in df.select(
            "doc_id", normalize_text(F.col("text")).alias("w")
        ).collect()
    }
    assert got == {i: (w, 0) for i, w in want.items()}

    # an id outside the vocab surfaces as U+FFFD + n_bad, not silence
    ids = spark.createDataFrame(
        [(9, [0, 999, 1])], "doc_id long, token_ids array<int>"
    )
    bad = bpe_decode_ids(ids, v).collect()[0]
    assert bad["n_bad"] == 1 and "�" in bad["decoded"]


def test_pack_token_ids(spark):
    """Packed-pretraining materialization: docs concatenate in id order
    within their pack group, sequences cut at max_len (a doc spans two
    sequences; a sequence holds many docs), groups pack independently,
    and every sequence except a group's last is exactly full."""
    from ticktock_spark.pipeline.text import pack_token_ids

    enc = spark.createDataFrame(
        [
            (0, [0, 1, 2]),        # group 0
            (2, [3, 4, 5, 6]),     # group 0: spans seq 0 (3..4) + seq 1 (5..6)
            (4, [7]),              # group 0
            (1, [9, 9]),           # group 1: isolated from group 0
        ],
        "doc_id long, token_ids array<int>",
    ).withColumn("n_tokens", F.size("token_ids"))
    rows = pack_token_ids(enc, max_len=5, n_groups=2).collect()
    got = {
        (r["pack_group"], r["seq_idx"]): (
            list(r["input_ids"]), r["n_tokens"], r["n_docs"]
        )
        for r in rows
    }
    assert got == {
        (0, 0): ([0, 1, 2, 3, 4], 5, 2),   # doc0 whole + doc2 head
        (0, 1): ([5, 6, 7], 3, 2),         # doc2 tail + doc4
        (1, 0): ([9, 9], 2, 1),
    }
    spans = {
        (r["pack_group"], r["seq_idx"]): [
            (s["doc_id"], s["start"], s["end"]) for s in r["doc_spans"]
        ]
        for r in rows
    }
    # [start, end) boundaries inside each sequence — the attention-mask
    # input; spans ordered, contiguous, covering every position
    assert spans == {
        (0, 0): [(0, 0, 3), (2, 3, 5)],
        (0, 1): [(2, 0, 2), (4, 2, 3)],
        (1, 0): [(1, 0, 2)],
    }


def test_bpe_sql_engine_merge_cap(spark):
    """A 65-merge table — past where a one-replace()-per-merge SQL
    chain stops resolving — encodes like any other: none of its merges
    applies to 'ab', so the word stays two symbols."""
    from ticktock_spark.pipeline.text import bpe_encode

    df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    big = spark.createDataFrame(
        [(i + 1, f"s{i}", f"t{i}", f"s{i}t{i}", 0) for i in range(65)],
        "rank int, a string, b string, pair string, n long",
    )
    got = bpe_encode(df, big).collect()
    assert [(r["n_words"], r["n_subwords"]) for r in got] == [(1, 2)]



def test_perplexity_buckets_cut_per_language(spark):
    from ticktock_spark.pipeline.sample import perplexity_buckets
    from ticktock_spark.pipeline.text import bigram_perplexity

    rows = []
    for i in range(12):
        rows.append((i, "the cat sat on the mat " * (1 + i % 3) + f"extra{i}", "en"))
    for i in range(12, 21):
        rows.append((i, "der hund lief schnell " * (1 + i % 4) + f"wort{i}", "de"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = perplexity_buckets(docs).collect()
    assert {r["bucket"] for r in out} <= {"head", "middle", "tail"}

    # recompute expected thresholds per lang with the R-6 rule
    ce = {
        r["doc_id"]: math.floor(r["cross_entropy"] * 1e6 + 0.5) / 1e6
        for r in bigram_perplexity(docs).collect()
    }
    lang = {i: l for i, _, l in rows}

    def r6(vals, q):
        vals = sorted(vals)
        n = len(vals)
        idx = q / 100.0 * (n + 1)
        if n == 1 or idx < 1:
            return vals[0]
        if idx >= n:
            return vals[-1]
        i = int(math.floor(idx))
        return vals[i - 1] + (idx - i) * (vals[i] - vals[i - 1])

    for r in out:
        vals = [c for d, c in ce.items() if lang[d] == r["lang"]]
        lo = math.floor(r6(vals, 33.0) * 1e6 + 0.5) / 1e6
        hi = math.floor(r6(vals, 67.0) * 1e6 + 0.5) / 1e6
        c = ce[r["doc_id"]]
        want = "head" if c <= lo else ("middle" if c <= hi else "tail")
        assert r["bucket"] == want, (r, lo, hi, c)
    # every scored doc got a bucket
    assert len(out) == len(ce)


def test_epoch_shuffle_reproducible_permutation(spark):
    from ticktock_spark.pipeline.sample import epoch_shuffle

    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: (r["shard"], r["pos"]) for r in epoch_shuffle(docs, 8, 0).collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"]) for r in epoch_shuffle(docs, 8, 0).collect()}
    assert a == b  # same epoch → identical order
    c = {r["doc_id"]: (r["shard"], r["pos"]) for r in epoch_shuffle(docs, 8, 1).collect()}
    assert a != c  # new epoch → new permutation
    # coordinates form a partition-wise contiguous 1..n_s numbering
    assert len(a) == 200
    by_shard = {}
    for d, (s, p) in a.items():
        assert 0 <= s < 8
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_length_bucket_report_hand_computed(spark):
    from ticktock_spark.pipeline.text import length_bucket_report

    docs = spark.createDataFrame(
        [
            (1, "a b c"),            # 3 tokens  → bucket 4
            (2, "a b c d"),          # 4         → bucket 4
            (3, "a b c d e"),        # 5         → bucket 8
            (4, " ".join("x" * 1 for _ in range(20))),  # 20 → bucket 8 (truncated to 8)
            (5, ""),                 # 0         → bucket 4
        ],
        "doc_id long, text string",
    )
    out = {r["bucket"]: r for r in length_bucket_report(docs, (4, 8)).collect()}
    assert out[4]["n_docs"] == 3 and out[4]["token_mass"] == 7
    assert out[4]["pad_mass"] == 3 * 4 - 7
    assert out[8]["n_docs"] == 2 and out[8]["token_mass"] == 5 + 8  # doc 4 truncated
    assert out[8]["pad_mass"] == 2 * 8 - 13
    assert out[4]["efficiency"] == pytest.approx(7 / 12, abs=1e-6)


def test_zipf_alpha_recovers_planted_exponent(spark):
    from ticktock_spark.pipeline.text import zipf_alpha

    # plant counts ~ round(1000 / rank^0.8) for 30 tokens: expect alpha≈0.8
    import numpy as np

    counts = {f"tok{i:02d}": max(1, round(1000 / (i + 1) ** 0.8)) for i in range(30)}
    text = " ".join(" ".join([t] * c) for t, c in counts.items())
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = zipf_alpha(docs, top_k=30).collect()[0]
    assert row["n_tokens"] == 30

    # independent OLS on the same micro-quantized points
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    x = np.array([math.floor(math.log(i + 1) * 1e6 + 0.5) for i in range(30)])
    y = np.array(
        [math.floor(math.log(c) * 1e6 + 0.5) for _, c in ranked], dtype=np.int64
    )
    n = 30
    slope = (n * int((x * y).sum()) - int(x.sum()) * int(y.sum())) / (
        n * int((x * x).sum()) - int(x.sum()) ** 2
    )
    assert row["alpha"] == pytest.approx(-slope, abs=1e-5)
    assert 0.7 < row["alpha"] < 0.9


def test_cross_source_matrix_attributes_pairs(spark):
    from ticktock_spark.pipeline.dedup import cross_source_matrix

    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    docs = spark.createDataFrame(
        [
            (1, base, "web"),
            (2, base + "tail", "licensed"),      # near-dup of 1, crosses sources
            (3, base + "coda", "web"),           # near-dup of 1, within web
            (4, "completely different text about spark executors", "web"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): r
        for r in cross_source_matrix(docs, threshold=0.7).collect()
    }
    assert ("licensed", "web") in out
    assert out[("licensed", "web")]["n_pairs"] >= 1
    assert ("web", "web") in out  # within-source diagonal
    for r in out.values():
        assert 0.7 <= r["mean_jaccard"] <= 1.0
        assert r["source_a"] <= r["source_b"]


def test_embedding_hygiene_flags_broken_vectors(spark):
    from ticktock_spark.pipeline.similarity import embedding_hygiene

    emb = spark.createDataFrame(
        [
            (1, [3.0, 4.0], "a"),            # norm 5
            (2, [0.0, 0.0], "a"),            # zero norm
            (3, [1.0, float("nan")], "a"),   # non-finite
            (4, [1.0, 0.0, 0.0], "b"),       # ragged dim vs group a
            (5, [float("inf"), 0.0, 0.0], "b"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    out = {r["label"]: r for r in embedding_hygiene(emb).collect()}
    a, b = out["a"], out["b"]
    assert (a["n_vecs"], a["n_zero_norm"], a["n_nonfinite"]) == (3, 1, 1)
    assert (a["dim_min"], a["dim_max"]) == (2, 2)
    assert (b["dim_min"], b["dim_max"]) == (3, 3)
    assert b["n_nonfinite"] == 1
    # mean norm over FINITE norms only: group a = (5 + 0) / 2
    assert a["mean_norm"] == pytest.approx(2.5, abs=1e-6)
    # group b: finite norm is only vec 4 (norm 1)
    assert b["mean_norm"] == pytest.approx(1.0, abs=1e-6)
    assert b["n_vecs"] == 2


def test_pmi_collocations_rank_strong_pair(spark):
    from ticktock_spark.pipeline.text import pmi_collocations

    # "san francisco" always co-occurs (high PMI); "the cat"/"the dog"
    # share the frequent left word "the" (low PMI).
    rows = []
    for i in range(10):
        rows.append((i, "san francisco is great and the cat saw the dog"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(docs, top_k=9, min_count=5).collect()
    got = {(r["w1"], r["w2"]): r for r in out}

    import math as m

    # 9 bigrams/doc * 10 docs = 90 total; margins: 'the' is 20 as w1
    # and 20 as w2, everything else 10. Pairs not touching 'the' all
    # tie at log2(10*90/(10*10)) = log2(9); pairs with one 'the' margin
    # score log2(4.5).
    nt = 90.0
    hi = m.floor(m.log2(9.0) * 1e6 + 0.5) / 1e6
    lo = m.floor(m.log2(4.5) * 1e6 + 0.5) / 1e6
    assert got[("san", "francisco")]["pmi"] == pytest.approx(hi, abs=1e-6)
    assert got[("san", "francisco")]["n"] == 10
    assert got[("the", "cat")]["pmi"] == pytest.approx(lo, abs=1e-6)
    assert out[0]["pmi"] == pytest.approx(hi, abs=1e-6)
    # ties broken by (w1, w2): 'cat saw' sorts before 'san francisco'
    assert (out[0]["w1"], out[0]["w2"]) == ("cat", "saw")
    assert all(r["pmi"] <= out[0]["pmi"] for r in out)


def test_langid_margin_routes_ambiguous(spark):
    from ticktock_spark.pipeline.text import langid_margin

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog was in that house for it is"),  # strong en
            (2, "der la the und le el"),                              # mixed soup
            (3, "qwerty zzz 12345"),                                  # no stopwords
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in langid_margin(docs).collect()}
    assert out[1]["lang_pred"] == "en" and out[1]["confident"]
    assert out[1]["margin"] == out[1]["top_hits"]  # no other lang hits
    assert not out[2]["confident"]  # margin below threshold
    assert out[3]["lang_pred"] == "und" and not out[3]["confident"]


def test_curation_gate_joint_decision(spark):
    from ticktock_spark.pipeline.sample import curation_gate

    good = "the cat and the dog was in that house for it is the best " * 4
    docs = spark.createDataFrame(
        [
            (1, good),        # good text, good vector → keep
            (2, good),        # good text, broken vector → drop
            (3, good),        # good text, missing vector → drop
            (4, "zz 123"),    # junk text, good vector → drop
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [0.6, 0.8]),
            (2, [float("nan"), 1.0]),
            (4, [1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["doc_id"]: r for r in curation_gate(docs, emb).collect()}
    assert out[1]["keep"] and out[1]["norm_ok"] and out[1]["confident"]
    assert not out[2]["keep"] and not out[2]["norm_ok"]
    assert not out[3]["keep"] and not out[3]["norm_ok"]
    assert not out[4]["keep"]  # fails quality/confidence, vector fine
    assert out[4]["norm_ok"]


def test_ccnet_mixture_keeps_head_samples_tail(spark):
    from ticktock_spark.pipeline.sample import ccnet_mixture, perplexity_buckets

    rows = [(i, "the cat sat on the mat " * (1 + i % 5) + f"x{i}", "en") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    buckets = {r["doc_id"]: r["bucket"] for r in perplexity_buckets(docs).collect()}
    kept = {r["doc_id"]: r["bucket"] for r in ccnet_mixture(docs, tail_rate=0.1).collect()}
    for d, b in buckets.items():
        if b in ("head", "middle"):
            assert d in kept, (d, b)  # head/middle always kept
    tail = [d for d, b in buckets.items() if b == "tail"]
    tail_kept = [d for d in tail if d in kept]
    assert len(tail_kept) < len(tail)  # tail actually sampled down
    # determinism
    again = {r["doc_id"] for r in ccnet_mixture(docs, tail_rate=0.1).collect()}
    assert set(kept) == again


def test_scene_cuts_segments_frames(spark):
    from ticktock_spark.pipeline.multimodal import scene_cuts

    # hand-crafted frames: payloads whose first 4 bytes give signatures
    # 0.0, 0.0, ~0.5, ~0.5, ~1.0 → cuts at idx 2 and 4
    def payload(first_byte):
        return bytes([first_byte, 0, 0, 0]) + b"rest"

    rows = [
        (1, 0, payload(0)), (1, 1, payload(1)), (1, 2, payload(128)),
        (1, 3, payload(129)), (1, 4, payload(255)),
        (2, 0, payload(7)), (2, 1, payload(9)),  # one quiet video
    ]
    frames = spark.createDataFrame(rows, "doc_id long, frame_idx int, frame binary")
    out = {(r["doc_id"], r["frame_idx"]): r for r in scene_cuts(frames, 0.3).collect()}
    assert [out[(1, i)]["scene_idx"] for i in range(5)] == [0, 0, 1, 1, 2]
    assert out[(1, 2)]["is_cut"] and out[(1, 4)]["is_cut"]
    assert not out[(1, 1)]["is_cut"]
    assert [out[(2, i)]["scene_idx"] for i in range(2)] == [0, 0]


def test_scene_cuts_on_frame_sample_plumbing(spark):
    from ticktock_spark.pipeline.multimodal import frame_sample, scene_cuts

    media = spark.createDataFrame(
        [(1, bytearray(b"videoblob"), {"duration_ms": 4000})],
        "doc_id long, media binary, media_meta map<string,int>",
    )
    frames = frame_sample(media, fps=1.0)
    out = scene_cuts(frames).collect()
    assert len(out) == 4
    assert all(r["scene_idx"] >= 0 for r in out)
    # deterministic: same input → same segmentation
    again = scene_cuts(frame_sample(media, fps=1.0)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_containment_pairs_catch_excerpts(spark):
    from ticktock_spark.pipeline.dedup import (
        containment_pairs,
        minhash_lsh_candidates,
        verify_jaccard,
    )

    quote = "the quick brown fox jumps over the lazy dog near the river bank today"
    article = (
        "breaking report from the valley "
        + quote
        + " officials said more follows tomorrow with extended analysis "
        + "and a long tail of unrelated commentary stretching onward " * 3
    )
    docs = spark.createDataFrame(
        [(1, article), (2, quote), (3, "completely different text body")],
        "doc_id long, text string",
    )
    out = containment_pairs(docs, threshold=0.8).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r["contained"] == "b" and r["containment"] >= 0.9  # the quote side
    # Jaccard at the same bar misses it (small union ratio)
    cand = minhash_lsh_candidates(docs)
    jac = verify_jaccard(docs, cand, threshold=0.8).collect()
    assert (1, 2) not in {(x["id_a"], x["id_b"]) for x in jac}


def test_windowed_containment_catches_short_in_long(spark):
    """Planted short-in-long fixture: a 24-word quote inside a 300-word
    article. Whole-document LSH provably misses the pair (the quote
    barely moves the article's signature); windowed=True tiles the long
    side and catches it, since the tile covering the quote equals the
    quoted doc verbatim (identical signatures)."""
    from ticktock_spark.pipeline.dedup import (
        containment_pairs,
        windowed_containment_candidates,
    )

    quote = " ".join(f"quoted{i} term" for i in range(12))  # 24 words
    filler_a = " ".join(f"alpha{i} token" for i in range(12))  # 24 words
    filler_b = " ".join(f"omega{i} words flowing here" for i in range(63))
    article = f"{filler_a} {quote} {filler_b}"  # quote = words 25..48
    docs = spark.createDataFrame(
        [(1, article), (2, quote), (3, "an unrelated control document body")],
        "doc_id long, text string",
    )
    plain = containment_pairs(docs, threshold=0.8).collect()
    assert (1, 2) not in {(r["id_a"], r["id_b"]) for r in plain}
    out = containment_pairs(
        docs, threshold=0.8, windowed=True, window_words=24, stride=12
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    # the quote's shingles are a near-subset of the article's full set
    assert r["contained"] == "b" and r["containment"] >= 0.9
    # control doc never pairs
    assert all(3 not in p for p in pairs)
    # bucket_cap backstop: a cap of 0 drops every key → no candidates
    capped = windowed_containment_candidates(
        docs, window_words=24, stride=12, bucket_cap=0
    ).collect()
    assert capped == []


def test_dedup_threshold_sweep_monotone(spark):
    from ticktock_spark.pipeline.dedup import dedup_threshold_sweep

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + "small tail"),          # very high jaccard with 1
            (3, base + "a much longer different continuation " * 4),  # mid
            (4, "entirely different content here"),
        ],
        "doc_id long, text string",
    )
    out = {r["threshold"]: r for r in dedup_threshold_sweep(docs).collect()}
    assert out, "no thresholds produced"
    ts = sorted(out)
    for a, b in zip(ts, ts[1:]):
        assert out[a]["n_pairs"] >= out[b]["n_pairs"]        # monotone down
        assert out[a]["n_removable"] >= out[b]["n_removable"]
    assert out[ts[0]]["n_removable"] >= 1  # doc 2 removable at the low cut


def test_release_delta_token_accounting(spark):
    from ticktock_spark.pipeline.dedup import release_delta

    old = spark.createDataFrame(
        [
            (1, "a b c", "s1"),       # unchanged
            (2, "x y", "s1"),         # changed: grows by 2 tokens
            (3, "gone now", "s2"),    # removed: -2
        ],
        "doc_id long, text string, source string",
    )
    new = spark.createDataFrame(
        [
            (1, "a b c", "s1"),
            (2, "x y z w", "s1"),
            (4, "fresh doc here", "s2"),  # added: +3
        ],
        "doc_id long, text string, source string",
    )
    out = {(r["source"], r["status"]): r for r in release_delta(old, new).collect()}
    assert out[("s1", "unchanged")]["n_docs"] == 1
    assert out[("s1", "unchanged")]["token_delta"] == 0
    assert out[("s1", "changed")]["token_delta"] == 2
    assert out[("s2", "removed")]["token_delta"] == -2
    assert out[("s2", "added")]["token_delta"] == 3


def test_word_shingles_and_lsh_recall(spark):
    from ticktock_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        word_shingles,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    docs = spark.createDataFrame(
        [(1, base), (2, base + "iota"), (3, "totally different words only")],
        "doc_id long, text string",
    )
    ws = {r["doc_id"]: set(r["ws"]) for r in docs.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("ws")).collect()}
    # word 3-grams: near-identical docs share almost all shingles
    inter = len(ws[1] & ws[2]);  union = len(ws[1] | ws[2])
    assert inter / union > 0.8
    assert not (ws[1] & ws[3])
    sh = docs.select("doc_id", word_shingles(F.col("text"), 3).alias("sh"))
    cand = {(r["id_a"], r["id_b"]) for r in
            minhash_lsh_candidates(docs, shingles_df=sh).collect()}
    assert (1, 2) in cand and (1, 3) not in cand


def test_script_report_detects_scripts(spark):
    from ticktock_spark.pipeline.text import script_report

    docs = spark.createDataFrame(
        [
            (1, "hello latin world"),
            (2, "中文文本处理 ok"),      # Han + 2 latin
            (3, "привет мир"),  # Cyrillic
            (4, "12345 !!!"),                                     # no letters
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in script_report(docs).collect()}
    assert out[1]["script"] == "latin" and out[1]["n_latin"] == 15
    assert out[2]["script"] == "han" and out[2]["n_han"] == 6
    assert out[2]["n_latin"] == 2
    assert out[3]["script"] == "cyrillic" and out[3]["n_cyrillic"] == 9
    assert out[4]["script"] == "none" and out[4]["n_letters"] == 0
