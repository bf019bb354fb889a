"""Scale-stress harness: replicate the sf0.1 documents/embeddings tables
N x (fresh ids, worst-case exact-duplicate mega-clusters) and time the
dedup/similarity paths that would dominate a 100 TB run. Evidence for
the COVERAGE scale claims: task-bounded LSH buckets (_bucket_blocks),
block-pair cosine kernel, log-round connected components.

Usage: python tools/scale_stress.py [N]   (default 20 -> 100k docs)
Writes scratch parquet under /root/repo/.scratch/ (gitignored).
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from ticktock_spark.pipeline import cluster as cl, dedup as dd, text as tx
from ticktock_spark.pipeline import sample as sp, similarity as sim
from ticktock_spark.schema import load_table
from ticktock_spark.session import get_spark

SCRATCH = "/root/repo/.scratch"


def replicate(spark, n: int) -> tuple[str, str]:
    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    vecs = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    copies = spark.range(n).withColumnRenamed("id", "copy")
    big_docs = (
        docs.crossJoin(copies)
        .withColumn("doc_id", F.col("doc_id") + F.col("copy") * 1_000_000)
        .drop("copy")
    )
    big_vecs = (
        vecs.crossJoin(copies)
        .withColumn("vec_id", F.col("vec_id") + F.col("copy") * 1_000_000)
        .drop("copy")
    )
    dp, vp = f"{SCRATCH}/docs_{n}x.parquet", f"{SCRATCH}/vecs_{n}x.parquet"
    big_docs.repartition(32).write.mode("overwrite").parquet(dp)
    big_vecs.repartition(32).write.mode("overwrite").parquet(vp)
    return dp, vp


def cc_stress(spark, n_pairs: int) -> dict:
    """Dedicated connected-components stress on a synthetic worst-case
    graph of ``n_pairs`` edges: 80% chain edges (depth-1024 paths — the
    O(log n)-rounds adversary; random clusters converge in 2-4) and 20%
    star edges (mega-cluster hash-agg pressure). Reports wall, rounds,
    and label count."""
    chain_pairs = int(n_pairs * 0.8)
    star_pairs = n_pairs - chain_pairs
    chain = spark.range(chain_pairs).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).filter((F.col("id_b") % 1024) != 0)  # break into length-1024 paths
    base = 10_000_000_000
    star = spark.range(star_pairs).select(
        (F.lit(base) + (F.col("id") % 64) * 1_000_000).alias("id_a"),
        (F.lit(base) + (F.col("id") % 64) * 1_000_000 + 1 + F.col("id")).alias("id_b"),
    )
    pairs = chain.union(star).repartition(32)
    stats: dict = {}
    t0 = time.monotonic()
    labels = cl.connected_components(pairs, stats=stats).count()
    wall = round(time.monotonic() - t0, 2)
    out = {"n_pairs": n_pairs, "wall_s": wall, "labels": labels, **stats}
    print(f"cc_stress: {json.dumps(out)}", flush=True)
    return out


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    for a in sys.argv[1:]:
        if a.startswith("--cc-pairs="):
            spark = get_spark()
            cc_stress(spark, int(a.split("=")[1]))
            return
    skip_raw = "--skip-raw" in sys.argv
    # --linear-only: additionally skip the exact cosine kernel — both
    # O(n^2)-by-definition paths — to measure the linear operators alone
    # at high N
    linear_only = "--linear-only" in sys.argv
    skip_raw = skip_raw or linear_only
    n = int(args[0]) if args else 20
    spark = get_spark()
    dp, vp = replicate(spark, n)
    docs = spark.read.parquet(dp)
    vecs = spark.read.parquet(vp)
    n_docs, n_vecs = docs.count(), vecs.count()
    out = {"n": n, "docs": n_docs, "vecs": n_vecs, "timings": {}}

    def timed(name, fn):
        t0 = time.monotonic()
        v = fn()
        out["timings"][name] = round(time.monotonic() - t0, 2)
        print(f"{name}: {out['timings'][name]}s -> {v}", flush=True)
        return v

    timed("exact_dedup", lambda: dd.exact_dedup(docs).count())
    if not skip_raw:
        # candidate pairs explode quadratically with exact replication
        # (every original near-dup cluster grows n-fold) — intrinsic to
        # the input, kept here to show tasks stay bounded anyway; pass
        # --skip-raw at high N where the O(p^2) volume dwarfs the point
        pairs = dd.minhash_lsh_candidates(docs, num_hashes=8, bands=4)
        timed("minhash_lsh_candidates", lambda: pairs.count())
        strong = dd.minhash_lsh_candidates(docs, num_hashes=8, bands=4).filter(
            F.col("n_bands") >= 4
        )
        timed(
            "connected_components",
            lambda: cl.connected_components(strong.limit(2_000_000)).count(),
        )
    if not linear_only:
        timed(
            "cosine_neardup_pairs",
            lambda: sim.cosine_neardup_pairs(vecs, threshold=0.35).count(),
        )
    timed("dedup_pipeline", lambda: dd.dedup_pipeline(docs).count())
    timed(
        "minhash_lsh_candidates_xxh64_cap256",
        lambda: dd.minhash_lsh_candidates(
            docs, engine="xxh64", bucket_cap=256
        ).count(),
    )
    timed(
        "dedup_pipeline_canon_candidates",
        lambda: dd.minhash_lsh_candidates(
            docs.join(
                dd.exact_dedup(docs).select(
                    F.col("canonical_id").alias("doc_id")
                ),
                "doc_id",
                "left_semi",
            )
        ).count(),
    )
    timed("oov_stats", lambda: tx.oov_stats(docs, vocab_size=50).count())
    timed("bigram_perplexity", lambda: tx.bigram_perplexity(docs).count())
    timed(
        "winnowing_fingerprints",
        lambda: tx.winnowing_fingerprints(docs).count(),
    )
    timed(
        "scrub_boilerplate",
        lambda: tx.scrub_boilerplate(docs, min_docs=3).count(),
    )
    # exact replication is chunk_dedup's worst case: every tile becomes
    # an N-member duplicate group, so the first-occurrence window sees
    # maximal fan-in per key
    timed(
        "chunk_dedup",
        lambda: dd.chunk_dedup(docs, hash_key=True).count(),
    )
    timed(
        "heavy_hitters",
        lambda: tx.heavy_hitters(docs, min_count=200 * n).count(),
    )
    # both are vocab/metadata-bounded after their single text scan
    timed("bpe_train_3", lambda: tx.bpe_train(docs, num_merges=3).count())
    timed("prepare_corpus", lambda: sp.prepare_corpus(docs).count())
    timed(
        "token_budget_cap",
        lambda: sp.token_budget_cap(
            docs.select(
                "doc_id", "lang", tx.token_count(F.col("text")).cast("long").alias("n_tokens")
            ),
            budget=100_000,
        ).count(),
    )
    # retrieval / selection-model family (round-5 additions): all
    # single-scan linear shapes; the index query additionally shows the
    # build-once-probe-cheap split
    from ticktock_spark.pipeline import classify as clf
    from ticktock_spark.pipeline import retrieval as rt

    timed(
        "bm25_topk",
        lambda: rt.bm25_topk(docs, ["join", "slow", "vector"], k=10).count(),
    )
    idx_path = f"{SCRATCH}/bm25_idx_{n}"
    timed("write_inverted_index", lambda: rt.write_inverted_index(docs, idx_path))
    timed(
        "bm25_index_topk",
        lambda: rt.bm25_index_topk(
            spark, idx_path, ["join", "slow", "vector"], k=10
        ).count(),
    )
    timed(
        "lr_quality_scores_2step",
        lambda: clf.lr_quality_scores(
            docs, F.col("lang") == "en", steps=2
        ).count(),
    )
    timed(
        "dsir_weights",
        lambda: sp.dsir_weights(docs, F.col("lang") == "en").count(),
    )
    timed(
        "weighted_sample",
        lambda: sp.weighted_sample(docs, F.col("n_chars"), k=1000).count(),
    )
    from ticktock_spark.operators.drift import categorical_drift, ks_drift

    half = F.pmod(F.col("doc_id"), F.lit(2)) == 0
    timed(
        "ks_drift_doclen",
        lambda: ks_drift(
            docs.select("doc_id", F.length("text").cast("double").alias("v")),
            half, "v",
        ).count(),
    )
    timed(
        "categorical_drift_lang",
        lambda: categorical_drift(docs, half, "lang").count(),
    )
    timed(
        "intake_report",
        lambda: sp.intake_report(
            docs.filter(F.col("doc_id") % 5 == 0),
            docs.filter(F.col("doc_id") % 5 != 0),
        ).count(),
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
