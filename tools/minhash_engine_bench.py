"""A/B the MinHash LSH engines (pandas-hashlib md5, native xxhash64)
in two corpus regimes, plus ground-truth recall.

Regimes:
  hex   80k unique-hex docs — cache-hostile (huge shingle vocabulary,
        ~zero cross-doc Jaccard): pair volume ~0, signature hashing is
        the entire cost. The diverse-crawl shape where the pandas
        engine's per-partition gram cache stops converting work.
  real  the sf0.1 documents corpus (5k docs, natural English shingle
        reuse, heavy template structure) — q34's exact workload.

Recall check: ground truth = full exact n-gram Jaccard (threshold 0.5)
over all doc pairs of the real corpus; reports per-engine candidate
recall against it. Evidence behind SCALE.md's xxh64 section.

Usage: python tools/minhash_engine_bench.py [--skip-hex] [--skip-recall]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from ticktock_spark.pipeline import dedup as dd
from ticktock_spark.session import get_spark

SCRATCH = "/root/repo/.scratch/minhash_engine_bench"
ENGINES = ("pandas", "xxh64")


def hex_corpus(spark, n=80_000, words=20):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.md5(F.concat(F.col("id").cast("string"), F.lit(f":{i}")))
                for i in range(words)
            ],
        ).alias("text"),
    )


def main() -> None:
    spark = get_spark(app_name="minhash-engine-bench")
    spark.sparkContext.setLogLevel("ERROR")

    if "--skip-hex" not in sys.argv:
        hex_corpus(spark).repartition(32).write.mode("overwrite").parquet(SCRATCH)
        big = spark.read.parquet(SCRATCH)
        print("hex docs:", big.count(), flush=True)
        for engine in ENGINES:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                n = dd.minhash_lsh_candidates(big, engine=engine).count()
                best = min(best, time.perf_counter() - t0)
            print(f"hex {engine}: {best:.2f}s pairs={n}", flush=True)

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    for engine in ENGINES:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            n = dd.minhash_lsh_candidates(docs, engine=engine).count()
            best = min(best, time.perf_counter() - t0)
        print(f"real {engine}: {best:.2f}s pairs={n}", flush=True)

    if "--skip-recall" not in sys.argv:
        truth = (
            dd.ngram_jaccard_pairs(docs, threshold=0.5)
            .select("id_a", "id_b")
            .persist()
        )
        nt = truth.count()
        for engine in ENGINES:
            cand = dd.minhash_lsh_candidates(docs, engine=engine).select(
                "id_a", "id_b"
            )
            hit = truth.join(cand, ["id_a", "id_b"], "left_semi").count()
            print(
                f"recall {engine}: truth={nt} found={hit} ({hit / max(nt, 1):.4f})",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
