"""bpe_train driver-vocabulary stress: the web-scale operating point.

The r6 verdict's one unproven 100 TB claim: bpe_train collects the distinct (word, count) table to the driver before the
merge loop (the SentencePiece/HF trainer shape). SCALE.md stopped at
~60k unique words; a web-crawl corpus has 10^7–10^8. This stress
measures the driver bound directly:

  * a synthetic corpus with ~10M UNIQUE words (8-hex-char tokens over a
    16-symbol alphabet — realistic merge structure, vocabulary far past
    any natural-language corpus at this container's scale), of which 1M
    appear twice (so min_count=2 prunes 10M → 1M, the standard
    open-web bound);
  * each (min_count, k) config runs in a FRESH subprocess so
    ru_maxrss is per-config, not a shared high-water mark;
  * reported per config: unique-vocab size collected, wall (total and
    the collect/loop split via the trainer's own phases is not exposed —
    total wall is the honest number), python driver max RSS. The JVM is
    a separate process; its share is the Arrow collect buffer, bounded
    by the same vocab scale.

Usage:
  python tools/bpe_vocab_stress.py            → runs all configs, one JSON line
  python tools/bpe_vocab_stress.py --one M K  → single config (internal)
"""

from __future__ import annotations

import json
import resource
import subprocess
import sys
import time

sys.path.insert(0, "/root/repo")

N_UNIQUE = 10_000_000
N_DUP = 1_000_000
WORDS_PER_ROW = 64


def corpus(spark):
    from pyspark.sql import functions as F

    n_total = N_UNIQUE + N_DUP
    n_rows = (n_total + WORDS_PER_ROW - 1) // WORDS_PER_ROW
    g = lambda i: F.col("id") * WORDS_PER_ROW + i  # noqa: E731
    wid = lambda i: F.when(g(i) < N_UNIQUE, g(i)).otherwise(g(i) - N_UNIQUE)  # noqa: E731
    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS_PER_ROW - 1)),
        lambda i: F.substring(F.md5(wid(i).cast("string")), 1, 8),
    )
    return (
        spark.range(n_rows)
        .select(F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text"))
    )


def run_one(min_count: int, k: int) -> None:
    from ticktock_spark.pipeline import text as tx
    from ticktock_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    df = corpus(spark)
    t0 = time.monotonic()
    merges = tx.bpe_train(df, num_merges=k, min_count=min_count).collect()
    wall = time.monotonic() - t0
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    print(
        json.dumps(
            {
                "min_count": min_count,
                "k": k,
                "merges_achieved": len(merges),
                "top_merge_n": merges[0][4] if merges else None,
                "wall_s": round(wall, 1),
                "driver_py_maxrss_mb": round(rss_mb),
            }
        )
    )


def main() -> None:
    if len(sys.argv) >= 4 and sys.argv[1] == "--one":
        run_one(int(sys.argv[2]), int(sys.argv[3]))
        return
    results = []
    for min_count, k in [(2, 500), (1, 100)]:
        p = subprocess.run(
            [sys.executable, __file__, "--one", str(min_count), str(k)],
            capture_output=True,
            text=True,
        )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if not line:
            print(p.stdout, p.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"config ({min_count},{k}) failed")
        results.append(json.loads(line[-1]))
        print("done:", results[-1], flush=True)
    print(json.dumps({"n_unique": N_UNIQUE, "n_dup": N_DUP, "configs": results}))


if __name__ == "__main__":
    main()
