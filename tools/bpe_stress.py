"""BPE production-scale stress: train at >=500 merges, encode at >=5k
merges — the operating points a per-merge Spark job (train) or a k-deep
codegen'd replace chain (encode) cannot reach.

Measures, on the sf0.1 documents table (local[32]):
  * bpe_train at k in {500, 5000} (wall; merges achieved)
  * bpe_encode under the k=64 / k=5000 tables (wall — near-flat growth
    expected: the heap replays only merges PRESENT in each word, so
    cost tracks merges APPLIED, not table size)

Usage: python tools/bpe_stress.py   → one JSON line, paste into SCALE.md
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from ticktock_spark.pipeline import text as tx
from ticktock_spark.schema import load_table
from ticktock_spark.session import get_spark


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    docs.persist().count()  # all timings measure the operator, not the scan
    out: dict = {"timings": {}, "merges": {}}

    def timed(name, fn):
        t0 = time.monotonic()
        v = fn()
        out["timings"][name] = round(time.monotonic() - t0, 2)
        print(f"{name}: {out['timings'][name]}s -> {v}", flush=True)
        return v

    out["merges"]["train_local_500"] = timed(
        "train_local_500",
        lambda: tx.bpe_train(docs, num_merges=500).count(),
    )
    # the sf0.1 documents vocabulary EXHAUSTS near ~90 merges (small
    # synthetic alphabet), so the >=5k-merge operating point runs on a
    # hex-token corpus: 30k docs x 2 16-char md5-prefix words — ~60k
    # unique words over a 16-char alphabet, deep merge structure.
    # bpe_train is EAGER (the merge loop runs at call time), so the
    # train calls themselves are timed.
    from pyspark.sql import functions as F

    synth = (
        spark.range(30_000)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.substring(F.md5(F.col("id").cast("string")), 1, 16),
                F.substring(
                    F.md5((F.col("id") + 1_000_000).cast("string")), 1, 16
                ),
            ).alias("text"),
        )
        .persist()
    )
    synth.count()
    m5000 = timed(
        "train_local_5000_synth",
        lambda: tx.bpe_train(synth, num_merges=5000),
    )
    out["merges"]["train_local_5000_synth"] = m5000.persist().count()
    m64 = m5000.filter("rank <= 64").persist()
    m64.count()

    out["merges"]["encode_arrow_64_synth"] = timed(
        "encode_arrow_64_synth",
        lambda: tx.bpe_encode(synth, m64).count(),
    )
    out["merges"]["encode_arrow_5000_synth"] = timed(
        "encode_arrow_5000_synth",
        lambda: tx.bpe_encode(synth, m5000).count(),
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
