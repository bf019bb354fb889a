"""Data-scaling check for the round-7 analytics operators.

Replicates the sf0.1 events table N× with TIME-SHIFTED copies (each
copy offset by the full span, so the bucket timeline — the input the
windowed ops actually walk — grows N×, not just rows-per-bucket) and
the documents table N× with fresh ids, then times each new operator at
1× and N×. Near-linear wall ratios = no super-linear shuffle or state
hiding in the plans; evidence rows for SCALE.md.

Usage: python tools/analytics_scale_stress.py [N]   (default 8)
"""

from __future__ import annotations

import json
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from ticktock_spark.schema import load_table
from ticktock_spark.session import get_spark

SCRATCH = "/root/repo/.scratch/analytics_scale"
MIN_MS = 60_000


def bucket_means(d):
    return d.groupBy(
        "metric", (F.col("ts") - F.col("ts") % F.lit(MIN_MS)).alias("ts")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("value")
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(SCRATCH, ignore_errors=True)

    ev = load_table(spark, "/root/testdata/sf0.1", "events").select(
        F.col("event_type").alias("metric"),
        F.unix_millis("ts").alias("ts"),
        "value",
    )
    lohi = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    span = int(lohi["hi"] - lohi["lo"]) + 3_600_000
    copies = spark.range(n).withColumnRenamed("id", "copy")
    big_ev = ev.crossJoin(copies).select(
        "metric", (F.col("ts") + F.col("copy") * span).alias("ts"), "value"
    )
    ev_paths = {}
    for tag, frame in (("1", ev), (str(n), big_ev)):
        p = f"{SCRATCH}/events_{tag}x.parquet"
        frame.repartition(32).write.mode("overwrite").parquet(p)
        ev_paths[tag] = p

    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    # fresh ids AND a per-copy Caesar shift of the letters: copies of
    # one doc then share (almost) no k-gram shingle — no artificial n^2
    # exact-duplicate ground truth — while every within-copy
    # near-dup/containment relation replicates intact (the shift is a
    # bijection on the alphabet, so shingle-set equalities/overlaps are
    # preserved exactly inside a copy). True pairs grow ~N x; the
    # candidate fan-out under bucket_cap is what's being measured.
    # (A first attempt interleaved a copy token between words — that
    # INJECTED shared filler char-grams across unrelated docs and
    # manufactured tens of millions of fake 0.8-containment pairs.)
    import string

    lo, up = string.ascii_lowercase, string.ascii_uppercase
    pert = F.col("text")
    for c in range(1, n):
        sh = c * 3 % 25 + 1  # distinct nonzero shift per copy
        pert = F.when(
            F.col("copy") == c,
            F.translate(
                F.col("text"),
                lo + up,
                lo[sh:] + lo[:sh] + up[sh:] + up[:sh],
            ),
        ).otherwise(pert)
    big_docs = docs.crossJoin(copies).select(
        (F.col("doc_id") + F.col("copy") * 1_000_000).alias("doc_id"),
        pert.alias("text"),
    )
    doc_paths = {}
    for tag, frame in (("1", docs.select("doc_id", "text")), (str(n), big_docs)):
        p = f"{SCRATCH}/docs_{tag}x.parquet"
        frame.repartition(32).write.mode("overwrite").parquet(p)
        doc_paths[tag] = p

    from ticktock_spark.operators.correlate import acf, trend
    from ticktock_spark.operators.rolling import mean_shift_score
    from ticktock_spark.pipeline.dedup import decontaminate

    def burn(d):
        from pyspark.sql import Window

        b = d.groupBy(
            (F.col("ts") - F.col("ts") % F.lit(300_000)).alias("ts")
        ).agg(
            F.count(F.when(F.col("metric") == "error", 1)).alias("n_err"),
            F.count(F.lit(1)).alias("n_tot"),
        )
        hw = Window.orderBy("ts").rangeBetween(-3_300_000, Window.currentRow)
        return b.select(
            "ts", (F.sum("n_err").over(hw) / F.sum("n_tot").over(hw)).alias("r")
        )

    ops = {
        "acf_lag5": lambda d: acf(bucket_means(d), ["metric"], 5, MIN_MS),
        "changepoint_w8": lambda d: mean_shift_score(
            bucket_means(d), ["metric"], window=8
        ),
        "trend": lambda d: trend(bucket_means(d), ["metric"], MIN_MS),
        "burn_rate_1h": burn,
    }
    out: dict = {"n": n, "ops": {}}
    for name, fn in ops.items():
        res = {}
        for tag in ("1", str(n)):
            d = spark.read.parquet(ev_paths[tag])
            t0 = time.monotonic()
            cnt = fn(d).count()
            res[f"t{tag}x"] = round(time.monotonic() - t0, 2)
            res[f"rows{tag}x"] = cnt
        res["ratio"] = round(res[f"t{n}x"] / max(res["t1x"], 1e-9), 1)
        out["ops"][name] = res
        print(name, res, flush=True)
    # decontaminate on documents (hash_grams production engine)
    res = {}
    for tag in ("1", str(n)):
        d = spark.read.parquet(doc_paths[tag])
        bench = d.filter(F.col("doc_id") % 97 == 0)
        train = d.filter(F.col("doc_id") % 97 != 0)
        t0 = time.monotonic()
        cnt = decontaminate(train, bench, n=3, hash_grams=True).count()
        res[f"t{tag}x"] = round(time.monotonic() - t0, 2)
        res[f"rows{tag}x"] = cnt
    res["ratio"] = round(res[f"t{n}x"] / max(res["t1x"], 1e-9), 1)
    out["ops"]["decontaminate_xxh64"] = res
    print("decontaminate_xxh64", res, flush=True)
    # q169 windowed containment: the one new op with data-dependent
    # fan-out (window tiles x bands); bucket_cap bounds viral buckets
    from ticktock_spark.pipeline.dedup import (
        containment_pairs,
        windowed_containment_candidates,
    )

    res = {}
    for tag in ("1", str(n)):
        d = spark.read.parquet(doc_paths[tag])
        t0 = time.monotonic()
        cand = windowed_containment_candidates(
            d, window_words=24, stride=12, bucket_cap=256
        ).count()
        res[f"cand{tag}x"] = cand
        pairs = containment_pairs(
            d, threshold=0.8, windowed=True, window_words=24, stride=12,
            bucket_cap=256,
        ).count()
        res[f"t{tag}x"] = round(time.monotonic() - t0, 2)
        res[f"rows{tag}x"] = pairs
    res["ratio"] = round(res[f"t{n}x"] / max(res["t1x"], 1e-9), 1)
    res["cand_ratio"] = round(res[f"cand{n}x"] / max(res["cand1x"], 1), 1)
    out["ops"]["windowed_containment"] = res
    print("windowed_containment", res, flush=True)
    print(json.dumps(out))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
