#!/usr/bin/env python
"""Round-12 scaled A/B: landed r11 forms vs the pre-r11 forms they
replaced, interleaved in ONE session (the r11 verdict's ask #1 — the
two deliberate local regressions, q170's window-form ACF and q193's
packed-argmax centroid agreement, were argued from plan shape but never
measured at a scale where parallel work beats stage overhead).

Arms:
  q170: OLD = broadcast-lag cross join + self-equi-join on
        (series, ts + lag*bucket) (git 60f49b8^), NEW = the landed
        2*max_lag range-frame window pass (operators/correlate.acf).
  q193: OLD = min_by(struct(-cosine, c_label)) over post-crossJoin HOF
        norms (git c2aae14^), NEW = the landed packed-long HashAggregate
        argmax (pipeline/similarity.centroid_label_agreement).

Both OLD forms are reproduced verbatim from git history below (they no
longer exist in the library). Before timing, each pair's outputs are
asserted EQUAL (sorted collect — q170 yields |metrics|*5 rows, q193
|labels| rows; both tiny at any SF).

Timing: interleaved OLD/NEW noop-sink runs (warm both arms first),
min over --pairs runs per arm.

Usage: python tools/ab_forms_r12.py [--pairs 3] [--which acf centroid]
Env: SPARK_GRAFT_SF_DIR (default /root/repo/.scratch/sf1 — this tool
     exists for the scaled regime), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/repo/.scratch/sf1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


# --------------------------------------------------------------------
# OLD q170 form: ticktock_spark/operators/correlate.py @ 60f49b8^
# --------------------------------------------------------------------
def old_acf(
    df: DataFrame,
    series_cols: list[str],
    max_lag: int,
    bucket_ms: int,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    from ticktock_spark.operators.correlate import pearson_moments

    micro = F.floor(F.col(value_col) * F.lit(1_000_000.0) + F.lit(0.5)).cast(
        "long"
    )
    base = df.select(*series_cols, F.col(ts_col).alias("ts"), micro.alias("x"))
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


# --------------------------------------------------------------------
# OLD q193 form: ticktock_spark/pipeline/similarity.py @ c2aae14^
# --------------------------------------------------------------------
def old_centroid_label_agreement(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    q6 = lambda c: F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0  # noqa: E731
    cent = (
        df.select(label_col, F.posexplode(vec_col).alias("pos", "x"))
        .groupBy(label_col, "pos")
        .agg(
            F.sum(
                F.floor(
                    F.col("x").cast("double") * 1000000.0 + F.lit(0.5)
                ).cast("decimal(38,0)")
            ).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            label_col,
            "pos",
            (
                F.floor(
                    F.col("s").cast("double") / F.col("c") + F.lit(0.5)
                )
                / F.lit(1_000_000.0)
            ).alias("m"),
        )
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
        .select(F.col(label_col).alias("c_label"), "cv")
    )
    ev = df.select(
        id_col,
        label_col,
        F.transform(vec_col, lambda x: x.cast("double")).alias("ed"),
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
            id_col,
            label_col,
            "c_label",
            q6(dot / (F.col("__ne") * F.col("__nc"))).alias("cosine"),
        )
    )
    best = scored.groupBy(id_col, label_col).agg(
        F.min_by(
            "c_label",
            F.struct((-F.col("cosine")).alias("nc"), F.col("c_label")),
        ).alias("pred")
    )
    return best.groupBy(label_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("pred") == F.col(label_col), 1))
        .cast("long")
        .alias("n_match"),
        q6(
            F.count(F.when(F.col("pred") == F.col(label_col), 1)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("agreement"),
    )


# --------------------------------------------------------------------
# HYBRID q193 form: old min_by aggregation + r11's hoisted norms
# (the r11 change bundled two independent moves — the packed-long
# HashAggregate argmax AND hoisting the N·L-per-pair HOF norm folds to
# the pre-join frames. This arm keeps the hoisting, drops the packing.)
# --------------------------------------------------------------------
def hybrid_centroid_label_agreement(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    spread: bool = True,
) -> DataFrame:
    from ticktock_spark.pipeline.similarity import _spread_scan

    q6 = lambda c: F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0  # noqa: E731
    if spread:
        df = _spread_scan(df, df.sparkSession.sparkContext.defaultParallelism)
    cent = (
        df.select(label_col, F.posexplode(vec_col).alias("pos", "x"))
        .groupBy(label_col, "pos")
        .agg(
            F.sum(
                F.floor(
                    F.col("x").cast("double") * 1000000.0 + F.lit(0.5)
                ).cast("decimal(38,0)")
            ).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            label_col,
            "pos",
            (
                F.floor(F.col("s").cast("double") / F.col("c") + F.lit(0.5))
                / F.lit(1_000_000.0)
            ).alias("m"),
        )
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
        .select(F.col(label_col).alias("c_label"), "cv")
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    dot = fold(F.zip_with("ed", "cv", lambda a, b: a * b))
    n_e = F.sqrt(fold(F.transform("ed", lambda a: a * a)))
    n_c = F.sqrt(fold(F.transform("cv", lambda b: b * b)))
    ev = df.select(
        id_col,
        label_col,
        F.transform(vec_col, lambda x: x.cast("double")).alias("ed"),
    ).withColumn("__ne", n_e)
    cent = cent.withColumn("__nc", n_c)
    scored = (
        ev.crossJoin(F.broadcast(cent))
        .filter((F.col("__ne") > 0) & (F.col("__nc") > 0))
        .select(
            id_col,
            label_col,
            "c_label",
            q6(dot / (F.col("__ne") * F.col("__nc"))).alias("cosine"),
        )
    )
    best = scored.groupBy(id_col, label_col).agg(
        F.min_by(
            "c_label",
            F.struct((-F.col("cosine")).alias("nc"), F.col("c_label")),
        ).alias("pred")
    )
    return best.groupBy(label_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("pred") == F.col(label_col), 1))
        .cast("long")
        .alias("n_match"),
        q6(
            F.count(F.when(F.col("pred") == F.col(label_col), 1)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("agreement"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument(
        "--which", nargs="*", default=["acf", "centroid"],
        choices=["acf", "centroid"],
    )
    ap.add_argument("--skip-verify", action="store_true")
    args = ap.parse_args()

    from ticktock_spark.operators.correlate import acf
    from ticktock_spark.pipeline import similarity as sim
    from ticktock_spark.queries import MIN_MS, _dps, _table
    from ticktock_spark.session import get_spark

    spark = get_spark(
        app_name="ticktock-ab-forms-r12",
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def q170_input():
        d = _dps(spark, SF_DIR)
        return d.groupBy(
            "metric", (F.col("ts") - F.col("ts") % MIN_MS).alias("ts")
        ).agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("value")
        )

    builders = {}
    if "acf" in args.which:
        builders["q170_acf"] = {
            "old_join": lambda: old_acf(
                q170_input(), ["metric"], max_lag=5, bucket_ms=MIN_MS
            ),
            "new_window": lambda: acf(
                q170_input(), ["metric"], max_lag=5, bucket_ms=MIN_MS
            ),
        }
    if "centroid" in args.which:
        builders["q193_centroid_agreement"] = {
            "old_minby": lambda: old_centroid_label_agreement(
                _table(spark, SF_DIR, "embeddings")
            ),
            "new_packed": lambda: sim.centroid_label_agreement(
                _table(spark, SF_DIR, "embeddings")
            ),
            "hybrid_minby_hoisted": lambda: hybrid_centroid_label_agreement(
                _table(spark, SF_DIR, "embeddings")
            ),
            "hybrid_nospread": lambda: hybrid_centroid_label_agreement(
                _table(spark, SF_DIR, "embeddings"), spread=False
            ),
        }

    # equivalence first: both arms must produce identical rows
    if not args.skip_verify:
        for qname, arms in builders.items():
            items = list(arms.items())
            a_name, a_fn = items[0]
            ra = sorted(map(tuple, a_fn().collect()))
            for b_name, b_fn in items[1:]:
                rb = sorted(map(tuple, b_fn().collect()))
                assert ra == rb, f"{qname}: {a_name} != {b_name}\n{ra}\n{rb}"
            print(
                f"VERIFIED {qname}: all {len(items)} arms equal "
                f"({len(ra)} rows)",
                file=sys.stderr,
                flush=True,
            )

    def run_once(fn) -> float:
        df = fn()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # warmup every arm (JVM, codegen, parquet footers)
    for arms in builders.values():
        for fn in arms.values():
            run_once(fn)

    out = {"sf_dir": SF_DIR, "cpus": CPUS, "pairs": args.pairs}
    for qname, arms in builders.items():
        res = {name: float("inf") for name in arms}
        for _ in range(args.pairs):
            for name, fn in arms.items():
                spark.sparkContext.setJobDescription(f"{qname}:{name}")
                res[name] = min(res[name], run_once(fn))
                spark.sparkContext.setJobDescription(None)
        out[qname] = {name: round(t, 4) for name, t in res.items()}
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
