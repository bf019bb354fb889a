"""Streaming quote/containment screen: arriving documents vs a standing
corpus, with the short-in-long recall gap closed.

The live twin of ``pipeline.dedup.containment_pairs(windowed=True)``
(q169). The existing stream screens cover exact digests and whole-doc
near-dups (streaming/dedup_lsh.py) and exact tile reuse
(streaming_chunk_dedup); what none of them catch is the QUOTE relation
— a 24-word passage of a standing long article arriving as its own
document, or an arriving long document embedding a standing short one.
Whole-document MinHash provably misses those (tiny Jaccard at high
containment), which is exactly what the batch windowed pass fixes.

Streaming shape: the corpus side becomes TWO static indexes — whole-doc
band keys and tile band keys (``tile_band_keys``, the factored
candidate unit of the batch pass) — plus the corpus shingle frame for
exact verification. All three candidate joins are stream-static and
stateless; each micro-batch pays O(batch) hash work:

  1. arriving whole keys  x  corpus whole keys   (plain LSH near-dups)
  2. arriving tile keys   x  corpus whole keys   (standing short doc
                                                  quoted in arriving long)
  3. arriving whole keys  x  corpus tile keys    (arriving short doc =
                                                  quote of standing long)

That is candidate-for-candidate the batch pass's cross-corpus subset
(its tiles-x-whole join over the union decomposes into 2 + 3 plus
within-side pairs, which are out of scope for an intake screen), so the
verified output matches the batch operator exactly on (arrival, corpus)
pairs — pinned by test. Verification is the same exact
|A∩B| / min(|A|,|B|) over full shingle sets, candidate-bounded.

Same md5 hash scheme as the batch path; epoch-partitioned
dynamic-overwrite sink for crash-replay idempotence (the house
streaming-sink discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ticktock_spark.pipeline.dedup import (
    _band_keys_frame,
    shingles,
    tile_band_keys,
)


def corpus_containment_state(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    window_words: int = 24,
    stride: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The standing corpus side, computed once per corpus version:
    (whole-doc band keys, tile band keys, shingle frame) — persist all
    three (or write to parquet, ideally bucketed by key) and hand to
    ``streaming_quote_screen``."""
    par = corpus.sparkSession.sparkContext.defaultParallelism
    sh = (
        corpus.filter(F.col(text_col).isNotNull())
        .repartition(par)
        .select(F.col(id_col), shingles(F.col(text_col), k).alias("sh"))
    )
    whole = _band_keys_frame(sh, id_col, num_hashes, bands)
    tiles = tile_band_keys(
        corpus, text_col=text_col, id_col=id_col, k=k,
        num_hashes=num_hashes, bands=bands,
        window_words=window_words, stride=stride,
    )
    return whole, tiles, sh


def streaming_quote_screen(
    doc_stream: DataFrame,
    corpus_state: tuple[DataFrame, DataFrame, DataFrame],
    out_path: str,
    checkpoint: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    window_words: int = 24,
    stride: int | None = None,
):
    """Screen every arriving document against the standing corpus for
    containment >= ``threshold`` (either direction). Emits one row per
    flagged (arrival, corpus) pair:

      (new_id, corpus_id, inter, n_new, n_corpus, containment,
       contained = 'new' | 'corpus' | 'both', __epoch)

    — route flagged arrivals to quarantine/attribution downstream; the
    clean complement is the batch anti-join of ids, same as the
    decontamination gate. Returns the StreamingQuery."""
    whole_idx, tile_idx, corpus_sh = corpus_state
    c_whole = whole_idx.select(
        F.col(id_col).alias("corpus_id"), "band", "key"
    )
    c_tile = tile_idx.select(
        F.col(id_col).alias("corpus_id"), "band", "key"
    )
    c_sh = corpus_sh.select(
        F.col(id_col).alias("corpus_id"), F.col("sh").alias("sh_c")
    )

    def screen(batch: DataFrame, epoch_id: int) -> None:
        par = batch.sparkSession.sparkContext.defaultParallelism
        batch.persist()
        sh_b = (
            batch.filter(F.col(text_col).isNotNull())
            .repartition(par)
            .select(F.col(id_col), shingles(F.col(text_col), k).alias("sh"))
            .persist()
        )
        try:
            wb = _band_keys_frame(sh_b, id_col, num_hashes, bands).select(
                F.col(id_col).alias("new_id"), "band", "key"
            )
            tb = tile_band_keys(
                batch, text_col=text_col, id_col=id_col, k=k,
                num_hashes=num_hashes, bands=bands,
                window_words=window_words, stride=stride,
            ).select(F.col(id_col).alias("new_id"), "band", "key")
            cand = (
                wb.join(c_whole, ["band", "key"])
                .select("new_id", "corpus_id")
                .union(
                    tb.join(c_whole, ["band", "key"]).select(
                        "new_id", "corpus_id"
                    )
                )
                .union(
                    wb.join(c_tile, ["band", "key"]).select(
                        "new_id", "corpus_id"
                    )
                )
                .distinct()
            )
            joined = (
                cand.join(
                    sh_b.select(
                        F.col(id_col).alias("new_id"), F.col("sh").alias("sh_n")
                    ),
                    "new_id",
                )
                .join(c_sh, "corpus_id")
                .select(
                    "new_id",
                    "corpus_id",
                    F.size(F.array_intersect("sh_n", "sh_c")).alias("inter"),
                    F.size("sh_n").alias("n_new"),
                    F.size("sh_c").alias("n_corpus"),
                )
            )
            cont = F.col("inter").cast("double") / F.least(
                "n_new", "n_corpus"
            ).cast("double")
            side = (
                F.when(F.col("n_new") < F.col("n_corpus"), F.lit("new"))
                .when(F.col("n_corpus") < F.col("n_new"), F.lit("corpus"))
                .otherwise(F.lit("both"))
            )
            out = (
                joined.withColumn("containment", cont)
                .filter(F.col("containment") >= F.lit(float(threshold)))
                .select(
                    "new_id", "corpus_id", "inter", "n_new", "n_corpus",
                    "containment", side.alias("contained"),
                )
            )
            (
                out.withColumn("__epoch", F.lit(epoch_id))
                .write.partitionBy("__epoch")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(out_path)
            )
        finally:
            sh_b.unpersist()
            batch.unpersist()

    return (
        doc_stream.writeStream.foreachBatch(screen)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
