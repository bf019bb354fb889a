"""Streaming near-duplicate screening against a standing corpus.

The batch twin is ``pipeline.dedup.minhash_lsh_join`` (new batch vs
corpus without within-side pairs). On a stream the corpus side becomes a
STATIC band index — (band, key, doc id) rows precomputed once with
``corpus_band_index`` and ideally written to parquet bucketed by key —
and each arriving document's band keys join against it stream-static.

Stream-static equi-joins are STATELESS in Structured Streaming: no
watermark, no state store, append mode; each micro-batch hash-joins its
few band keys against the (big but static) index, so the per-batch cost
is O(batch), never O(corpus). The same md5 hash scheme as the batch
path means a (stream doc, corpus doc) pair buckets identically whether
screened online or in the nightly batch job.

Emission semantics: one row per agreeing (band, key) — a pair that
agrees in k bands appears k times. Within one micro-batch that is the
same multiplicity n_bands counts in the batch twin; dedupe/aggregate
downstream (or in the sink) if single-row-per-pair is needed — a
streaming groupBy here would force a watermark and delay emission for
what is fundamentally a stateless screen.

For an exact "only novel docs pass" filter (doc survives iff NO band
matched), use ``foreachBatch`` with the batch operator instead: a
per-doc all-bands condition is an aggregation, and the batch path inside
``foreachBatch`` (minhash_lsh_join + anti join) gives it exactly-once
per micro-batch without streaming state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ticktock_spark.pipeline.dedup import _banded_pandas
from ticktock_spark.pipeline.text import normalize_text


def _banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    id_type = dict(df.select(id_col).dtypes)[id_col]
    nm = df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("norm"))
    return nm.mapInPandas(
        _banded_pandas(num_hashes, bands, num_hashes // bands, id_col, k=k),
        schema=f"{id_col} {id_type}, band int, key string",
    )


def corpus_band_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The static side: (corpus_id, band, key) rows for the standing
    corpus. Compute once per corpus version; persist (parquet, bucketed
    by (band, key) for a shuffle-free stream join) and reload for the
    streaming job."""
    return _banded(
        corpus, text_col, id_col, k, num_hashes, bands
    ).withColumnRenamed(id_col, "corpus_id")


def streaming_lsh_candidates(
    doc_stream: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Arriving docs → near-dup candidate events against the corpus.

    Output stream: (doc_id, corpus_id, band) — one row per agreeing
    band (see module docstring for multiplicity semantics). Signatures
    run per micro-batch (mapInPandas md5); the join is a stateless
    stream-static hash join on (band, key).
    """
    banded = _banded(doc_stream, text_col, id_col, k, num_hashes, bands)
    return banded.join(index, ["band", "key"]).select(id_col, "corpus_id", "band")


def streaming_flagged_hits(
    doc_stream: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The review/quarantine feed: (doc_id, band) rows for every band
    that collided with the corpus (left-semi stream-static join — a doc
    repeats up to ``bands`` times; dedupe in the sink, keeping this side
    stateless). The complement ("novel docs only") needs the per-doc
    no-band-matched aggregate; do that in ``foreachBatch`` with the
    batch twin (module docstring)."""
    banded = _banded(doc_stream, text_col, id_col, k, num_hashes, bands)
    return banded.join(index, ["band", "key"], "left_semi").select(id_col, "band")


def streaming_novelty_screen(
    doc_stream: DataFrame,
    corpus: DataFrame,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
):
    """The exact screen: append ONLY novel documents (no exact digest
    match in the corpus AND no Jaccard-verified near-dup) to
    ``out_path``.

    "Doc survives iff NO band matched + verification failed" is a
    per-doc aggregate, so it can't stay stateless inside the stream —
    instead each micro-batch runs the BATCH operators via foreachBatch:
    exact anti-join on digests, then minhash_lsh_join + verify_jaccard
    against the corpus, then an anti-join of the batch against flagged
    ids. Checkpointing makes the whole batch transform effectively-once;
    the parquet append is idempotent per epoch.

    The screen is fully INCREMENTAL: each batch is also screened against
    the documents already accepted into ``out_path`` by earlier batches,
    so two near-identical docs arriving in different micro-batches can't
    both pass (the second is deduped against the first). The corpus
    frame is re-used across batches — persist() it (or point it at the
    parquet digest/band indexes) so each micro-batch pays lookup cost,
    not recompute cost. Ids must be unique ACROSS the stream and the
    corpus (the Jaccard verification unions both sides).

    Returns the StreamingQuery.
    """
    from ticktock_spark.pipeline.dedup import minhash_lsh_join, verify_jaccard

    def screen(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        try:
            accepted = spark.read.parquet(out_path).select(id_col, text_col)
        except Exception:  # noqa: BLE001 — first batch: sink doesn't exist yet
            accepted = batch.select(id_col, text_col).limit(0)
        screen_side = corpus.select(id_col, text_col).unionByName(accepted)
        screen_digests = screen_side.select(
            F.md5(F.col(text_col)).alias("__digest")
        )
        fresh = batch.withColumn("__digest", F.md5(F.col(text_col))).join(
            screen_digests, "__digest", "left_anti"
        )
        cand = minhash_lsh_join(
            fresh,
            screen_side,
            text_col=text_col,
            id_col=id_col,
            k=k,
            num_hashes=num_hashes,
            bands=bands,
        ).select(
            F.col("left_id").alias("id_a"), F.col("right_id").alias("id_b")
        )
        both = fresh.select(id_col, text_col).unionByName(screen_side)
        flagged = (
            verify_jaccard(
                both, cand, text_col=text_col, id_col=id_col, k=k,
                threshold=jaccard_threshold,
            )
            .select(F.col("id_a").alias(id_col))
            .distinct()
        )
        novel = fresh.drop("__digest").join(flagged, id_col, "left_anti")
        novel.write.mode("append").parquet(out_path)

    return (
        doc_stream.writeStream.foreachBatch(screen)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_chunk_dedup(
    doc_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    chunk_words: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming sub-document dedup: each micro-batch is tiled and
    screened against the PERSISTED tile index (chunk_index parquet),
    reassembled survivors land in ``out_path``, and the batch's novel
    tiles land in the index — so a passage that arrived in any earlier
    batch is stripped from every later one, and within-batch repeats
    follow chunk_dedup's first-occurrence rule.

    Replay idempotence (both sides, exactly-once effect): output and
    index are partitioned by ``__epoch`` and written with DYNAMIC
    partition overwrite, so an epoch replay after a crash between the
    two writes (or after a missed checkpoint commit) REWRITES that
    epoch's own partitions instead of appending duplicates. The index
    read excludes the current epoch's partition (partition-pruned), so
    a replayed batch is never screened against its own tiles — the
    recomputed epoch output is bit-identical to the first attempt.
    Arrival order decides precedence across batches (the streaming
    analogue of chunk_dedup's min-id rule — equal when ids arrive in
    order). The index is one BIGINT per unique tile: the state a
    100 TB stream actually can afford to keep.

    Returns the StreamingQuery.
    """
    from ticktock_spark.pipeline.dedup import chunk_dedup_incremental, chunk_index

    def screen(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        batch.persist()
        try:
            try:
                idx = spark.read.parquet(index_path).filter(
                    F.col("__epoch") != epoch_id
                )
            except Exception:  # noqa: BLE001 — first batch: no index yet
                idx = spark.createDataFrame([], "chunk_hash long, __epoch long")
            out = chunk_dedup_incremental(
                batch, idx, chunk_words=chunk_words,
                text_col=text_col, id_col=id_col,
            )
            (
                out.withColumn("__epoch", F.lit(epoch_id))
                .write.partitionBy("__epoch")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(out_path)
            )
            new_tiles = chunk_index(
                batch, chunk_words=chunk_words, text_col=text_col, id_col=id_col
            ).join(idx.select("chunk_hash").distinct(), "chunk_hash", "left_anti")
            (
                new_tiles.withColumn("__epoch", F.lit(epoch_id))
                .write.partitionBy("__epoch")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(index_path)
            )
        finally:
            batch.unpersist()

    return (
        doc_stream.writeStream.foreachBatch(screen)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
