"""Text analysis operators: token stats, quality score, language ID,
fingerprinting.

All pure Column expressions over built-in functions — JVM-side, inside
whole-stage codegen, no Python in the hot path. At 100 TB these run as a
single scan + project; the only shuffle is whatever aggregation the caller
adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ticktock_spark.pipeline.util import spread_scan

# Small per-language stopword lists (public common words). Kept tiny and
# deterministic so the oracle SQL can mirror them exactly.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "sich"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "y", "es", "no", "una", "en", "que", "por"),
}


def _word_pattern(words: tuple[str, ...]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def token_count(text: Column) -> Column:
    """Whitespace token count (empty/blank text → 0)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-flavored token estimate: word pieces + digits + punctuation
    counted separately (regex proxy for subword tokenizers)."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]{1,4}|[0-9]|[^\sA-Za-z0-9]"), 0)
        )
    )


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = F.size(F.regexp_extract_all(text, F.lit(r"[^\sA-Za-z0-9]"), 0))
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n.cast("double"))


def stopword_hits(text: Column, lang: str = "en") -> Column:
    pat = _word_pattern(LANG_STOPWORDS[lang])
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: rewards stopword density and
    moderate length, penalizes punctuation soup. Deterministic arithmetic
    (mirrors the oracle SQL in pipeline/queries.py)."""
    toks = token_count(text).cast("double")
    sw = stopword_hits(text, "en").cast("double")
    pr = punct_ratio(text)
    sw_ratio = F.when(toks == 0, F.lit(0.0)).otherwise(sw / toks)
    len_score = F.least(toks / F.lit(100.0), F.lit(1.0))
    return F.greatest(
        F.lit(0.0),
        F.least(F.lit(1.0), F.lit(0.5) * sw_ratio * F.lit(5.0) + F.lit(0.3) * len_score + F.lit(0.2) * (F.lit(1.0) - pr * F.lit(4.0))),
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Stopword-hit count per candidate language (n-gram/stopword
    heuristic language ID)."""
    lowered = F.lower(text)
    return {
        lang: F.size(F.regexp_extract_all(lowered, F.lit(_word_pattern(words)), 0))
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language by stopword hits; ties broken by language-code
    order; no hits at all → 'und' (undetermined)."""
    scores = lang_scores(text)
    langs = sorted(scores)
    best = None
    for lang in langs:
        pair = F.struct(scores[lang].alias("s"), F.lit(lang).alias("l"))
        best = pair if best is None else F.when(scores[lang] > best["s"], pair).otherwise(best)
    return F.when(best["s"] <= 0, F.lit("und")).otherwise(best["l"])


def normalize_text(text: Column) -> Column:
    """lowercase, strip non-alphanumerics, collapse whitespace — the
    canonical form used for fingerprinting and near-dup shingles."""
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " "), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(text))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stat set as columns (single projection)."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_tokens": token_count(t),
            "n_tokens_bpe": bpe_ish_token_count(t),
            "punct_ratio": punct_ratio(t),
            "quality": quality_score(t),
            "lang_pred": lang_id(t),
            "fingerprint": fingerprint(t),
        }
    )


def quality_topk_per_stratum(
    df: DataFrame,
    k: int = 10,
    strata_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k docs per stratum by quality score (corpus curation: keep the
    best k documents per language / source / domain).

    Scale shape (verified in the physical plan): Catalyst rewrites the
    rank<=k filter into WindowGroupLimit with a PARTIAL pass before the
    Exchange — every input partition keeps only its local top-k per
    stratum, so the shuffle carries at most k × n_partitions rows per
    stratum no matter how big the corpus is. No approximate pre-filter
    needed. Ties break by id for determinism.
    """
    t = F.col(text_col)
    from pyspark.sql import Window

    scored = df.select(
        F.col(strata_col), F.col(id_col), quality_score(t).alias("__q")
    )
    w = Window.partitionBy(strata_col).orderBy(F.col("__q").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(strata_col, "rank", id_col, F.col("__q").alias("quality"))
    )


def token_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token-count distribution in power-of-two buckets.

    bucket = number of binary digits of the token count (0 tokens →
    bucket 0): integer-exact in any engine (no float log2), so the oracle
    matches bit-for-bit. Single scan + a tiny (≤ ~40 row) aggregation —
    the shuffle carries one row per bucket per partition.
    """
    toks = token_count(F.col(text_col))
    bucket = F.when(toks <= 0, F.lit(0)).otherwise(F.length(F.bin(toks)))
    return (
        df.select(bucket.cast("int").alias("bucket"), toks.alias("__t"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("sum_tokens"),
            F.min("__t").alias("min_tokens"),
            F.max("__t").alias("max_tokens"),
        )
    )


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub common PII patterns (training-data hygiene): emails →
    ``<EMAIL>``, long digit runs (phone/account numbers) → ``<NUM>``.

    Patterns are deliberately conservative and RE2-compatible (\\w, \\d,
    \\b only) so the Java-regex Spark path and any RE2-based oracle
    agree byte-for-byte. Scan-side regexp_replace — no shuffle, no UDF.
    Output adds redacted text + per-kind match counts.
    """
    t = F.col(text_col)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    longnum = r"\b\d{6,}\b"
    red = F.regexp_replace(F.regexp_replace(t, email, "<EMAIL>"), longnum, "<NUM>")
    return df.withColumns(
        {
            "n_email": F.size(F.regexp_extract_all(t, F.lit(email), 0)),
            "n_longnum": F.size(F.regexp_extract_all(t, F.lit(longnum), 0)),
            "redacted": red,
        }
    )


def token_chunks(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping fixed-token windows (the
    context-window chunking step before embedding / training-sequence
    packing). Chunk i covers tokens [i*stride+1, i*stride+chunk_tokens];
    i ranges over ceil(n/stride) windows, so every token lands in ≥1
    chunk and consecutive chunks overlap by chunk_tokens - stride.

    Pure expressions: split once, explode a ceil(n/stride)-long index
    range, slice per chunk — the token array is carried through one
    generate, never through a shuffle. Zero-token docs yield no chunks.
    """
    if stride <= 0 or chunk_tokens < stride:
        raise ValueError("need 0 < stride <= chunk_tokens")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = token_count(F.col(text_col))
    nch = F.ceil(n.cast("double") / F.lit(float(stride))).cast("int")
    base = df.select(
        F.col(id_col), toks.alias("__toks"), n.alias("__n"), nch.alias("__nch")
    ).filter(F.col("__n") > 0)
    idx = base.select(
        id_col,
        "__toks",
        F.posexplode(F.sequence(F.lit(0), F.col("__nch") - 1)).alias("chunk_idx", "__i"),
    )
    chunk = F.slice("__toks", F.col("chunk_idx") * stride + 1, chunk_tokens)
    return idx.select(
        id_col,
        "chunk_idx",
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def repetition_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of bigram instances
    taken by the single most frequent bigram. Low-quality machine spam
    scores near 1; natural prose near 1/n_bigrams.

    Shape: explode bigrams → two hash aggregations keyed by doc (and
    doc+bigram) — partial aggregation keeps the shuffle at distinct
    bigram granularity; no per-doc collect. Docs with < 2 tokens have no
    bigrams and score 0 over 0 bigrams (emitted with n_bigrams = 0).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = token_count(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__t"), n.alias("__n"))
    bigrams = base.filter(F.col("__n") >= 2).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("__n") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("__t", i), F.element_at("__t", i + 1)
                ),
            )
        ).alias("bigram"),
    )
    counts = bigrams.groupBy(id_col, "bigram").agg(F.count(F.lit(1)).alias("c"))
    top = counts.groupBy(id_col).agg(
        F.max("c").alias("top_bigram_count"),
        F.sum("c").alias("n_bigrams"),
    )
    all_docs = base.select(id_col).join(top, id_col, "left")
    ratio = F.when(
        F.col("n_bigrams").isNull() | (F.col("n_bigrams") == 0), F.lit(0.0)
    ).otherwise(F.col("top_bigram_count").cast("double") / F.col("n_bigrams"))
    return all_docs.select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("top_bigram_count", F.lit(0)).alias("top_bigram_count"),
        ratio.alias("rep_ratio"),
    )


def pack_sequences(
    chunks: DataFrame,
    budget_tokens: int = 256,
    n_groups: int = 64,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    len_col: str = "n_chunk_tokens",
) -> DataFrame:
    """Assign chunks to fixed-token training sequences (packing).

    Deterministic streaming pack: chunks are ordered by (doc_id,
    chunk_idx) WITHIN a hash-assigned pack group, a running token total
    is kept, and a chunk whose window starts in bin b = floor(
    exclusive_cumsum / budget) joins sequence b. A sequence can overflow
    by at most one chunk (the classic streaming approximation of bin
    packing — exact first-fit is inherently sequential state and not
    worth a single-partition bottleneck).

    Scale shape: the running sum is a window PARTITIONED by pack group
    (doc_id % n_groups), never a global total order — each group packs
    independently, so parallelism = n_groups regardless of corpus size
    and results don't depend on physical partitioning. Raise n_groups
    with corpus size; sequence ids are (group, bin) pairs, globally
    unique without coordination.
    """
    from pyspark.sql import Window

    grp = (F.col(id_col) % n_groups).alias("pack_group")
    w = (
        Window.partitionBy("pack_group")
        .orderBy(id_col, idx_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = chunks.select(grp, F.col(id_col), F.col(idx_col), F.col(len_col))
    cum = F.sum(len_col).over(w) - F.col(len_col)  # exclusive prefix sum
    return c.withColumn(
        "seq_idx", F.floor(cum / F.lit(float(budget_tokens))).cast("int")
    )


def pack_token_ids(
    enc: DataFrame,
    max_len: int = 256,
    n_groups: int = 64,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
) -> DataFrame:
    """Materialize PACKED training sequences from token-id streams
    (``bpe_encode_ids`` output): within each hash-assigned pack group
    (doc_id % n_groups) docs are concatenated in doc-id order and the
    combined stream is cut into consecutive ``max_len`` windows — the
    GPT-style packed-pretraining layout, where a doc may span two
    sequences and a sequence may hold many docs. Output per sequence:
    (pack_group, seq_idx, input_ids array<int>, n_tokens, n_docs,
    doc_spans array<struct<doc_id,start,end>>) — doc_spans are the
    [start, end) doc boundaries inside the sequence, in order: exactly
    what a block-diagonal attention mask (or a cross-doc-attention
    audit) needs. Every sequence except each group's last holds
    exactly max_len ids.

    Scale shape: one window (per-group exclusive prefix sum over
    doc-level counts — one row per DOC, not per token), then the
    unavoidable repack shuffle (posexplode → groupBy sequence) carries
    each token once, partitioned by (group, seq). No global order, no
    driver state; parallelism = n_groups × sequences, and results are
    physical-partitioning-invariant (same determinism argument as
    pack_sequences)."""
    from pyspark.sql import Window

    grp = (F.col(id_col) % n_groups).alias("pack_group")
    base = enc.select(grp, F.col(id_col), F.col(ids_col),
                      F.size(ids_col).alias("__n"))
    w = (
        Window.partitionBy("pack_group")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("__n").over(w) - F.col("__n")).alias("__start")
    tok = base.withColumn("__start", start).select(
        "pack_group",
        F.col(id_col),
        "__start",
        F.posexplode(ids_col).alias("__i", "token_id"),
    )
    gpos = F.col("__start") + F.col("__i")
    tok = tok.select(
        "pack_group",
        F.col(id_col),
        F.floor(gpos / F.lit(max_len)).cast("int").alias("seq_idx"),
        (gpos % F.lit(max_len)).cast("int").alias("pos"),
        "token_id",
    )
    # doc spans fold over the position-sorted tokens: extend the open
    # span while doc_id repeats, else open a new one. Nested when()s, not
    # a conjunction — ANSI mode evaluates both operands of `&`, and
    # element_at on the empty initial accumulator would throw.
    def span_step(acc, s):
        last = F.element_at(acc, -1)
        opened = F.array(
            F.struct(
                s["doc_id"].alias("doc_id"),
                s["pos"].alias("start"),
                (s["pos"] + 1).alias("end"),
            )
        )
        extended = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["doc_id"].alias("doc_id"),
                    last["start"].alias("start"),
                    (s["pos"] + 1).alias("end"),
                )
            ),
        )
        return F.when(F.size(acc) == 0, opened).otherwise(
            F.when(last["doc_id"] == s["doc_id"], extended).otherwise(
                F.concat(acc, opened)
            )
        )

    return (
        tok.groupBy("pack_group", "seq_idx")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "token_id", F.col(id_col).alias("doc_id")))
            ).alias("__s"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .select(
            F.col("pack_group").cast("int").alias("pack_group"),
            "seq_idx",
            F.transform("__s", lambda s: s["token_id"]).alias("input_ids"),
            F.size("__s").alias("n_tokens"),
            "n_docs",
            F.aggregate(
                "__s",
                F.array().cast(
                    "array<struct<doc_id:bigint,start:int,end:int>>"
                ),
                span_step,
            ).alias("doc_spans"),
        )
    )


def tokens(text: Column) -> Column:
    """Normalized word tokens (the vocab/ngram unit): normalize_text then
    whitespace split; blank text → empty array."""
    norm = normalize_text(text)
    return F.when(F.length(norm) == 0, F.array().cast("array<string>")).otherwise(
        F.split(norm, r"\s+")
    )


def vocab_top_k(
    df: DataFrame, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary: top-k tokens by total occurrences (ties by
    token asc), with exact document frequency.

    Scale shape: explode → two-level agg. The (token, doc) stage gets
    map-side partial aggregation (a doc repeats its own tokens), so the
    shuffle carries at most one row per (token, doc); the second agg
    shuffles one row per distinct token. The top-k itself is a
    TakeOrdered over token counts — no global sort materialized. Vocab
    cardinality, not corpus size, bounds the final stage.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    per_doc = toks.groupBy("tok", id_col).agg(F.count(F.lit(1)).alias("c"))
    counts = per_doc.groupBy("tok").agg(
        F.sum("c").alias("n_occ"), F.count(F.lit(1)).alias("n_docs")
    )
    return counts.orderBy(F.col("n_occ").desc(), "tok").limit(k)


def oov_stats(
    df: DataFrame,
    vocab_size: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-``vocab_size`` vocabulary (a cheap LM-free quality signal: high
    OOV rate flags boilerplate, code, non-target-language, or junk).

    The vocabulary is the ``vocab_top_k`` head ranked by (occurrences
    desc, token asc) — fully deterministic including the cut boundary.
    All outputs are integer counts plus one final division, so values
    are bit-exact across engines.

    Scale shape: vocab is ``vocab_size`` rows → broadcast hash join
    against the exploded tokens (no shuffle on the token side beyond the
    per-doc count agg, which keys on doc_id and map-side combines).
    Zero-token docs are preserved with a NULL rate via the left join
    back to the corpus spine.
    """
    vocab = vocab_top_k(df, k=vocab_size, text_col=text_col, id_col=id_col).select(
        "tok", F.lit(True).alias("in_vocab")
    )
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    marked = toks.join(F.broadcast(vocab), "tok", "left")
    agg = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
    )
    out = df.select(id_col).join(agg, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        F.when(F.col("n_tokens").isNull(), F.lit(None).cast("double"))
        .otherwise(F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"))
        .alias("oov_rate"),
    )


def lexical_diversity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document lexical diversity: token/type counts, type-token
    ratio, and Gini-Simpson index 1 - Σc²/n² — all derived from integer
    counts with a single final division each, so the values are
    bit-exact across engines (no transcendentals, no float accumulation;
    contrast the entropy variant, which would hang on log2 ULPs).

    Scale: one explode + (doc, token) agg + (doc) agg; both shuffles key
    on doc_id-prefixed keys so a skewed token doesn't concentrate.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    per = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    n = F.col("n_tokens").cast("double")
    out = df.select(id_col).join(agg, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_types", F.lit(0)).alias("n_types"),
        F.when(F.col("n_tokens").isNull(), F.lit(0.0))
        .otherwise(F.col("n_types").cast("double") / n)
        .alias("ttr"),
        F.when(F.col("n_tokens").isNull(), F.lit(0.0))
        .otherwise(F.lit(1.0) - F.col("sum_c2").cast("double") / (n * n))
        .alias("simpson"),
    )


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) of the normalized text;
    fewer than n tokens → empty array. Built by zipping n shifted slices
    of the token array — NOT element_at(t, i+j) inside a position
    transform: interpreted HOFs have no CSE, so a token expression
    embedded in the lambda re-tokenizes the document once per element ×
    per position — O(n·tokens²) per row (measured 231 s vs ~3 s on a
    20k-doc stress table). The slices keep the reference count constant.
    Still JVM-side and scan-local."""
    t = tokens(text)
    m = F.greatest(F.size(t) - F.lit(n - 1), F.lit(0))
    grams = F.slice(t, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(t, 1 + j, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(grams)
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check: per corpus document, the fraction
    of its distinct word n-grams that appear anywhere in the benchmark
    set (the standard train-set decontamination screen).

    Scale shape: the benchmark gram set is distinct-reduced and then
    BROADCAST — eval sets are MBs against a 100 TB corpus, so the corpus
    side never shuffles; each scan task probes a shared hash set. If the
    benchmark outgrows broadcast range, drop the hint and Spark falls
    back to a shuffled join keyed on the gram. Docs with fewer than n
    tokens report 0 grams / 0.0 contamination.
    """
    bench = (
        benchmark.select(F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    grams = corpus.select(
        F.col(id_col), F.explode_outer(word_ngrams(F.col(text_col), n)).alias("gram")
    )
    joined = grams.join(F.broadcast(bench), "gram", "left")
    agg = joined.groupBy(id_col).agg(
        F.count(F.col("gram")).alias("n_grams"),
        F.count(F.col("__hit")).alias("n_hit"),
    )
    frac = F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
        F.col("n_hit").cast("double") / F.col("n_grams").cast("double")
    )
    return agg.select(id_col, "n_grams", "n_hit", frac.alias("contamination"))


def gopher_quality_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1 —
    public heuristics), each as a boolean flag plus the conjunctive
    ``keep`` decision:

    - 50 <= word count <= 100_000
    - mean word length in [3, 10] (non-whitespace chars / words)
    - symbol-to-word ratio ('#' or '...') <= 0.1
    - < 90% of lines start with a bullet, < 30% end with an ellipsis
    - >= 80% of words contain an alphabetic character
    - >= 2 stopword hits

    All rational arithmetic over integer counts (single final divisions)
    — deterministic and oracle-exact; one scan, no shuffle. The HOF
    line/token filters are interpreted expressions, still JVM-side and
    scan-local (acceptable: they run once per doc, not per token pair).
    """
    g = gopher_struct(F.col(text_col))
    return df.select(
        F.col(id_col),
        *[g[f].alias(f) for f in (
            "n_words", "flag_word_count", "flag_mean_word_len",
            "flag_symbol_ratio", "flag_bullets", "flag_ellipsis",
            "flag_alpha", "flag_stopwords", "keep",
        )],
    )


def gopher_struct(t: Column) -> Column:
    """The Gopher rule set as ONE struct-valued column expression, so a
    caller can evaluate quality inside its own projection (one text
    scan) instead of joining gopher_quality_flags' frame back by id —
    prepare_corpus depends on this for its single-scan shape."""
    trimmed = F.trim(t)
    toks = F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )
    n_words = F.size(toks)
    n_chars = F.length(F.regexp_replace(t, r"\s", ""))
    n_sym = F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\."), 0))
    lines = F.split(t, r"\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[-*•]")))
    n_ellipsis = F.size(F.filter(lines, lambda l: F.rtrim(l).rlike(r"\.\.\.$")))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    sw = stopword_hits(t, "en")

    nz = n_words > 0
    d = n_words.cast("double")
    # ANSI mode evaluates both operands of `&`, so the n_words == 0 case
    # must sit behind a lazily-evaluated when(), not a conjunction
    mwl = n_chars.cast("double") / d
    flag_word_count = (n_words >= 50) & (n_words <= 100_000)
    flag_mean_word_len = F.when(nz, (mwl >= 3.0) & (mwl <= 10.0)).otherwise(F.lit(False))
    flag_symbol_ratio = F.when(nz, n_sym.cast("double") / d <= 0.1).otherwise(F.lit(False))
    flag_bullets = n_bullet.cast("double") / n_lines.cast("double") < 0.9
    flag_ellipsis = n_ellipsis.cast("double") / n_lines.cast("double") < 0.3
    flag_alpha = F.when(nz, n_alpha.cast("double") / d >= 0.8).otherwise(F.lit(False))
    flag_stopwords = sw >= 2
    keep = (
        flag_word_count
        & flag_mean_word_len
        & flag_symbol_ratio
        & flag_bullets
        & flag_ellipsis
        & flag_alpha
        & flag_stopwords
    )
    return F.struct(
        n_words.alias("n_words"),
        flag_word_count.alias("flag_word_count"),
        flag_mean_word_len.alias("flag_mean_word_len"),
        flag_symbol_ratio.alias("flag_symbol_ratio"),
        flag_bullets.alias("flag_bullets"),
        flag_ellipsis.alias("flag_ellipsis"),
        flag_alpha.alias("flag_alpha"),
        flag_stopwords.alias("flag_stopwords"),
        keep.alias("keep"),
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k characteristic terms per document by a rational tf-idf
    surrogate: score = tf * N / df (N = corpus size, df = document
    frequency). Ranking is identical to classic tf·idf with any
    monotone idf — and integer-derived with one final division, so
    scores are bit-exact across engines (no log).

    Scale: (doc, token) counts → token doc-frequencies (vocab-sized) →
    join back on token → per-doc top-k window. The df table is
    vocab-bounded, not corpus-bounded; the final window partitions by
    doc. N comes from a driver-side count — one cheap metadata-level
    action, the same pattern as uniform_rebalance_rates.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    per = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    dfreq = per.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = per.join(dfreq, "tok").select(
        F.col(id_col),
        "tok",
        ((F.col("c") * F.lit(n_docs)).cast("double") / F.col("df").cast("double")).alias(
            "score"
        ),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "tok", "score")
    )


def collapse_repeat_tokens(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Collapse runs of consecutively repeated tokens to one occurrence
    ("batch batch batch" → "batch") — the classic crawl-artifact /
    decoder-loop cleanup. Operates on the normalized token stream.

    Output: (id, n_tokens, n_kept, text_clean). Pure scan-side
    higher-order functions — no shuffle, no state; the run test is
    token[i] != token[i-1], so only adjacent duplicates collapse
    (cf. repetition_score, which *measures* global repetition).

    The previous-token comparison is zip_with against a null-prepended
    shifted copy, NOT element_at(toks, i) inside the lambda: interpreted
    HOFs have no CSE, so a computed-array expression embedded in the
    lambda body re-tokenizes the document once PER ELEMENT — O(tokens²)
    per row, measured 165 s vs 1.5 s on a 20k-doc stress table. zip_with
    references the token expression a constant number of times.
    """
    toks = tokens(F.col(text_col))
    prev = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
    )
    kept = F.filter(
        F.zip_with(
            toks, prev, lambda x, p: F.when(p.isNull() | (x != p), x)
        ),
        lambda x: x.isNotNull(),
    )
    null_text = F.col(text_col).isNull()
    return df.select(
        F.col(id_col),
        F.when(null_text, F.lit(None).cast("long"))
        .otherwise(F.size(toks).cast("long"))
        .alias("n_tokens"),
        F.when(null_text, F.lit(None).cast("long"))
        .otherwise(F.size(kept).cast("long"))
        .alias("n_kept"),
        F.when(null_text, F.lit(None).cast("string"))
        .otherwise(F.array_join(kept, " "))
        .alias("text_clean"),
    )


#: Above this vocab size, cap_to_vocab switches from the driver-collected
#: map literal to the broadcast-join plan: a 100k-entry create_map is a
#: megabyte-scale expression tree (2N literal nodes serialized into every
#: task binary) and GetMapValue linearly scans it PER TOKEN.
VOCAB_JOIN_THRESHOLD = 10_000


def _cap_to_vocab_join(
    df: DataFrame, vocab_size: int, unk: str, text_col: str, id_col: str
) -> DataFrame:
    """Large-vocab path: posexplode tokens → broadcast hash join against
    the vocab (vocab_size rows, far under the broadcast threshold) →
    per-doc reassembly ordered by token position. The join is O(1) per
    token (hash relation), the reassembly shuffle carries the token
    stream once keyed by doc id, and the output contract is identical to
    the map-literal path."""
    vocab = vocab_top_k(df, k=vocab_size, text_col=text_col, id_col=id_col).select(
        "tok", F.lit(True).alias("in_vocab")
    )
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    marked = toks.join(F.broadcast(vocab), "tok", "left")
    capped = F.when(F.col("in_vocab").isNotNull(), F.col("tok")).otherwise(
        F.lit(unk)
    )
    agg = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("__unk"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), capped.alias("t")))),
                lambda s: s["t"],
            ),
            " ",
        ).alias("__txt"),
    )
    null_text = F.col(text_col).isNull()
    return df.select(id_col, text_col).join(agg, id_col, "left").select(
        F.col(id_col),
        F.when(null_text, F.lit(None).cast("long"))
        .otherwise(F.coalesce(F.col("__n"), F.lit(0)))
        .alias("n_tokens"),
        F.when(null_text, F.lit(None).cast("long"))
        .otherwise(F.coalesce(F.col("__unk"), F.lit(0)))
        .alias("n_unk"),
        F.when(null_text, F.lit(None).cast("string"))
        .otherwise(F.coalesce(F.col("__txt"), F.lit("")))
        .alias("text_capped"),
    )


def cap_to_vocab(
    df: DataFrame,
    vocab_size: int = 100,
    unk: str = "<unk>",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Replace every token outside the corpus's top-``vocab_size``
    vocabulary with ``unk`` (LM-style vocabulary capping). The vocab is
    the same deterministic vocab_top_k head oov_stats uses.

    For vocabs up to ``VOCAB_JOIN_THRESHOLD`` the vocab is collected to
    the driver (``vocab_size`` rows — the same tiny-aggregate-then-
    literal pattern as uniform_rebalance_rates) and embedded as a map
    literal, so the replacement is a pure scan-side expression: no join,
    no shuffle, composes with column pruning. Above the threshold the
    map literal stops being "tiny" — a 100k-entry create_map is a
    megabyte-scale expression tree and its lookups are linear scans —
    so the plan switches to a broadcast join with positional reassembly
    (``_cap_to_vocab_join``), same output contract. The normalized
    token stream never contains '<' so ``unk`` cannot collide with a
    real token.

    Output: (id, n_tokens, n_unk, text_capped).
    """
    if vocab_size > VOCAB_JOIN_THRESHOLD:
        return _cap_to_vocab_join(df, vocab_size, unk, text_col, id_col)
    vocab = [
        r["tok"]
        # driver-bound: vocab_size rows (capped vocabulary)
        for r in vocab_top_k(df, k=vocab_size, text_col=text_col, id_col=id_col)
        .select("tok")
        .collect()
    ]
    pairs: list[Column] = []
    for t in vocab:
        pairs.extend([F.lit(t), F.lit(True)])
    m = F.create_map(*pairs) if pairs else F.create_map().cast("map<string,boolean>")
    toks = tokens(F.col(text_col))
    capped = F.transform(
        toks, lambda x: F.when(F.element_at(m, x).isNotNull(), x).otherwise(F.lit(unk))
    )
    null_text = F.col(text_col).isNull()
    return df.select(
        F.col(id_col),
        F.when(null_text, F.lit(None).cast("long"))
        .otherwise(F.size(toks).cast("long"))
        .alias("n_tokens"),
        F.when(null_text, F.lit(None).cast("long"))
        .otherwise(
            F.size(F.filter(capped, lambda x: x == F.lit(unk))).cast("long")
        )
        .alias("n_unk"),
        F.when(null_text, F.lit(None).cast("string"))
        .otherwise(F.array_join(capped, " "))
        .alias("text_capped"),
    )


def bpe_pair_counts(
    df: DataFrame, top_k: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """First-round BPE merge-pair statistics: adjacent CHARACTER pair
    frequencies over the corpus (each word's pairs weighted by the
    word's total occurrence count) — the counts a byte-pair-encoding
    tokenizer trainer computes to pick its first merge. Top-``top_k``
    pairs by count, ties by pair string.

    Scale shape: the corpus collapses to (word, count) first — one
    explode + vocab-sized agg — and the character-pair explosion runs
    over DISTINCT words only, so the expensive part is bounded by
    vocabulary size, not corpus size. Integer counts throughout.
    """
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    words = toks.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    idx = F.sequence(F.lit(1), F.length("w") - 1)
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(idx, lambda i: F.col("w").substr(i, F.lit(2)))
        ).alias("pair"),
        "wc",
    )
    counts = pairs.groupBy("pair").agg(F.sum("wc").alias("n"))
    return counts.orderBy(F.col("n").desc(), "pair").limit(top_k)


def _bigram_pair_array(text: Column) -> Column:
    """Adjacent-token pair structs of the normalized token stream, built
    as zip_with over two shifted slices. NOT element_at(t, i) inside a
    position transform: interpreted HOFs have no CSE, so embedding the
    token expression in the lambda re-tokenizes the document once per
    element — O(tokens²) per row (measured 172 s vs ~2 s on a 20k-doc
    stress table). The slices reference the token expression a constant
    number of times."""
    t = tokens(text)
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    return F.zip_with(
        F.slice(t, 1, n1),
        F.slice(t, 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def bigram_lm_table(
    df: DataFrame, top_k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram language-model table: adjacent-token pair counts and the
    conditional probability p(w2|w1) = n(w1,w2)/n(w1,·) — the statistic
    behind n-gram LM quality filters (CCNet-style) and corpus
    diagnostics. Top-``top_k`` pairs by count, ties by (w1, w2).

    All integers plus one final division → engine-exact. Scale shape:
    adjacent pairs explode from each doc's token array (scan-side,
    constant-factor — see _bigram_pair_array), one map-side-combined agg
    to pair counts, then the left-unigram totals come from an unordered
    window over w1 — a LINEAR plan with a single corpus scan. (A totals
    groupBy joined back on w1 reads cleaner but references the counts
    subtree twice, and Catalyst re-executes it: measured 3 FileScans of
    the corpus. The window costs one vocab²-bounded exchange instead.)
    """
    pairs = (
        df.select(F.explode(_bigram_pair_array(F.col(text_col))).alias("p"))
        .select("p.w1", "p.w2")
    )
    from pyspark.sql import Window

    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    n_w1 = F.sum("n").over(Window.partitionBy("w1"))
    out = counts.select(
        "w1",
        "w2",
        "n",
        (F.col("n").cast("double") / n_w1.cast("double")).alias("cond_p"),
    )
    return out.orderBy(F.col("n").desc(), "w1", "w2").limit(top_k)


def charset_report(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Encoding-hygiene signals per doc: counts of non-ASCII chars,
    control chars (excluding \\t \\n \\r), and U+FFFD replacement chars
    (the mojibake tell), plus the non-ASCII ratio. A crawl that was
    decoded with the wrong charset lights up n_replacement / ratio_non_ascii
    long before a language model chokes on it.

    Pure scan-side regexp counting (integer + one division) — no
    shuffle, oracle-exact.
    """
    t = F.col(text_col)
    n = F.length(t)
    non_ascii = F.size(F.regexp_extract_all(t, F.lit(r"[^\x00-\x7F]"), 0))
    control = F.size(F.regexp_extract_all(t, F.lit(r"[\x00-\x08\x0B\x0C\x0E-\x1F]"), 0))
    replacement = F.size(F.regexp_extract_all(t, F.lit("�"), 0))
    return df.select(
        F.col(id_col),
        F.coalesce(n, F.lit(0)).cast("long").alias("n_chars"),
        F.coalesce(non_ascii, F.lit(0)).cast("long").alias("n_non_ascii"),
        F.coalesce(control, F.lit(0)).cast("long").alias("n_control"),
        F.coalesce(replacement, F.lit(0)).cast("long").alias("n_replacement"),
        F.when(n.isNull() | (n == 0), F.lit(0.0))
        .otherwise(non_ascii.cast("double") / n.cast("double"))
        .alias("ratio_non_ascii"),
    )


def bigram_perplexity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document cross-entropy under the corpus's own bigram LM — the
    n-gram perplexity filter of CCNet-style curation: documents whose
    token transitions are improbable under the corpus distribution
    (boilerplate, gibberish, wrong-language shards) score high and get
    dropped/bucketed.

    cross_entropy = -(Σ n(d,w1,w2)·log2 p(w2|w1)) / Σ n(d,w1,w2), with
    p(w2|w1) = n(w1,w2)/n(w1,·) estimated over the whole input. Docs
    with < 2 tokens have no bigrams and are excluded (no defined score).

    Scale shape: one scan explodes per-doc bigram COUNTS (group by
    doc+pair — map-side combined, so a doc's repeated pairs collapse
    before the shuffle); the LM probabilities attach via two unordered
    windows over the same frame (pair totals over (w1,w2), left-unigram
    totals over w1) — a LINEAR plan, single corpus scan, NO self-joins.
    (Deriving an LM table and joining it back re-executes the doc-pair
    subtree: measured 3 FileScans of the corpus in that shape.) The
    window keys are Zipf-skewed; their row volume is bounded by distinct
    (doc, pair) counts, not corpus text volume.
    """
    from pyspark.sql import Window

    doc_pairs = (
        df.select(
            F.col(id_col),
            F.explode(_bigram_pair_array(F.col(text_col))).alias("p"),
        )
        .groupBy(id_col, "p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_pair = F.sum("n").over(Window.partitionBy("w1", "w2"))
    n_w1 = F.sum("n").over(Window.partitionBy("w1"))
    scored = doc_pairs.withColumn(
        "cond_p", n_pair.cast("double") / n_w1.cast("double")
    )
    return scored.groupBy(id_col).agg(
        F.sum("n").alias("n_bigrams"),
        (-F.sum(F.col("n") * F.log2("cond_p")) / F.sum("n")).alias(
            "cross_entropy"
        ),
    )


def _doc_lines(df: DataFrame, text_col: str, id_col: str):
    """(doc, idx, line) rows: newline-split, per-line trim, empties
    dropped — the C4 comparison unit for boilerplate detection."""
    lines = F.split(F.col(text_col), "\n")
    idx = F.sequence(F.lit(1), F.size(lines))
    pair = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("idx"),
            F.trim(F.element_at(lines, i.cast("int"))).alias("line"),
        ),
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(pair).alias("p"))
        .select(id_col, "p.idx", "p.line")
        .filter(F.length("line") > 0)
    )


def boilerplate_lines(
    df: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus boilerplate report: trimmed non-empty lines that occur in at
    least ``min_docs`` DISTINCT documents (the C4 rule — repeated lines
    are navigation chrome, cookie banners, boilerplate headers/footers).

    Scale shape: one scan explodes lines; (doc, line) dedup and the
    distinct-doc count are two map-side-combined aggs on the line key —
    no joins, nothing retained per unique document.
    """
    return (
        _doc_lines(df, text_col, id_col)
        .select(id_col, "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def scrub_boilerplate(
    df: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style boilerplate removal: rebuild each document from the lines
    that do NOT occur in ≥ ``min_docs`` distinct documents. Documents
    whose every line is boilerplate (or empty) drop out.

    Scale shape: a LINEAR single-scan plan — the distinct-doc count per
    line comes from two stacked windows ((line, doc) first-occurrence
    flag, then a line-partition sum) instead of joining a flagged-line
    table back to the line stream, which would re-execute the explode
    subtree (same pitfall measured on the bigram operators: 3 corpus
    scans). Reassembly is one doc-level agg sorting surviving lines by
    original position.
    """
    from pyspark.sql import Window

    lines = _doc_lines(df, text_col, id_col)
    rn = F.row_number().over(
        Window.partitionBy("line", id_col).orderBy("idx")
    )
    first = lines.withColumn("is_first", (rn == 1).cast("long"))
    n_docs = F.sum("is_first").over(Window.partitionBy("line"))
    kept = first.withColumn("n_docs", n_docs).filter(
        F.col("n_docs") < min_docs
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("idx", "line"))),
        lambda s: s["line"],
    )
    return kept.groupBy(id_col).agg(
        F.array_join(ordered, "\n").alias("text_clean"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme):
    hash every k-gram of the normalized text, slide a window of ``w``
    consecutive gram hashes, keep each window's minimum, emit the
    distinct selected hashes as (doc, fp) rows.

    Guarantee (the reason winnowing beats naive sampling): any substring
    match of length ≥ w + k - 1 between two documents is caught by at
    least one shared fingerprint, while only ~2/(w+1) of all gram hashes
    are kept. Gram hashes are the first 8 hex chars of md5 — fixed-width
    hex, so lexicographic MIN equals numeric MIN in every engine.

    The md5 scheme is the one q94's DuckDB oracle specifies: the
    per-gram md5 runs in C via an Arrow-batched mapInPandas with a
    per-partition gram→hash cache — the same hot-loop treatment as
    MinHash. Normalization stays JVM-side so the regex semantics can't
    drift. Downstream overlap detection groups the (fp) column — the
    same bucket-join shape as LSH candidates.
    """
    norm = normalize_text(F.col(text_col))
    par = df.sparkSession.sparkContext.defaultParallelism
    # r11: the old `filter(length(norm) > 0)` evaluated the whole
    # normalize regex chain in the Filter node (single scan task,
    # below the spread) on top of the projection's evaluation;
    # empty-norm docs now skip INSIDE the kernel (`if not nrm`),
    # which is plan-hazard-free, and NULL text keeps a cheap
    # scan-pushable filter (length(NULL) > 0 dropped it before).
    nm = (
        spread_scan(df.filter(F.col(text_col).isNotNull()), par)
        .select(F.col(id_col), norm.alias("norm"))
    )
    id_type = dict(nm.dtypes)[id_col]

    def _batches(pdfs):
        import hashlib

        md5 = hashlib.md5
        cache: dict[str, str] = {}

        def h(g: str) -> str:
            v = cache.get(g)
            if v is None:
                v = md5(g.encode()).hexdigest()[:8]
                if len(cache) > 2_000_000:
                    cache.clear()
                cache[g] = v
            return v

        import pandas as pd

        for pdf in pdfs:
            ids: list = []
            fps: list[str] = []
            for doc_id, nrm in zip(pdf[id_col], pdf["norm"]):
                if not nrm:
                    # empty norm: the pre-r11 plan-level pre-filter
                    # dropped these docs; same semantics, kernel-side
                    continue
                hs = [
                    h(nrm[i : i + k])
                    for i in range(max(len(nrm) - k + 1, 1))
                ]
                sel = {
                    min(hs[j : j + w])
                    for j in range(max(len(hs) - w + 1, 1))
                }
                ids.extend([doc_id] * len(sel))
                fps.extend(sel)
            # yield bound: fingerprints-per-doc <= token count (row-local in doc size)
            yield pd.DataFrame({id_col: ids, "fp": fps})

    return nm.mapInPandas(_batches, schema=f"{id_col} {id_type}, fp string")


def winnowing_overlap_pairs(
    df: DataFrame,
    min_shared: int = 2,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints —
    MOSS-style overlap detection (plagiarism / near-verbatim reuse): two
    docs sharing any ≥ (w+k-1)-char normalized substring are guaranteed
    candidates; the shared-fp count ranks overlap strength.

    Scale shape: identical to the MinHash LSH candidate plan — scan-side
    fingerprints, ONE shuffle on the fp key, bucket enumeration through
    the block-split work units (`dedup._bucket_blocks`) so an fp shared
    by thousands of docs (boilerplate) costs bounded work per task, then
    a pair-count aggregation. Never an all-pairs join. ``bucket_cap``
    additionally bounds the per-fp member COLLECT itself (see
    `dedup._collect_buckets`) — the backstop for a boilerplate
    fingerprint shared by millions of docs; capped-out members lose
    that fp's candidacy and truncated buckets undercount ``n_shared``,
    which is the intended degenerate-bucket behavior for a screen.
    """
    from ticktock_spark.pipeline.dedup import (
        _bucket_blocks,
        _collect_buckets,
        _pairs_pandas,
    )

    par = df.sparkSession.sparkContext.defaultParallelism
    fps = winnowing_fingerprints(df, k=k, w=w, text_col=text_col, id_col=id_col)
    buckets = _collect_buckets(fps, id_col, bucket_cap, key_cols=("fp",))
    id_type = dict(df.select(id_col).dtypes)[id_col]
    pairs = (
        _bucket_blocks(buckets)
        .repartition(par)
        .mapInPandas(_pairs_pandas(), schema=f"id_a {id_type}, id_b {id_type}")
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def vocab_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Token-distribution drift between two corpus snapshots: for each
    token in BOTH vocabularies, its probability under A and B and its
    signed contribution p_b·log2(p_b/p_a) to KL(B‖A) — the standard
    monitor for "did this ingest batch shift the corpus?" (new spam
    vocabulary, a source going dark, language mix drifting). Top-|k|
    tokens by absolute contribution, ties by token.

    Probabilities are over each snapshot's full token count (including
    tokens unique to that snapshot), so the shared-vocab contributions
    are exact; tokens absent from one side are excluded from the report
    (their KL term is unbounded — screen them with oov_stats instead).

    Scale shape: one scan + one vocab-sized agg per snapshot, an
    equi-join on token (vocab-sized, not corpus-sized), and a
    TakeOrdered top-k. Totals attach via a scalar count aggregated
    from the vocab frame itself — no second corpus scan.
    """
    def vocab(df):
        return (
            df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    from pyspark.sql import Window

    # total token counts attach via a global window over the VOCAB-sized
    # count table (not a scalar-agg cross join, which would re-execute
    # the corpus scan subtree per branch) — the corpus is scanned exactly
    # once per snapshot
    glob = Window.partitionBy(F.lit(1))
    va = vocab(df_a).select(
        "tok", F.col("n").alias("n_a"), F.sum("n").over(glob).alias("tot_a")
    )
    vb = vocab(df_b).select(
        "tok", F.col("n").alias("n_b"), F.sum("n").over(glob).alias("tot_b")
    )
    joined = va.join(vb, "tok")
    p_a = F.col("n_a").cast("double") / F.col("tot_a").cast("double")
    p_b = F.col("n_b").cast("double") / F.col("tot_b").cast("double")
    contrib = p_b * F.log2(p_b / p_a)
    out = joined.select(
        "tok",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        contrib.alias("kl_contrib"),
    )
    return out.orderBy(F.abs(F.col("kl_contrib")).desc(), "tok").limit(top_k)


def vocab_size_stats(
    df: DataFrame,
    text_col: str = "text",
    exact: bool = True,
    rsd: float = 0.02,
) -> DataFrame:
    """Corpus vocabulary size + total/distinct token counts — the
    tokenizer-sizing numbers a pipeline reads before choosing a vocab
    budget. ``exact=True`` (default, oracle-checkable) pays one distinct
    aggregation over the token stream. ``exact=False`` swaps in
    HyperLogLog++ (``approx_count_distinct``, relative sd ``rsd``) —
    constant memory per partition, one pass, no distinct shuffle: at
    100 TB the distinct agg shuffles every unique token once, while the
    sketch ships one small buffer per partition. Error bound asserted
    by test."""
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    distinct = (
        F.count_distinct(F.col("tok")) if exact
        else F.approx_count_distinct(F.col("tok"), rsd)
    )
    return toks.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        distinct.cast("long").alias("n_distinct"),
    )


def heavy_hitters(
    df: DataFrame,
    min_count: int,
    text_col: str = "text",
    width: int = 4096,
    depth: int = 4,
) -> DataFrame:
    """Tokens occurring at least ``min_count`` times corpus-wide, found
    via a Count-Min sketch screen + exact recount — the heavy-hitter
    tier of the sketch family (GK percentile:
    `operators/downsample.py:percentile_approx_downsample`, HLL
    distinct: `vocab_size_stats(exact=False)`).

    Why not plain groupBy(token): over an unbounded key domain (URLs,
    hostnames, n-grams) the exact agg's hash map holds the FULL vocab —
    per-partition spill and a shuffle row per distinct key at 100 TB.
    Here pass 1 builds the sketch as ``depth`` bounded-cardinality
    aggregations (cell key = xxhash64(seed, tok) mod width): map-side
    combine caps each partition's output at depth x width rows no
    matter how many distinct tokens it saw, and the collected sketch is
    <= depth x width cells (driver state ~256 KB — NOT row-scale).
    Pass 2 re-scans, keeps only occurrences whose sketch estimate
    (min over rows of the cell counts, embedded as ARRAY LITERALS so
    the screen is pure JVM expressions — at the default 4x4096 ints
    the expression tree is ~100 KB; widen via more depth, not width,
    if that ever matters) reaches ``min_count``, and exactly counts
    the survivors — the partial-agg map now holds only
    candidate tokens. CMS never undercounts, so candidates are a
    guaranteed SUPERSET of the true heavy hitters and the final
    HAVING-style filter makes the output EXACTLY equal to the
    all-exact answer (the oracle) for every sketch width/depth.

    Output: (tok, n_occ) with n_occ >= min_count.
    """
    tok_stream = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))

    def _cell(d: int) -> Column:
        return F.pmod(F.xxhash64(F.lit(d), F.col("tok")), F.lit(width))

    cells = tok_stream.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(d).alias("d"), _cell(d).alias("w"))
                for d in range(depth)
            ])
        ).alias("c")
    )
    # driver-bound: depth × width CMS cells
    sketch_rows = (
        cells.groupBy("c.d", "c.w").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    sketch = [[0] * width for _ in range(depth)]
    for r in sketch_rows:
        sketch[r["d"]][r["w"]] = r["n"]

    est = F.least(*[
        F.element_at(F.lit(sketch[d]), _cell(d).cast("int") + 1)
        for d in range(depth)
    ])
    return (
        tok_stream.filter(est >= min_count)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= min_count)
    )


def bpe_train(
    df: DataFrame,
    num_merges: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
) -> DataFrame:
    """Train ``num_merges`` BPE merges over the corpus: the iterated
    version of bpe_pair_counts — count adjacent symbol pairs (weighted
    by word frequency), merge the most frequent pair (ties by pair
    string asc) in every word greedily left-to-right, repeat. Output:
    (rank, a, b, pair, n) — the merge table a BPE tokenizer ships.

    Semantics (q112's DuckDB oracle is the spec): pair counts are
    ADJACENT-POSITION counts ('aaa' contributes 2 to (a,a)), the top
    pair ties by (n desc, a asc, b asc), and merges apply greedily
    left-to-right with disjoint pairing ('aaa' + (a,a) -> [aa, a]),
    matching every reference implementation.

    Scale shape (the HuggingFace-trainer layout): the corpus collapses
    DISTRIBUTED to the vocab-bounded (word, count) table (the only part
    that touches 100 TB), that model-scale state is collected once, and
    all k merges run driver-local with incremental pair-count
    maintenance — per iteration only the words containing the chosen
    pair are re-paired, via an inverted pair→words index, so the loop
    is O(occurrences touched), not O(vocab) (the standard
    subword-trainer algorithm; SentencePiece/HF train the same state
    single-node after the distributed count). Zero Spark jobs inside
    the loop. ``min_count`` drops words rarer than the threshold before
    the collect — the standard bound on driver vocab size for open-web
    corpora.
    """
    import heapq

    spark = df.sparkSession
    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    if min_count > 1:
        vocab = vocab.filter(F.col("wc") >= min_count)
    # vocab-bounded collect (unique words, not corpus rows) via Arrow:
    # at the web-scale operating point (~10M unique words, SCALE.md)
    # Row-object materialization is ~10× the memory and wall of the
    # Arrow path, and this collect is the trainer's driver bound.
    # driver-bound: unique-word vocab (measured 16 GiB cap, SCALE.md)
    pdf = vocab.toPandas()

    words: list[list] = [list(w) for w in pdf["w"]]
    wcs: list[int] = [int(c) for c in pdf["wc"]]
    del pdf

    def pair_positions(syms: list) -> dict:
        d: dict = {}
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            d[p] = d.get(p, 0) + 1
        return d

    counts: dict = {}
    where: dict = {}  # pair -> set of word indices containing it
    for wi, syms in enumerate(words):
        for p, c in pair_positions(syms).items():
            counts[p] = counts.get(p, 0) + c * wcs[wi]
            where.setdefault(p, set()).add(wi)

    # lazy-invalidation max-heap over (-n, pair): a full O(#pairs) argmax
    # scan per merge would be quadratic-ish at 32k merges; the heap makes
    # selection O(log) amortized (stale entries are skipped on pop by
    # comparing against the live count). Ordering (-n, (a, b)) is exactly
    # the (n desc, a asc, b asc) tie-break.
    heap: list = [(-n, p) for p, n in counts.items()]
    heapq.heapify(heap)

    def pop_top():
        while heap:
            negn, p = heapq.heappop(heap)
            if counts.get(p, 0) == -negn:
                return p, -negn
        return None

    merges: list[tuple] = []
    for r in range(num_merges):
        top = pop_top()
        if top is None:
            break
        (a, b), n = top
        merges.append((r + 1, a, b, a + b, n))
        merged = a + b
        for wi in sorted(where.get((a, b), ())):
            syms = words[wi]
            old = pair_positions(syms)
            out: list = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wi] = out
            new = pair_positions(out)
            wc = wcs[wi]
            for p in old.keys() | new.keys():
                delta = new.get(p, 0) - old.get(p, 0)
                if delta:
                    c = counts.get(p, 0) + delta * wc
                    if c > 0:
                        counts[p] = c
                        heapq.heappush(heap, (-c, p))
                    else:
                        counts.pop(p, None)
                if new.get(p, 0) and p != (a, b):
                    where.setdefault(p, set()).add(wi)
                elif not new.get(p, 0):
                    s = where.get(p)
                    if s is not None:
                        s.discard(wi)
        where.pop((a, b), None)
        counts.pop((a, b), None)
    return spark.createDataFrame(
        merges, "rank int, a string, b string, pair string, n long"
    )


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained merge table (bpe_train output) to the corpus:
    per word, start from characters and replay the merges in rank
    order — the other half of the tokenizer lifecycle. Output:
    (id, n_words, n_subwords) — the sequence-length accounting a
    packing/budget stage consumes (n_subwords = n_chars when no merge
    applies). q113's DuckDB oracle (a '|sym||sym|' string replace per
    merge) is the spec.

    The merge table (model state, k rows) is collected once and closed
    over by an Arrow-batched pandas UDF; each word replays merges in
    rank order driven by a min-heap of the ranks actually PRESENT in
    the word (pairs created by a merge push their ranks; ranks below
    the replay cursor are skipped — exact replay-in-order semantics at
    O(word·applied) instead of O(word·k), so a 32k-merge vocabulary
    costs what the ~dozen merges that fire per word cost, not 32k
    no-op passes). Word→count memoized per batch (Zipf repeats). One
    scan, no shuffle; the only Python in the stage is the
    tokenizer-table lookup a JVM cannot express.

    Exactness argument: sequential replay applies merge rank r iff pair
    (a_r, b_r) is adjacent somewhere in the word WHEN THE CURSOR REACHES
    r. The heap holds the ranks of pairs currently present; ranks pop in
    increasing order, and a pair created by merge r with rank < r is
    NOT pushed past the cursor (`<= done` skip) — exactly the pairs the
    sequential replay would no longer revisit. Pairs created with rank
    > cursor are pushed and fire later, as the sequential replay would.
    Duplicate-pair merge tables (the same (a,b) at two ranks — possible
    only when a later merge recreates an earlier pair's adjacency) keep
    a rank LIST per pair, so each rank fires independently.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # driver-bound: merge table (model-scale)
    mrows = merges.orderBy("rank").collect()
    by_rank: dict[int, tuple[str, str, str]] = {
        int(r["rank"]): (r["a"], r["b"], r["a"] + r["b"]) for r in mrows
    }
    ranks_of: dict[tuple[str, str], list[int]] = {}
    for r in mrows:
        ranks_of.setdefault((r["a"], r["b"]), []).append(int(r["rank"]))

    # NB: module-level `from __future__ import annotations` stringifies
    # hints, which pandas_udf cannot introspect — attach real ones.
    def _n_subwords(tok_arrays):
        memo: dict[str, int] = {}

        def word_len(w: str) -> int:
            got = memo.get(w)
            if got is None:
                got = memo[w] = len(_bpe_replay_word(w, by_rank, ranks_of))
            return got

        return tok_arrays.map(lambda toks: sum(word_len(w) for w in toks))

    _n_subwords.__annotations__ = {"tok_arrays": pd.Series, "return": pd.Series}
    # asNondeterministic: the replay is pure, but the marking stops the
    # optimizer from duplicating the ArrowEvalPython node when a derived
    # filter is pushed below it (two evaluations per row otherwise —
    # the q127 pathology; same rationale there)
    n_subwords = pandas_udf(_n_subwords, "long").asNondeterministic()

    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    )
    toks = spread_scan(toks, df.sparkSession.sparkContext.defaultParallelism)
    # No-token docs ("no accounting row") drop AFTER the UDF (r11, same
    # rationale as bpe_encode_ids: the size(_t) pre-filter re-evaluated
    # the whole tokens() chain in the Filter node). Filtering on the
    # NONDETERMINISTIC n_subwords column keeps the tokenize single-
    # evaluation (the filter cannot push below the UDF projection);
    # n_subwords > 0 iff n_words > 0 (every word replays to >= 1 symbol).
    return toks.select(
        F.col(id_col),
        F.size("_t").alias("n_words"),
        n_subwords("_t").alias("n_subwords"),
    ).filter(F.col("n_subwords") > 0)


def _bpe_replay_word(w: str, by_rank: dict, ranks_of: dict) -> list:
    """Heap-driven replay-in-order of a merge table over one word —
    the shared kernel of bpe_encode and bpe_encode_ids (see
    bpe_encode's docstring for the exactness argument). Returns the
    final symbol list."""
    import heapq

    syms = list(w)
    heap: list[int] = []
    for i in range(len(syms) - 1):
        for rk in ranks_of.get((syms[i], syms[i + 1]), ()):
            heapq.heappush(heap, rk)
    done = 0
    while heap:
        rk = heapq.heappop(heap)
        if rk <= done:
            continue
        done = rk
        a, b, merged = by_rank[rk]
        out: list = []
        i = 0
        changed = False
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(merged)
                i += 2
                changed = True
            else:
                out.append(syms[i])
                i += 1
        if changed:
            syms = out
            for i in range(len(syms) - 1):
                for rk2 in ranks_of.get((syms[i], syms[i + 1]), ()):
                    if rk2 > done:
                        heapq.heappush(heap, rk2)
    return syms


def bpe_vocab(
    df: DataFrame, merges: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The (symbol, token_id) vocabulary a trained merge table defines
    over a corpus: the corpus ALPHABET (distinct single characters of
    its tokens, sorted ascending) takes ids 0..A-1, then each merge's
    output symbol takes A+rank-1 — the GPT-2-style base-then-merges id
    assignment. A merge output that collides with an existing symbol
    string keeps the SMALLEST id (a vocab maps strings, so duplicates
    cannot get distinct ids). The alphabet aggregation is
    character-bounded (one distinct over ≤ alphabet-size rows after a
    scan-side explode); the merge side is model-scale."""
    spark = df.sparkSession
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    alpha = sorted(
        r["c"]
        # driver-bound: alphabet chars (charset-scale)
        for r in df.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .select(F.explode(chars).alias("c"))
        .distinct()
        .collect()
    )
    sym_id: dict[str, int] = {}
    for i, c in enumerate(alpha):
        sym_id[c] = i
    # driver-bound: merge table (model-scale)
    for r in merges.orderBy("rank").collect():
        sym = r["a"] + r["b"]
        sym_id.setdefault(sym, len(alpha) + int(r["rank"]) - 1)
    return spark.createDataFrame(
        sorted(sym_id.items(), key=lambda kv: kv[1]), "sym string, token_id int"
    )


def bpe_encode_ids(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_df: DataFrame | None = None,
) -> DataFrame:
    """The tokenizer output a training-data pipeline actually feeds to
    packing: (id, token_ids array<int>, n_tokens) — every doc's full
    post-merge symbol stream mapped through ``bpe_vocab``'s ids, words
    in order, symbols in order within each word.

    The heap replay of ``bpe_encode``, emitting ids instead of counts
    — same exactness argument, word→ids memoized per batch; the spec
    lives in q127's oracle, which replays the identical merge chain and
    id assignment in DuckDB, pinning this path end-to-end.
    One corpus scan, no shuffle; model state = merge table + vocab
    dict, collected once and closed over.

    ``vocab_df`` (a ``bpe_vocab`` result) freezes the vocabulary from a
    TRAIN corpus — required when ``df`` is a streaming DataFrame (the
    default derives the alphabet from ``df`` itself, which needs a
    collect), and the right call whenever train and apply corpora
    differ. Symbols outside the frozen vocab raise (OOV words cannot
    silently drop ids); a production alphabet should include every
    byte/char class the stream can produce."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # driver-bound: merge table (model-scale)
    mrows = merges.orderBy("rank").collect()
    by_rank: dict[int, tuple[str, str, str]] = {
        int(r["rank"]): (r["a"], r["b"], r["a"] + r["b"]) for r in mrows
    }
    ranks_of: dict[tuple[str, str], list[int]] = {}
    for r in mrows:
        ranks_of.setdefault((r["a"], r["b"]), []).append(int(r["rank"]))
    if vocab_df is None:
        vocab_df = bpe_vocab(df, merges, text_col=text_col)
    # driver-bound: vocab table (alphabet + merges, model-scale)
    vocab = {r["sym"]: r["token_id"] for r in vocab_df.collect()}

    # memo OUTSIDE the udf body: per-task lifetime (guide §4.5), so the
    # word replay amortizes across every batch a task sees, not per batch
    memo: dict[str, list] = {}

    def word_ids(w: str) -> list:
        got = memo.get(w)
        if got is None:
            got = memo[w] = [
                vocab[s] for s in _bpe_replay_word(w, by_rank, ranks_of)
            ]
        return got

    def _token_ids(tok_arrays):
        return tok_arrays.map(
            lambda toks: [tid for w in toks for tid in word_ids(w)]
        )

    _token_ids.__annotations__ = {"tok_arrays": pd.Series, "return": pd.Series}
    # asNondeterministic (guide §4.4 shape): a downstream posexplode gets
    # an inferred `size(col) > 0 AND isnotnull(col)` filter
    # (InferFiltersFromGenerate) on the UDF column; predicate pushdown
    # then re-evaluates the UDF below the filter AND in the projection —
    # TWO ArrowEvalPython nodes per row (observed in q127's plan). The
    # replay is pure, so blocking the duplication cannot change results;
    # the inferred filter itself is vacuous here (every kept doc has
    # >= 1 token and every token >= 1 symbol).
    token_ids = pandas_udf(_token_ids, "array<int>").asNondeterministic()

    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    )
    # spread a single-file scan so tokenize + replay parallelize; the
    # UDF is row-local, so regrouping rows cannot change any result
    toks = spread_scan(toks, df.sparkSession.sparkContext.defaultParallelism)
    # No-token docs drop AFTER the UDF (r11): the old
    # `.filter(F.size("_t") > 0)` pre-filter pushed below the tokenize
    # projection, re-evaluating the whole tokens() regex chain in the
    # Filter node — two tokenizations per row (no cross-operator
    # subexpression elimination; observed in q127's plan). token_ids is
    # nondeterministic, so THIS filter cannot be pushed below the UDF;
    # the row sets coincide because token_ids == [] iff _t == [] (every
    # word replays to >= 1 id). Parity pinned in tests/test_r11_opt.py.
    return (
        toks.select(
            F.col(id_col),
            token_ids("_t").alias("token_ids"),
        )
        .filter(F.size("token_ids") > 0)
        .withColumn("n_tokens", F.size("token_ids"))
    )


def bpe_decode_ids(
    ids_df: DataFrame,
    vocab_df: DataFrame,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
) -> DataFrame:
    """Detokenize: map a ``bpe_encode_ids`` stream back to text through
    the ``bpe_vocab`` table — (id, decoded, n_bad). Because merges only
    concatenate adjacent symbols within a word and the vocab maps each
    symbol string to one id, decode∘encode reproduces the normalized
    text with word boundaries elided (words were split on whitespace
    before encoding, so ``decoded == replace(norm, ' ', '')`` — the
    lossless-roundtrip identity q131's oracle pins end to end; callers
    who need word boundaries back should encode with a vocab whose
    alphabet includes an explicit word-end symbol).

    Scale: posexplode → broadcast join against the model-scale vocab →
    one groupBy keyed on the doc id (the only shuffle); the join stays
    JVM-side at any vocab size, unlike a map-literal lookup which would
    hit the expression-tree hazard at a 32k+ production vocab. Unknown
    ids decode to U+FFFD and are counted in ``n_bad`` instead of being
    silently dropped."""
    ex = ids_df.select(
        F.col(id_col), F.posexplode(ids_col).alias("pos", "token_id")
    )
    j = ex.join(
        F.broadcast(vocab_df.select("token_id", "sym")), "token_id", "left"
    )
    return j.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                lambda x: x["sym"],
            ),
            "",
            "�",
        ).alias("decoded"),
        F.sum(F.when(F.col("sym").isNull(), 1).otherwise(0)).alias("n_bad"),
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """One-call dataset card: per-source volume, token mass, emptiness,
    and internal exact-duplication — the summary table a corpus release
    ships next to its shards (and the drift input corpus_diff compares
    across releases).

    Columns per source: n_docs, n_tokens (normalized-token mass, NULL
    texts contribute nothing), n_chars (raw), n_empty (zero-token or
    NULL docs), n_dup_docs (docs whose normalized fingerprint is shared
    by >= 2 docs ANYWHERE in the corpus — cross-source duplication
    counts against both sources), pct_tokens (share of corpus tokens,
    6-decimal).

    Scale shape: one text scan projects (source, digest, n_tokens,
    n_chars); the duplicate flag joins that projection against the
    digest-count table (shuffles carry digests + counts, never text);
    the final aggregate is source-bounded and the corpus-total window
    runs on those few rows.
    """
    nt = F.when(
        F.col(text_col).isNull(), F.lit(None).cast("int")
    ).otherwise(F.size(tokens(F.col(text_col))))
    base = df.select(
        F.col(source_col).alias("source"),
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("dig"),
        nt.alias("nt"),
        F.length(F.col(text_col)).alias("nc"),
    )
    dupc = base.filter(F.col("dig").isNotNull()).groupBy("dig").agg(
        F.count(F.lit(1)).alias("n_same")
    )
    # the digest-count side is doc-cardinality — never broadcast it;
    # the equi-join shuffles (digest, count) rows only, text stays out
    marked = base.join(dupc, "dig", "left")
    agg = marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("nt"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce(F.sum("nc"), F.lit(0)).cast("bigint").alias("n_chars"),
        F.count(F.when(F.coalesce(F.col("nt"), F.lit(0)) == 0, 1)).alias("n_empty"),
        F.count(F.when(F.col("n_same") >= 2, 1)).alias("n_dup_docs"),
    )
    from pyspark.sql import Window

    total = F.sum("n_tokens").over(Window.partitionBy())
    pct = F.when(total == 0, F.lit(0.0)).otherwise(
        F.col("n_tokens").cast("double") / total.cast("double")
    )
    return agg.select(
        "source", "n_docs", "n_tokens", "n_chars", "n_empty", "n_dup_docs",
        pct.alias("pct_tokens"),
    )


def length_bucket_report(
    df: DataFrame,
    boundaries: tuple[int, ...] = (32, 64, 128, 256),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-bucketed batching efficiency: assign every document the
    smallest bucket boundary >= its whitespace-token count (documents
    longer than the largest boundary are truncated to it), and report
    per bucket how much of the padded capacity is real tokens — the
    metric behind sequence-bucketing decisions in training/inference
    batch builders (uniform max_len wastes compute as padding; buckets
    recover it).

    Output per bucket: n_docs, token_mass (after truncation), pad_mass,
    efficiency = token_mass / (n_docs * bucket capacity).

    Scale shape: one scan, one <=len(boundaries)-group aggregation; all
    masses are exact BIGINT sums (order-independent partial aggregation)
    so the efficiency ratio is bit-identical across engines.
    """
    bs = sorted(int(b) for b in boundaries)
    n = token_count(F.col(text_col))
    bucket = F.lit(bs[-1])
    for b in reversed(bs[:-1]):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    t = F.least(n, F.lit(bs[-1])).cast("long")
    per = df.select(bucket.alias("bucket"), t.alias("t"))
    from ticktock_spark.queries import q6

    return (
        per.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("token_mass"),
            F.sum(F.col("bucket").cast("long") - F.col("t")).alias("pad_mass"),
        )
        .select(
            "bucket",
            "n_docs",
            "token_mass",
            "pad_mass",
            q6(
                F.col("token_mass").cast("double")
                / (F.col("token_mass") + F.col("pad_mass")).cast("double")
            ).alias("efficiency"),
        )
    )


def zipf_alpha(
    df: DataFrame,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Zipf exponent of the corpus unigram distribution: OLS fit of
    ln(count) = intercept - alpha * ln(rank) over the ``top_k`` most
    frequent tokens. Natural corpora sit near alpha = 1; a collapsed
    alpha flags template/boilerplate floods, an inflated one flags
    tiny-vocabulary degeneration — a one-row vocabulary-health gate for
    intake monitoring (pairs with q103's vocab size and q98's drift).

    Scale shape: token counts are one scan + one token-key aggregation;
    the top_k cut is TakeOrdered (orderBy+limit — never a global rank
    over the full vocabulary); the regression runs over <= top_k rows.
    Engine exactness: ln values are canonicalized to integer micro-units
    and every OLS sum is an exact BIGINT (order-independent), so the
    final slope/intercept doubles are bit-identical to the SQL oracle
    (the q136 integer-micro-unit pattern; bounds: n*Sxy < 1.3e18 fits
    BIGINT for top_k <= a few hundred).
    """
    from pyspark.sql import Window

    from ticktock_spark.queries import q6

    v = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    top = v.orderBy(F.col("n_occ").desc(), F.col("tok")).limit(int(top_k))
    w = Window.orderBy(F.col("n_occ").desc(), F.col("tok"))
    r = top.select(F.row_number().over(w).alias("rank"), "n_occ")

    def micro(c):
        return F.floor(F.log(c.cast("double")) * F.lit(1_000_000.0) + F.lit(0.5)).cast(
            "long"
        )

    m = r.select(micro(F.col("rank")).alias("xi"), micro(F.col("n_occ")).alias("yi"))
    s = m.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xi").alias("sx"),
        F.sum("yi").alias("sy"),
        F.sum(F.col("xi") * F.col("yi")).alias("sxy"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / F.lit(1_000_000.0)
    )
    return s.select(
        F.col("n").alias("n_tokens"),
        q6(-slope).alias("alpha"),
        q6(intercept).alias("intercept"),
    )


def pmi_collocations(
    df: DataFrame,
    top_k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    token pairs: pmi(w1, w2) = log2(n(w1,w2) * N / (n(w1,.) * n(.,w2))),
    the classic phrase/multi-word-expression signal (and the statistic
    BPE-style merge pickers approximate). ``min_count`` guards the PMI
    low-frequency pathology (a pair seen once between two hapaxes maxes
    the score); top_k by quantized PMI, ties by (w1, w2).

    Engine exactness: PMI is one log2 of a product/quotient of exact
    integer counts, composed in the same operation order as the SQL
    oracle, then q6-quantized before ranking.

    Scale shape: adjacent pairs explode scan-side into ONE
    map-side-combined (w1, w2) count aggregation; that distinct-pair
    frame is persisted (narrow — bounded by distinct pairs, not corpus
    tokens) because the grand total N is a one-number driver aggregate
    of it (the corpus_stats pattern) and the margin totals are two
    stacked unordered windows over it (w1, then w2 — the linear
    no-self-join shape bigram_lm_table documents). Same CacheManager
    note as bm25_topk: long-lived sessions reclaim with
    spark.catalog.clearCache().
    """
    from pyspark.sql import Window

    from ticktock_spark.queries import q6

    counts = (
        df.select(F.explode(_bigram_pair_array(F.col(text_col))).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    # driver-bound: single grand-total scalar
    total = counts.agg(F.sum("n")).collect()[0][0] or 0
    left = F.sum("n").over(Window.partitionBy("w1"))
    right = F.sum("n").over(Window.partitionBy("w2"))
    scored = counts.select(
        "w1",
        "w2",
        "n",
        q6(
            F.log2(
                (F.col("n").cast("double") * F.lit(float(total)))
                / (left.cast("double") * right.cast("double"))
            )
        ).alias("pmi"),
    )
    return (
        scored.filter(F.col("n") >= min_count)
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_k)
    )


def langid_margin(
    df: DataFrame, min_margin: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Language-ID with a confidence margin: the stopword-hit argmax
    (lang_id) plus the gap between the best and second-best language's
    hit counts. CCNet-style pipelines keep the classifier CONFIDENCE
    next to the label and route low-margin docs (mixed-language pages,
    short fragments, code) to a separate bucket instead of trusting the
    argmax. ``confident`` = labeled (not 'und') and margin >= min_margin.

    All columns are exact integers (hit counts and their difference) or
    string/boolean functions of them — engine-identical by construction.
    Scale shape: pure scan-side expressions, no shuffle at all.
    """
    scores = lang_scores(F.col(text_col))
    arr = F.sort_array(F.array(*[scores[lang] for lang in sorted(scores)]))
    top = F.element_at(arr, -1)
    second = F.element_at(arr, -2)
    lang = lang_id(F.col(text_col))
    return df.select(
        F.col(id_col),
        lang.alias("lang_pred"),
        top.cast("long").alias("top_hits"),
        (top - second).cast("long").alias("margin"),
        ((lang != F.lit("und")) & ((top - second) >= F.lit(int(min_margin)))).alias(
            "confident"
        ),
    )


def script_report(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode-script detection: per-doc Latin / Han / Cyrillic letter
    counts, total letters, and the dominant script — the complement to
    the stopword language ID (which only separates Latin-script
    languages; CJK/Cyrillic text needs the script signal first, then a
    within-script language model). Ties break Cyrillic < Han < Latin
    (alphabetical, mirroring lang_id's smallest-code rule); docs with
    no letters at all are 'none'.

    Pure scan-side regexp counts — exact integers, zero shuffle. The
    \\p{{script}} classes agree between Java regex (Spark) and RE2
    (DuckDB oracle); parity is exercised by the q162 differential.
    """
    counts = {
        "cyrillic": F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(r"\p{IsCyrillic}"), 0)
        ),
        "han": F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\p{IsHan}"), 0)),
        "latin": F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(r"\p{IsLatin}"), 0)
        ),
    }
    letters = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\p{L}"), 0))
    best = None
    for name in sorted(counts):
        pair = F.struct(counts[name].alias("s"), F.lit(name).alias("l"))
        best = (
            pair
            if best is None
            else F.when(counts[name] > best["s"], pair).otherwise(best)
        )
    script = F.when(letters <= 0, F.lit("none")).otherwise(
        F.when(best["s"] <= 0, F.lit("other")).otherwise(best["l"])
    )
    return df.select(
        F.col(id_col),
        counts["latin"].cast("long").alias("n_latin"),
        counts["han"].cast("long").alias("n_han"),
        counts["cyrillic"].cast("long").alias("n_cyrillic"),
        letters.cast("long").alias("n_letters"),
        script.alias("script"),
    )


def length_gini(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gini coefficient of a size column per group — the inequality
    number behind mixture design: a source whose token mass sits in a
    few giant documents behaves very differently under doc-level
    sampling/packing than one with the same total spread evenly, and
    per-group means (q119/q140) cannot tell them apart.

    G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the group's docs sorted by
    (value, id). All three sums are exact integers (DECIMAL(38)); ties
    in the value make Σ i·xᵢ invariant to tiebreak order, so the rank
    join is engine-stable. One scan + one per-group window sort + one
    agg; window partitions are group-sized.

    Output: (group, n_docs, sum, gini) — gini in [0, 1), 6-decimal;
    zero-mass groups are dropped.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    dec = "decimal(38,0)"
    r = df.select(
        group_col,
        F.col(value_col).cast("long").alias("x"),
        F.row_number().over(w).alias("i"),
    )
    m = r.groupBy(group_col).agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("i").cast(dec) * F.col("x").cast(dec)).alias("si"),
    )
    q6 = lambda c: F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0  # noqa: E731
    gini = (
        F.lit(2) * F.col("si") - (F.col("n") + F.lit(1)) * F.col("sx")
    ).cast("double") / (F.col("n") * F.col("sx")).cast("double")
    return m.filter(F.col("sx") > 0).select(
        group_col,
        F.col("n").cast("long").alias("n_docs"),
        F.col("sx").cast("long").alias("sum"),
        q6(gini).alias("gini"),
    )


def source_word_entropy(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Shannon entropy (nats) of the word-unigram distribution per
    group — the diversity number that separates a source repeating ten
    templates from one with genuine variety at the same vocabulary size
    (q62's per-doc TTR can't see across documents; this is the
    corpus-level complement).

    H = ln T − (Σ_w c_w·⌊ln c_w·10⁶⌉)/（T·10⁶) with the per-word log
    FLOORED to integer micro-nats before the (DECIMAL(38), order-free)
    weighted sum — the zipf_alpha discipline that keeps Σ c·ln c
    bit-identical across engines and aggregation orders; the micro-
    quantization of each ln is part of the spec (error < 1e-6 nat per
    term). One scan + one vocabulary-bounded (group, word) groupBy +
    one group-sized reduction.

    Output: (group, n_tokens, vocab, entropy).
    """
    # r11: empty-norm docs are dropped by a post-explode tok != ''
    # filter instead of a pre-filter on length(norm) — the pre-filter
    # form evaluated the whole normalize_text regex chain TWICE per row
    # (once in the Filter node, once in the Generate input; no
    # cross-operator subexpression elimination). Equivalent because
    # normalize_text output is trimmed with single interior spaces: a
    # nonempty norm never splits into an empty token, an empty norm
    # splits into exactly [''], and NULL text yields a NULL array that
    # explode drops under both forms (parity pinned in
    # tests/test_r11_opt.py). Measured 0.90 → 0.52 s at sf0.1 (the
    # regex chain is the whole cost of this stage). A spread_scan here
    # was A/B-measured and REJECTED: the extra round-robin stage costs
    # more than the single-task explode saves at bench scale, and at
    # 100 TB it is a no-op anyway.
    toks = F.explode(
        F.split(normalize_text(F.col(text_col)), r"\s+")
    ).alias("tok")
    t = (
        df.select(group_col, toks)
        .filter(F.col("tok") != "")
    )
    c = t.groupBy(group_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    dec = "decimal(38,0)"
    ln_micro = F.floor(
        F.log(F.col("c").cast("double")) * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast(dec)
    m = c.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("c").cast(dec)).alias("t"),
        F.sum(F.col("c").cast(dec) * ln_micro).alias("sl"),
    )
    q6 = lambda col: F.floor(col * 1000000.0 + F.lit(0.5)) / 1000000.0  # noqa: E731
    ent = F.log(F.col("t").cast("double")) - F.col("sl").cast("double") / (
        F.col("t").cast("double") * F.lit(1_000_000.0)
    )
    return m.select(
        group_col,
        F.col("t").cast("long").alias("n_tokens"),
        "vocab",
        q6(ent).alias("entropy"),
    )


def vocab_coverage(
    df: DataFrame,
    ks: list[int] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-sizing curve: for each vocabulary budget K, the exact
    fraction of the corpus' TOKEN MASS covered by the K most frequent
    words (ties by word, which cannot change the mass — tied words
    contribute identical counts). vocab_size_stats says how many types
    exist; this says what a budget BUYS: "50k words cover 97.3% of
    tokens" is the number that picks a vocab size / character-fallback
    rate before a BPE train (q112) is ever run.

    Output: (k, vocab_size, total_tokens, covered_tokens, coverage) —
    one row per K, coverage 6-decimal; covered_tokens is exact.

    Scale shape — NO global vocabulary sort: word counts reduce to the
    COUNT-OF-COUNTS frame (one row per distinct frequency value — a few
    thousand rows under any Zipf-ish corpus, log-bounded), the
    cumulative walk runs a window over that tiny frame, and each K
    resolves against its boundary frequency tier: every word inside a
    tier has the same count, so coverage(K) = mass of all
    higher-frequency tiers + (K − words_above) × tier_count. Exact
    integer arithmetic end-to-end; the single-partition window is over
    the count-of-counts frame only, never the vocabulary.
    """
    from pyspark.sql import Window

    ks = list(ks) if ks is not None else [1_000, 10_000, 50_000]
    if len(set(ks)) != len(ks) or any(
        not isinstance(k, int) or isinstance(k, bool) or k <= 0 for k in ks
    ):
        # a K <= 0 matches no boundary tier and would silently VANISH
        # from the output (a shorter frame instead of an error), and a
        # duplicate K double-counts its row — fail loudly at build time
        # (the value_precision_audit guard style)
        raise ValueError(
            f"vocab_coverage: ks={ks!r} must be distinct positive ints"
        )
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cc = counts.groupBy("c").agg(
        F.count(F.lit(1)).alias("n_words"),
        (F.count(F.lit(1)) * F.col("c")).alias("mass"),
    )
    w = Window.orderBy(F.col("c").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cc.select(
        "c",
        "n_words",
        F.sum("n_words").over(w).alias("cw"),
        F.sum("mass").over(w).alias("cm"),
        F.sum("n_words").over(Window.partitionBy()).alias("vocab"),
        F.sum(F.col("mass")).over(Window.partitionBy()).alias("total"),
    )
    ks_df = df.sparkSession.createDataFrame([(int(k),) for k in ks], "k long")
    # boundary tier for K: the unique row with cw − n_words < K ≤ cw
    # (clamped to the last tier when K ≥ vocab)
    kk = F.least(F.col("k"), F.col("vocab"))
    hit = cum.join(
        F.broadcast(ks_df),
        (F.col("cw") - F.col("n_words") < F.least(F.col("k"), F.col("vocab")))
        & (F.least(F.col("k"), F.col("vocab")) <= F.col("cw")),
    )
    covered = (
        F.col("cm")
        - F.col("n_words") * F.col("c")
        + (kk - (F.col("cw") - F.col("n_words"))) * F.col("c")
    )
    q6 = lambda x: F.floor(x * 1000000.0 + F.lit(0.5)) / 1000000.0  # noqa: E731
    return hit.select(
        "k",
        F.col("vocab").cast("long").alias("vocab_size"),
        F.col("total").cast("long").alias("total_tokens"),
        covered.cast("long").alias("covered_tokens"),
        q6(covered.cast("double") / F.col("total").cast("double")).alias(
            "coverage"
        ),
    )
