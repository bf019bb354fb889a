"""Pipeline-layer query catalog (documents / embeddings tables) with
DuckDB oracle twins.

Registered into the same QUERIES/ORACLES registry as the TSDB catalog
(import this module for its side effects). Portability notes:

- DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all;
- md5() is the shared hash everywhere (hex string; lexicographic min is a
  valid MinHash permutation — no bit fiddling needed);
- list comprehensions mirror Spark's transform/aggregate higher-order
  functions; both fold left-to-right so double sums are bit-stable;
- outputs avoid array columns (driver hash + pandas comparison friendly).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ticktock_spark.pipeline import dedup as dd
from ticktock_spark.pipeline import multimodal as mm
from ticktock_spark.pipeline import similarity as sim
from ticktock_spark.pipeline import text as tx
from ticktock_spark.queries import _Q6, BENCH_ONLY, _table, q6, register

# --- shared SQL fragments (DuckDB) mirroring text.py expressions ---

_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_STOP = {
    "en": "the|and|of|to|in|is|that|it|was|for",
    "de": "der|die|das|und|ist|nicht|ein|mit|auf|sich",
    "fr": "le|la|les|et|est|pas|une|dans|que|pour",
    "es": "el|la|los|y|es|no|una|en|que|por",
}
_SW = {
    lang: f"len(regexp_extract_all(lower(text), '\\b({words})\\b', 0))"
    for lang, words in _STOP.items()
}
_TOKS = (
    "CASE WHEN length(trim(text)) = 0 THEN 0"
    " ELSE len(string_split_regex(trim(text), '\\s+')) END"
)
_PUNCT = "len(regexp_extract_all(text, '[^\\sA-Za-z0-9]', 0))"
_SHINGLES = (
    f"list_distinct([substr(norm, i, 5) for i in"
    f" generate_series(1, greatest(length(norm) - 4, 1))])"
)


def _lang_case() -> str:
    s = {l: f"s_{l}" for l in sorted(_STOP)}
    mx = f"greatest({', '.join(s.values())})"
    chain = " ".join(f"WHEN {v} = {mx} THEN '{l}'" for l, v in s.items())
    return f"CASE WHEN {mx} <= 0 THEN 'und' {chain} END"


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@register(
    "q30_text_stats",
    f"""
    WITH s AS (
      SELECT doc_id, {_TOKS} AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]{{1,4}}|[0-9]|[^\\sA-Za-z0-9]', 0))
               AS n_bpe_tokens,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST({_PUNCT} AS DOUBLE) / length(text) END AS pr,
             {_SW['en']} AS sw
      FROM documents
    )
    SELECT doc_id, n_tokens, n_bpe_tokens,
           {_Q6.format(x='pr')} AS punct_ratio,
           {_Q6.format(x='''greatest(0.0, least(1.0,
             0.5 * (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(sw AS DOUBLE) / n_tokens END) * 5.0
             + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
             + 0.2 * (1.0 - pr * 4.0)))''')} AS quality
    FROM s
    """,
)
def q30(spark, sf_dir):
    """Per-document whitespace + BPE-ish token counts, punctuation ratio,
    quality score — one scan, pure JVM expressions (pipeline/text.py)."""
    from ticktock_spark.pipeline.util import spread_scan

    # spread_scan (r11, guide §2.5): the stat set is a pure per-doc
    # projection (5 regex evaluations per row), which a single-file
    # scan runs entirely on one core; row-local, so regrouping cannot
    # change any output row. No-op at scale. Interleaved A/B at
    # sf0.1/local[32]: 0.68 → 0.48 s.
    d = spread_scan(
        _table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark.sparkContext.defaultParallelism,
    )
    t = F.col("text")
    return d.select(
        "doc_id",
        tx.token_count(t).alias("n_tokens"),
        tx.bpe_ish_token_count(t).alias("n_bpe_tokens"),
        q6(tx.punct_ratio(t)).alias("punct_ratio"),
        q6(tx.quality_score(t)).alias("quality"),
    )


@register(
    "q31_langid_confusion",
    f"""
    WITH s AS (
      SELECT lang,
             {_SW['de']} AS s_de, {_SW['en']} AS s_en,
             {_SW['es']} AS s_es, {_SW['fr']} AS s_fr
      FROM documents
    )
    SELECT lang, {_lang_case()} AS lang_pred, count(*) AS cnt
    FROM s GROUP BY 1, 2
    """,
)
def q31(spark, sf_dir):
    """Stopword-heuristic language ID vs the labeled lang column
    (confusion-matrix counts)."""
    d = _table(spark, sf_dir, "documents")
    return (
        d.select("lang", tx.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q32_fingerprint",
    f"""
    WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents)
    SELECT md5(norm) AS fingerprint, min(doc_id) AS canonical_id,
           count(*) AS n_docs
    FROM n GROUP BY 1
    """,
)
def q32(spark, sf_dir):
    """Normalized-text fingerprint groups (rolling-hash-style doc
    identity; md5 over the canonical form)."""
    d = _table(spark, sf_dir, "documents")
    return (
        d.select(tx.fingerprint(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

@register(
    "q33_exact_dedup",
    """
    SELECT md5(text) AS digest, min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q33(spark, sf_dir):
    """Exact dedup: identical bytes → one group (hash-groupBy; shuffle
    carries digests, never text)."""
    d = _table(spark, sf_dir, "documents")
    return dd.exact_dedup(d).select("digest", "canonical_id", "n_copies")


def _minhash_cte(
    cand_cond: str = "a.doc_id < b.doc_id",
    src: str = "documents",
    shingle_expr: str | None = None,
) -> str:
    # the md5 MinHash scheme of pipeline/dedup.py: h_j = min over
    # shingles of the j-th 8-hex slice of md5('0:'||s) || md5('1:'||s)
    hs = ",\n             ".join(
        f"list_aggregate([substr(c, {j * 8 + 1}, 8) for c in cats], 'min') AS h{j}"
        for j in range(8)
    )
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, md5('b{b}:' || h{2*b} || h{2*b+1}) AS key FROM sig"
        for b in range(4)
    )
    sh_expr = shingle_expr or _SHINGLES
    return f"""
    WITH n AS (SELECT doc_id, {_NORM} AS norm FROM {src}),
    sh AS (SELECT doc_id, {sh_expr} AS sh FROM n),
    ct AS (SELECT doc_id, [md5('0:' || s) || md5('1:' || s) for s in sh] AS cats FROM sh),
    sig AS (
      SELECT doc_id,
             {hs}
      FROM ct
    ),
    bands AS (
      {bands}
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND {cand_cond}
      GROUP BY 1, 2
    )"""


def _minhash_sql() -> str:
    return _minhash_cte() + "\n    SELECT id_a, id_b, n_bands FROM cand"


@register("q34_minhash_lsh", _minhash_sql())
def q34(spark, sf_dir):
    """MinHash(8 hashes)+LSH(4 bands × 2 rows) candidate pairs
    (pipeline/dedup.py) — the scale path for near-dup at 100 TB."""
    d = _table(spark, sf_dir, "documents")
    return dd.minhash_lsh_candidates(d, num_hashes=8, bands=4)


def q34x(spark, sf_dir):
    """q34 with engine='xxh64' and bucket_cap=256: all-JVM xxhash64
    signatures — no Python workers, no Arrow text transfer — plus the
    viral-bucket backstop (256 = the SCALE.md-measured cap). Same
    workload as q34 for a direct bench comparison of the two engines.

    BENCH-ONLY, deliberately outside the driver-verified registry
    (round-6 decision, per the r5 verdict): the candidate SET is
    hash-family-specific and DuckDB has no xxhash64, so the only driver
    check possible is a weak rows-only one that surfaces as a permanent
    non-green row. Exactness of this operator+engine is pinned instead
    by q99's structural oracle (jaccard=1.0 recall is 100% under ANY
    hash family) and test_dedup_pipeline_xxh64_matches_md5's
    verified-output parity; the bucket_cap backstop is excluded from an
    exact oracle on principle — it intentionally trades recall on
    viral (>cap) buckets, so no hash-invariant exact oracle exists."""
    d = _table(spark, sf_dir, "documents")
    return dd.minhash_lsh_candidates(
        d, num_hashes=8, bands=4, engine="xxh64", bucket_cap=256
    )


BENCH_ONLY["q34x_minhash_xxh64"] = q34x


@register(
    "q35_ngram_jaccard",
    _minhash_cte()
    + f"""
    , j AS (
      SELECT id_a, id_b,
             len(list_intersect(sa.sh, sb.sh)) AS inter,
             len(sa.sh) AS na, len(sb.sh) AS nb
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, inter,
           {_Q6.format(x='CAST(inter AS DOUBLE) / (na + nb - inter)')} AS jaccard
    FROM j
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2
    """,
)
def q35(spark, sf_dir):
    """Candidate→verify near-dup pipeline: exact 5-gram Jaccard ≥ 0.2
    computed ONLY on MinHash-LSH candidate pairs. The all-pairs
    shared-shingle join (dedup.ngram_jaccard_pairs) is quadratic in the
    frequency of common shingles and is kept for small corpora/tests;
    this composition is the 100 TB shape."""
    d = _table(spark, sf_dir, "documents")
    # NB: measured — persisting the shared shingle frame is a net LOSS
    # here (caching the large array<string> column costs more than the
    # second scan-side recompute); recompute stays in the scan stage.
    cand = dd.minhash_lsh_candidates(d, num_hashes=8, bands=4)
    out = dd.verify_jaccard(d, cand, threshold=0.2)
    return out.select("id_a", "id_b", "inter", q6(F.col("jaccard")).alias("jaccard"))


def _simhash_sql() -> str:
    bits = " || ".join(
        "(CASE WHEN coalesce(list_sum([CASE WHEN substr(md5(t), %d, 1) >= '8'"
        " THEN 1 ELSE -1 END for t in toks]), 0) >= 0 THEN '1' ELSE '0' END)" % i
        for i in range(1, 33)
    )
    return f"""
    WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    tk AS (SELECT doc_id, regexp_extract_all(norm, '[a-z0-9]+', 0) AS toks FROM n)
    SELECT {bits} AS simhash, min(doc_id) AS canonical_id, count(*) AS n_docs
    FROM tk GROUP BY 1
    """


@register("q36_simhash", _simhash_sql())
def q36(spark, sf_dir):
    """32-bit SimHash near-dup buckets (one bit per md5 nibble vote) —
    pure expressions, no UDF (pipeline/dedup.py:simhash32)."""
    d = _table(spark, sf_dir, "documents")
    return dd.simhash_dedup(d).select("simhash", "canonical_id", "n_docs")


@register(
    "q37_embedding_neardup",
    f"""
    WITH a AS (SELECT vec_id, embedding FROM embeddings),
    scored AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {{cos}} AS cosine
      FROM a, a b
      WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.35
    """.format(
        cos=_Q6.format(
            x="(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
            " for i in generate_series(1, len(a.embedding))]))"
            " / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)"
            " for i in generate_series(1, len(a.embedding))]))"
            " * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
            " for i in generate_series(1, len(b.embedding))])))"
        )
    ),
)
def q37(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.35 on the
    6-decimal-canonical value). Exact all-pairs, computed as a DISTRIBUTED
    block-pair (triangle) join: rows are hashed into blocks, every block
    pair becomes one bounded task scoring its cross product in numpy with
    fold-order-exact accumulation (similarity.cosine_neardup_pairs) — the
    corpus never touches the driver and no broadcast of the corpus
    happens. For corpora where even blocked O(n²) is too much, prune
    candidates first (IVF buckets q41 / SRP-LSH q43) and run the same
    exact kernel only within buckets."""
    e = _table(spark, sf_dir, "embeddings")
    return sim.cosine_neardup_pairs(e, threshold=0.35)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_DOT = (
    "list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, len(c.embedding))])"
)
_NRM_C = (
    "sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, len(c.embedding))]))"
)
_NRM_Q = (
    "sqrt(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, len(q.embedding))]))"
)


@register(
    "q40_knn_cosine",
    f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             {_Q6.format(x=f'({_DOT}) / ({_NRM_C} * {_NRM_Q})')} AS cosine
      FROM embeddings c, embeddings q
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ), ranked AS (
      SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
    """,
)
def q40(spark, sf_dir):
    """Brute-force cosine top-10 for 5 query vectors — broadcast queries,
    one corpus scan scored via the numpy block kernel (fold-order-exact,
    see similarity.cosine_scores); ranking on the quantized cosine with
    vec_id tiebreak so order is engine-stable."""
    e = _table(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # per-block top-10 INSIDE the Arrow kernel (r12, the q190 argmax
    # move generalized to k): any global top-10 row is in its block's
    # top-10 under the same (cosine DESC, vec_id ASC) total order, so
    # the row_number cut below selects exactly what it selected over
    # the full |corpus| x |queries| table while only blocks x 10 x
    # |queries| rows cross Arrow and the window exchange.
    scored = sim.cosine_topk_partials(e, q, k=10)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)


_CENT_DOT = (
    "list_sum([CAST(q.embedding[i] AS DOUBLE) * centroid[i]"
    " for i in generate_series(1, len(q.embedding))])"
)
_CENT_NRM = (
    "sqrt(list_sum([centroid[i] * centroid[i]"
    " for i in generate_series(1, len(centroid))]))"
)


@register(
    "q41_ann_ivf",
    f"""
    WITH ex AS (
      SELECT label, unnest(generate_series(1, len(embedding))) AS i,
             unnest(embedding) AS x
      FROM embeddings
    ),
    cm AS (SELECT label, i, avg(CAST(x AS DOUBLE)) AS c FROM ex GROUP BY 1, 2),
    cent AS (SELECT label, list(c ORDER BY i) AS centroid FROM cm GROUP BY 1),
    ps AS (
      SELECT q.vec_id AS query_id, cent.label,
             ({_CENT_DOT}) / ({_NRM_Q} * {_CENT_NRM}) AS cscore
      FROM embeddings q, cent
      WHERE q.vec_id < 5
    ),
    probes AS (
      SELECT query_id, label FROM (
        SELECT query_id, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cscore DESC, label) AS r
        FROM ps
      ) WHERE r <= 2
    ),
    scored AS (
      SELECT p.query_id, c.vec_id,
             {_Q6.format(x=f'({_DOT}) / ({_NRM_C} * {_NRM_Q})')} AS cosine
      FROM probes p
      JOIN embeddings c ON c.label = p.label
      JOIN embeddings q ON q.vec_id = p.query_id
      WHERE c.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
    """,
)
def q41(spark, sf_dir):
    """IVF-bucketed approximate nearest neighbors: probe 2 of the label
    buckets per query, exact cosine within (pipeline/similarity.py).
    Ranking is on the 6-decimal-quantized cosine with vec_id tiebreak, so
    the DuckDB oracle (same groupBy-avg centroids, same probe rule)
    reproduces the output exactly."""
    e = _table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    out = sim.ivf_knn(e, q, k=10, nprobe=2)
    return out.select("query_id", "vec_id", F.col("cosine"), "rank")


_SRP_PLANE = (
    "(CASE WHEN substr(md5('srp:7:' || b || ':' || (i-1)), 1, 1) >= '8'"
    " THEN 1.0 ELSE -1.0 END)"
)


@register(
    "q43_ann_srp_lsh",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    proj AS (
      SELECT vec_id, b,
             list_sum([{_SRP_PLANE} * CAST(embedding[i] AS DOUBLE)
                       for i in generate_series(1, len(embedding))]) AS p
      FROM e, generate_series(0, 7) t(b)
    ),
    sig AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN p >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY 1
    ),
    probes AS (
      SELECT s.vec_id AS query_id,
             CASE WHEN g.k = -1 THEN s.bucket
                  ELSE xor(s.bucket, CAST(1 << g.k AS BIGINT)) END AS bucket
      FROM sig s, generate_series(-1, 7) g(k)
      WHERE s.vec_id < 5
    ),
    cand AS (
      SELECT p.query_id, cs.vec_id
      FROM probes p JOIN sig cs ON cs.bucket = p.bucket
      WHERE cs.vec_id <> p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             {_Q6.format(x=f'({_DOT}) / ({_NRM_C} * {_NRM_Q})')} AS cosine
      FROM cand
      JOIN embeddings c ON c.vec_id = cand.vec_id
      JOIN embeddings q ON q.vec_id = cand.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
    """,
)
def q43(spark, sf_dir):
    """Sign-random-projection LSH approximate kNN: deterministic
    md5-derived ±1 hyperplanes (similarity.srp_planes) bucket the corpus,
    queries probe their bucket plus all Hamming-1 neighbors, exact cosine
    only within probed buckets (pipeline/similarity.py:srp_lsh_knn).
    Projections accumulate in left-to-right fold order, so the DuckDB
    oracle computes bit-identical buckets and the full output hashes
    equal; recall vs brute force is pinned in tests/test_pipeline.py."""
    e = _table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    out = sim.srp_lsh_knn(e, q, k=10, nbits=8)
    return out.select("query_id", "vec_id", F.col("cosine"), "rank")


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

@register(
    "q42_multimodal_decode",
    f"""
    WITH m AS (SELECT doc_id, length(text) AS n, md5(text) AS h FROM documents)
    SELECT doc_id,
           CAST(n % 64 + 16 AS INTEGER) AS width,
           CAST(n % 48 + 16 AS INTEGER) AS height,
           {_Q6.format(x='''(CAST(4 * list_sum(
             [16 * (strpos('0123456789abcdef', substr(h, 2*i-1, 1)) - 1)
                 + (strpos('0123456789abcdef', substr(h, 2*i, 1)) - 1)
              for i in generate_series(1, 16)]) AS DOUBLE) / 64.0)''')} AS mean_byte
    FROM m
    """,
)
def q42(spark, sf_dir):
    """Binary media column + Pandas-UDF decode/featurize plumbing over
    mapInPandas; payloads synthesized deterministically (media libs absent
    — decode stubbed, see pipeline/multimodal.py). The fake payload is the
    md5 digest bytes ×4, so the byte-histogram features ARE expressible in
    SQL: the oracle recomputes mean_byte from the digest's hex nibbles."""
    d = _table(spark, sf_dir, "documents")
    media = mm.attach_fake_media(d)
    out = mm.decode_and_featurize(media)
    return out.select("doc_id", "width", "height", q6(F.col("mean_byte")).alias("mean_byte"))


# ---------------------------------------------------------------------------
# sampling / splitting (pipeline/sample.py)
# ---------------------------------------------------------------------------

from ticktock_spark.pipeline import cluster as cl  # noqa: E402
from ticktock_spark.pipeline import sample as sp  # noqa: E402
from ticktock_spark.pipeline import sessions as ss  # noqa: E402

_RATES = {"en": 0.5, "zh": 0.25}
_DEFAULT_RATE = 1.0


def _strat_case() -> str:
    arms = " ".join(
        f"WHEN lang = '{v}' THEN '{sp._thr(r)}'" for v, r in sorted(_RATES.items())
    )
    return f"CASE {arms} ELSE '{sp._thr(_DEFAULT_RATE)}' END"


@register(
    "q44_stratified_sample",
    f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8) < {_strat_case()}
    """,
)
def q44(spark, sf_dir):
    """Deterministic per-language downsampling (keep 50% en, 25% zh,
    100% tail) — pure scan-side md5-threshold filter, no shuffle, stable
    under retries/repartitioning (pipeline/sample.py)."""
    d = _table(spark, sf_dir, "documents")
    return sp.stratified_sample(
        d, rates=_RATES, strata_col="lang", default_rate=_DEFAULT_RATE
    ).select("doc_id", "lang", "source")


_WEIGHTS = {"train": 0.8, "valid": 0.1, "test": 0.1}


def _split_case() -> str:
    arms, prev = [], None
    for name, hi in sp.split_boundaries(_WEIGHTS):
        h = "substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)"
        cond = f"{h} < '{hi}'" if hi != "g" * 8 else "TRUE"
        arms.append(f"WHEN {cond} THEN '{name}'")
    return "CASE " + " ".join(arms) + " END"


@register(
    "q45_train_test_split",
    f"""
    WITH s AS (SELECT lang, n_chars, {_split_case()} AS split FROM documents)
    SELECT split, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM s GROUP BY 1, 2
    """,
)
def q45(spark, sf_dir):
    """Deterministic train/valid/test assignment (80/10/10 by hashed id;
    contiguous hash ranges in sorted-name order) + per-split language
    composition. Adding documents never reassigns existing ones."""
    d = _table(spark, sf_dir, "documents")
    out = sp.split_assign(d, _WEIGHTS)
    return out.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


# ---------------------------------------------------------------------------
# sessionization (pipeline/sessions.py, events table)
# ---------------------------------------------------------------------------

_GAP_MS = 14_400_000  # 4h


@register(
    "q46_sessionize",
    f"""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_GAP_MS * 1000}
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    si AS (
      SELECT user_id, us, value,
             CAST(1 + sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_idx
      FROM s
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           min(us) AS start_us, max(us) AS end_us,
           max(us) - min(us) AS duration_us,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM si GROUP BY 1, 2
    """,
)
def q46(spark, sf_dir):
    """Gap-based sessionization (4h gap) + per-session stats — one
    shuffle keyed by user_id shared by the lag window, the running-sum
    session index, and the aggregation (pipeline/sessions.py)."""
    e = _table(spark, sf_dir, "events")
    return ss.session_stats(e, gap_ms=_GAP_MS)


# ---------------------------------------------------------------------------
# corpus curation (pipeline/text.py additions)
# ---------------------------------------------------------------------------

@register(
    "q47_quality_topk_per_lang",
    f"""
    WITH s AS (
      SELECT lang, doc_id, {_TOKS} AS n_tokens,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST({_PUNCT} AS DOUBLE) / length(text) END AS pr,
             {_SW['en']} AS sw
      FROM documents
    ),
    q AS (
      SELECT lang, doc_id,
             {_Q6.format(x='''greatest(0.0, least(1.0,
               0.5 * (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(sw AS DOUBLE) / n_tokens END) * 5.0
               + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
               + 0.2 * (1.0 - pr * 4.0)))''')} AS quality
      FROM s
    )
    SELECT lang, rank, doc_id, quality FROM (
      SELECT lang, doc_id, quality,
             row_number() OVER (PARTITION BY lang
                                ORDER BY quality DESC, doc_id) AS rank
      FROM q
    ) WHERE rank <= 10
    """,
)
def q47(spark, sf_dir):
    """Top-10 docs per language by quality score (corpus curation).
    Ranks on the 6-decimal-canonical score so cross-engine ordering is
    pinned; ties break by doc_id (pipeline/text.py
    quality_topk_per_stratum ranks the same way via its q6-scored twin
    here)."""
    from pyspark.sql import Window

    d = _table(spark, sf_dir, "documents")
    scored = d.select(
        "lang", "doc_id", q6(tx.quality_score(F.col("text"))).alias("quality")
    )
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("lang", "rank", "doc_id", "quality")
    )


@register(
    "q48_token_histogram",
    f"""
    WITH s AS (SELECT {_TOKS} AS t FROM documents),
    b AS (SELECT CASE WHEN t <= 0 THEN 0 ELSE length(bin(t)) END AS bucket, t FROM s)
    SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n_docs,
           CAST(sum(t) AS BIGINT) AS sum_tokens,
           min(t) AS min_tokens, max(t) AS max_tokens
    FROM b GROUP BY 1
    """,
)
def q48(spark, sf_dir):
    """Token-count histogram in power-of-two buckets (bucket = bit length
    of the count — integer-exact, no float log2); single scan + tiny agg
    (pipeline/text.py token_histogram)."""
    d = _table(spark, sf_dir, "documents")
    return tx.token_histogram(d)


# ---------------------------------------------------------------------------
# dedup closure: pairs → clusters (pipeline/cluster.py)
# ---------------------------------------------------------------------------

@register(
    "q49_dedup_clusters",
    "WITH RECURSIVE "
    + _minhash_cte().replace("\n    WITH ", "")
    + f"""
    , j AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    ),
    pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    walk(node, lbl) AS (
      SELECT u, u FROM e
      UNION
      SELECT e.v, w.lbl FROM walk w JOIN e ON e.u = w.node WHERE w.lbl < e.v
    ),
    lab AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node),
    labeled AS (
      SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
    ),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size
              FROM labeled GROUP BY cluster_id)
    SELECT doc_id, labeled.cluster_id, cluster_size,
           doc_id = labeled.cluster_id AS is_canonical
    FROM labeled JOIN sizes USING (cluster_id)
    """,
)
def q49(spark, sf_dir):
    """The dedup CLOSURE: MinHash-LSH candidates → Jaccard ≥ 0.5 verify →
    connected components (large-star/small-star, O(log n) rounds of
    groupBy-min — no adjacency lists, no driver) → every doc labeled with
    its cluster (min doc_id), cluster size, canonical flag. Downstream
    dedup = filter(is_canonical). The oracle closes the same pairs with a
    recursive CTE; min-label propagation prunes to lbl < target, which is
    lossless because only the component minimum survives the final
    group-min."""
    d = _table(spark, sf_dir, "documents")
    cand = dd.minhash_lsh_candidates(d, num_hashes=8, bands=4)
    verified = dd.verify_jaccard(d, cand, threshold=0.5)
    return cl.dedup_clusters(d, verified.select("id_a", "id_b"))


_COS_AB = (
    "(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, len(a.embedding))]))"
    " / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, len(a.embedding))]))"
    " * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, len(b.embedding))])))"
)


@register(
    "q50_embedding_dedup_clusters",
    f"""
    WITH RECURSIVE a AS (SELECT vec_id, embedding FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM a, a b
      WHERE a.vec_id < b.vec_id AND {_COS_AB} >= 0.6
    ),
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    walk(node, lbl) AS (
      SELECT u, u FROM e
      UNION
      SELECT e.v, w.lbl FROM walk w JOIN e ON e.u = w.node WHERE w.lbl < e.v
    ),
    lab AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node),
    labeled AS (
      SELECT v.vec_id, coalesce(l.cluster_id, v.vec_id) AS cluster_id
      FROM a v LEFT JOIN lab l ON l.node = v.vec_id
    ),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size
              FROM labeled GROUP BY cluster_id)
    SELECT vec_id, labeled.cluster_id, cluster_size,
           vec_id = labeled.cluster_id AS is_canonical
    FROM labeled JOIN sizes USING (cluster_id)
    """,
)
def q50(spark, sf_dir):
    """Semantic (embedding) dedup end-to-end: cosine ≥ 0.6 near-dup
    pairs (distributed block-pair kernel, pipeline/similarity.py) closed
    into clusters by the same connected-components operator as the
    textual path (q49) — one canonical vector per semantic group. At
    100 TB the pair source swaps to the SRP/IVF-bucketed kernel; the
    closure is unchanged."""
    e = _table(spark, sf_dir, "embeddings")
    pairs = sim.cosine_neardup_pairs(e, threshold=0.6)
    return cl.dedup_clusters(
        e.select("vec_id"), pairs.select("id_a", "id_b"), id_col="vec_id"
    )


# ---------------------------------------------------------------------------
# corpus hygiene: PII redaction, chunking, repetition (pipeline/text.py)
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_LONGNUM_RE = "\\b\\d{6,}\\b"


@register(
    "q52_pii_redact",
    f"""
    WITH r AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{_EMAIL_RE}', 0)) AS n_email,
             len(regexp_extract_all(text, '{_LONGNUM_RE}', 0)) AS n_longnum,
             regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                            '{_LONGNUM_RE}', '<NUM>', 'g') AS red
      FROM documents
    )
    SELECT doc_id, n_email, n_longnum, md5(red) AS redacted_md5 FROM r
    """,
)
def q52(spark, sf_dir):
    """PII scrubbing (emails, long digit runs) — scan-side RE2-compatible
    regexp_replace; redacted text pinned by md5 so the driver compare
    stays small (pipeline/text.py pii_redact)."""
    d = _table(spark, sf_dir, "documents")
    out = tx.pii_redact(d)
    return out.select(
        "doc_id", "n_email", "n_longnum", F.md5("redacted").alias("redacted_md5")
    )


@register(
    "q53_token_chunks",
    f"""
    WITH s AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t, {_TOKS} AS n
      FROM documents
    ),
    e AS (
      SELECT doc_id, t,
             unnest(generate_series(0, CAST(ceil(n / 48.0) AS INTEGER) - 1)) AS i
      FROM s WHERE n > 0
    )
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
           CAST(len(list_slice(t, i * 48 + 1, i * 48 + 64)) AS INTEGER)
             AS n_chunk_tokens,
           md5(array_to_string(list_slice(t, i * 48 + 1, i * 48 + 64), ' '))
             AS chunk_md5
    FROM e
    """,
)
def q53(spark, sf_dir):
    """Context-window chunking: 64-token windows, stride 48 (16-token
    overlap) — the pre-embedding/pre-packing split. One scan, explode of
    a ceil(n/stride) index range, chunk text pinned by md5
    (pipeline/text.py token_chunks)."""
    d = _table(spark, sf_dir, "documents")
    out = tx.token_chunks(d, chunk_tokens=64, stride=48)
    return out.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


@register(
    "q54_repetition_score",
    f"""
    WITH s AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t, {_TOKS} AS n
      FROM documents
    ),
    ex AS (
      SELECT doc_id, t, unnest(generate_series(1, n - 1)) AS i
      FROM s WHERE n >= 2
    ),
    bg AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram FROM ex),
    c AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
    top AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_count,
             CAST(sum(c) AS BIGINT) AS n_bigrams
      FROM c GROUP BY 1
    )
    SELECT s.doc_id,
           coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(top_bigram_count, 0) AS top_bigram_count,
           {_Q6.format(x='''CASE WHEN n_bigrams IS NULL OR n_bigrams = 0 THEN 0.0
             ELSE CAST(top_bigram_count AS DOUBLE) / n_bigrams END''')} AS rep_ratio
    FROM s LEFT JOIN top USING (doc_id)
    """,
)
def q54(spark, sf_dir):
    """Gopher-style repetition signal: share of bigram instances taken
    by the most frequent bigram (machine spam → 1.0). Explode + two
    partial-aggregated groupBys keyed by doc — no per-doc collect
    (pipeline/text.py repetition_score)."""
    d = _table(spark, sf_dir, "documents")
    out = tx.repetition_score(d)
    return out.select(
        "doc_id", "n_bigrams", "top_bigram_count", q6(F.col("rep_ratio")).alias("rep_ratio")
    )


# ---------------------------------------------------------------------------
# semi-structured props (events table)
# ---------------------------------------------------------------------------

@register(
    "q55_props_json_stats",
    """
    WITH p AS (
      SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k, value
      FROM events
    )
    SELECT event_type, k % 10 AS k_mod, count(*) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM p GROUP BY 1, 2
    """,
)
def q55(spark, sf_dir):
    """Semi-structured payload extraction at scan time: the JSON `props`
    column parsed with get_json_object (codegen'd JVM path, no UDF),
    aggregated by event_type × k-bucket. At 100 TB: JSON parse cost is
    per-row CPU in the scan stage — for hot fields, materialize them as
    columns at ingest instead (the repo's parsers do exactly that for
    tags); this query is the ad-hoc exploration path."""
    from ticktock_spark.queries import _table as _t

    e = _t(spark, sf_dir, "events")
    p = e.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        "value",
    )
    return p.groupBy(
        "event_type", (F.col("k") % 10).alias("k_mod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


@register(
    "q56_sequence_packing",
    f"""
    WITH s AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t, {_TOKS} AS n
      FROM documents
    ),
    e AS (
      SELECT doc_id, t,
             unnest(generate_series(0, CAST(ceil(n / 64.0) AS INTEGER) - 1)) AS i
      FROM s WHERE n > 0
    ),
    ch AS (
      SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
             len(list_slice(t, i * 64 + 1, i * 64 + 64)) AS ln
      FROM e
    ),
    packed AS (
      SELECT doc_id % 64 AS pack_group, doc_id, chunk_idx, ln,
             CAST(sum(ln) OVER (PARTITION BY doc_id % 64
                                ORDER BY doc_id, chunk_idx
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) - ln
               AS cum
      FROM ch
    ),
    seqs AS (
      SELECT pack_group, CAST(floor(cum / 256.0) AS INTEGER) AS seq_idx,
             ln FROM packed
    )
    SELECT pack_group, seq_idx, count(*) AS n_chunks,
           CAST(sum(ln) AS BIGINT) AS seq_tokens
    FROM seqs GROUP BY 1, 2
    """,
)
def q56(spark, sf_dir):
    """Training-sequence packing: non-overlapping 64-token chunks packed
    into 256-token sequences by a deterministic streaming rule (running
    token total within doc-hash pack groups — parallelism = n_groups, no
    global order, partition-invariant). Output: per-sequence chunk count
    and token load (pipeline/text.py pack_sequences)."""
    d = _table(spark, sf_dir, "documents")
    ch = tx.token_chunks(d, chunk_tokens=64, stride=64)
    packed = tx.pack_sequences(ch, budget_tokens=256, n_groups=64)
    return packed.groupBy("pack_group", "seq_idx").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("seq_tokens"),
    )


@register(
    "q58_embedding_quantize",
    f"""
    WITH b AS (
      SELECT vec_id, embedding AS x,
             list_max([abs(CAST(e AS DOUBLE)) for e in embedding]) AS m
      FROM embeddings
    ),
    qq AS (
      SELECT vec_id, m / 127.0 AS scale,
             CASE WHEN m = 0
                  THEN [CAST(0 AS BIGINT) for e in x]
                  ELSE [CAST(floor(CAST(e AS DOUBLE) / (m / 127.0) + 0.5) AS BIGINT)
                        for e in x] END AS q
      FROM b
    )
    SELECT vec_id, {_Q6.format(x='scale')} AS scale,
           CAST(len(q) AS INTEGER) AS n_dims,
           CAST(list_min(q) AS BIGINT) AS min_q,
           CAST(list_max(q) AS BIGINT) AS max_q,
           CAST(list_sum([q[i] * i for i in generate_series(1, len(q))]) AS BIGINT)
             AS checksum
    FROM qq
    """,
)
def q58(spark, sf_dir):
    """Per-vector symmetric int8 quantization of the embedding column
    (storage tier for 100 TB vector corpora). The quantized vector is
    pinned without array output: dims, min/max level, and a position-
    weighted integer checksum (pipeline/similarity.py
    quantize_embeddings)."""
    e = _table(spark, sf_dir, "embeddings")
    out = sim.quantize_embeddings(e)
    idx = F.sequence(F.lit(1), F.size("q"))
    return out.select(
        "vec_id",
        q6(F.col("scale")).alias("scale"),
        F.size("q").alias("n_dims"),
        F.array_min("q").alias("min_q"),
        F.array_max("q").alias("max_q"),
        F.aggregate(
            F.zip_with(F.col("q"), idx, lambda qv, i: qv * i.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("checksum"),
    )


_QUALITY_CTE = f"""
      SELECT lang, doc_id, {_TOKS} AS n_tokens,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST({_PUNCT} AS DOUBLE) / length(text) END AS pr,
             {_SW['en']} AS sw
      FROM documents
"""

_QUALITY_EXPR = """greatest(0.0, least(1.0,
    0.5 * (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(sw AS DOUBLE) / n_tokens END) * 5.0
    + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
    + 0.2 * (1.0 - pr * 4.0)))"""


@register(
    "q59_quality_percentiles",
    f"""
    WITH s AS ({_QUALITY_CTE}),
    q AS (SELECT lang, {_Q6.format(x=_QUALITY_EXPR)} AS v FROM s),
    g AS (SELECT lang, list_sort(list(v)) AS vals, count(*) AS n
          FROM q GROUP BY 1),
    e AS (SELECT lang, vals, n, unnest([25.0, 50.0, 75.0, 95.0]) AS quantile
          FROM g),
    c AS (
      SELECT lang, quantile, n, vals,
             CASE WHEN quantile <= 0 THEN 0.0
                  WHEN quantile >= 100 THEN CAST(n AS DOUBLE)
                  ELSE quantile / 100.0 * (n + 1) END AS idx
      FROM e
    )
    SELECT lang, quantile, CAST(n AS BIGINT) AS n,
           {_Q6.format(x='''CASE WHEN n = 1 THEN vals[1]
             WHEN idx < 1 THEN vals[1]
             WHEN idx >= n THEN vals[n]
             ELSE vals[CAST(floor(idx) AS INTEGER)]
                  + (idx - floor(idx))
                    * (vals[CAST(floor(idx) AS INTEGER) + 1]
                       - vals[CAST(floor(idx) AS INTEGER)]) END''')} AS pct
    FROM c
    """,
)
def q59(spark, sf_dir):
    """Exact R-6 quality percentiles per language WITHOUT per-group
    arrays: rank + two-row interpolation (operators/percentile.py) — the
    corpus-scale twin of the TSDB's collect_list percentile (bounded by
    time buckets there, unbounded group sizes here). Ranks on the
    6-decimal-canonical score so both engines sort identical values."""
    from ticktock_spark.operators.percentile import group_percentiles_r6

    d = _table(spark, sf_dir, "documents")
    scored = d.select("lang", q6(tx.quality_score(F.col("text"))).alias("quality"))
    out = group_percentiles_r6(scored, ["lang"], "quality", [25.0, 50.0, 75.0, 95.0])
    return out.select("lang", "quantile", "n", q6(F.col("pct")).alias("pct"))


# ---------------------------------------------------------------------------
# as-of join (events table) — operators/asof.py
# ---------------------------------------------------------------------------

_ASOF_TOL_US = 7 * 86_400_000_000  # 7 days in µs


@register(
    "q60_asof_join",
    f"""
    WITH l AS (
      SELECT event_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, epoch_us(ts) AS us,
             arg_max(value, event_id) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    j AS (
      SELECT l.event_id, l.user_id, l.us,
             p.purchase_value AS pv, p.us AS pus
      FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.us >= p.us
    )
    SELECT event_id, user_id, us,
           CASE WHEN pus IS NOT NULL AND us - pus <= {_ASOF_TOL_US}
                THEN pv END AS purchase_value,
           CASE WHEN pus IS NOT NULL AND us - pus <= {_ASOF_TOL_US}
                THEN pus END AS purchase_us,
           CASE WHEN pus IS NOT NULL AND us - pus <= {_ASOF_TOL_US}
                THEN us - pus END AS lag_us
    FROM j
    """,
)
def q60(spark, sf_dir):
    """As-of join: every click gets the user's most recent purchase at
    or before it (within 7 days), via operators/asof.py's union +
    running-last-value window — one shuffle on user_id, no broadcast,
    no per-key loop. Duplicate purchase timestamps are last-wins
    pre-deduped (max_by on event_id) so the match is deterministic."""
    from ticktock_spark.operators.asof import asof_join

    ev = _table(spark, sf_dir, "events")
    us = F.unix_micros("ts").alias("us")
    left = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", us)
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", us)
        .agg(F.max_by("value", "event_id").alias("purchase_value"))
    )
    out = asof_join(
        left,
        right,
        key_cols=["user_id"],
        value_cols=["purchase_value"],
        ts_col="us",
        tolerance=_ASOF_TOL_US,
        right_ts_name="purchase_us",
    )
    return out.select(
        "event_id",
        "user_id",
        "us",
        "purchase_value",
        "purchase_us",
        (F.col("us") - F.col("purchase_us")).alias("lag_us"),
    )


# ---------------------------------------------------------------------------
# vocabulary / lexical diversity / contamination (pipeline/text.py)
# ---------------------------------------------------------------------------


@register(
    "q61_vocab_topk",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, unnest(string_split_regex(norm, '\\s+')) AS tok
      FROM nm WHERE length(norm) > 0
    ),
    pd AS (SELECT tok, doc_id, count(*) AS c FROM t GROUP BY 1, 2)
    SELECT tok, CAST(sum(c) AS BIGINT) AS n_occ,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pd GROUP BY 1
    ORDER BY n_occ DESC, tok LIMIT 50
    """,
)
def q61(spark, sf_dir):
    """Corpus vocabulary: top-50 normalized tokens by occurrences with
    exact document frequency (pipeline/text.py vocab_top_k). Two-level
    agg — shuffle rows bounded by distinct (token, doc) then by vocab
    size; top-k is TakeOrdered, never a global sort."""
    return tx.vocab_top_k(_table(spark, sf_dir, "documents"), k=50)


@register(
    "q62_lexical_diversity",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, unnest(string_split_regex(norm, '\\s+')) AS tok
      FROM nm WHERE length(norm) > 0
    ),
    pd AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
    ag AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * c) AS BIGINT) AS c2
      FROM pd GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(ag.n_tokens, 0) AS n_tokens,
           coalesce(ag.n_types, 0) AS n_types,
           CASE WHEN ag.n_tokens IS NULL THEN 0.0
                ELSE CAST(ag.n_types AS DOUBLE) / CAST(ag.n_tokens AS DOUBLE)
           END AS ttr,
           CASE WHEN ag.n_tokens IS NULL THEN 0.0
                ELSE 1.0 - CAST(ag.c2 AS DOUBLE)
                     / (CAST(ag.n_tokens AS DOUBLE) * CAST(ag.n_tokens AS DOUBLE))
           END AS simpson
    FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id
    """,
)
def q62(spark, sf_dir):
    """Per-document lexical diversity: type-token ratio + Gini-Simpson
    index (pipeline/text.py lexical_diversity). Integer-count derived
    with one final division per metric — bit-exact across engines with
    no transcendental functions involved."""
    return tx.lexical_diversity(_table(spark, sf_dir, "documents"))


_GRAMS_CTE = f"""
      nm AS (SELECT doc_id, string_split_regex({_NORM}, '\\s+') AS t,
                    length({_NORM}) AS ln
             FROM documents),
      g AS (
        SELECT doc_id,
               CASE WHEN ln = 0 OR len(t) < 3 THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                        for i in generate_series(1, len(t) - 2)])
               END AS grams
        FROM nm
      )
"""


@register(
    "q63_contamination",
    f"""
    WITH {_GRAMS_CTE},
    b AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
    c AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0)
    SELECT d.doc_id,
           CAST(count(c.gram) AS BIGINT) AS n_grams,
           CAST(count(b.gram) AS BIGINT) AS n_hit,
           CASE WHEN count(c.gram) = 0 THEN 0.0
                ELSE CAST(count(b.gram) AS DOUBLE) / CAST(count(c.gram) AS DOUBLE)
           END AS contamination
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN c ON d.doc_id = c.doc_id
    LEFT JOIN b ON c.gram = b.gram
    GROUP BY 1
    """,
)
def q63(spark, sf_dir):
    """Benchmark decontamination screen: fraction of each training doc's
    distinct word trigrams that appear in a held-out benchmark set
    (docs with doc_id % 97 == 0 stand in for the eval set). The
    benchmark gram set is broadcast — the 100 TB corpus side never
    shuffles (pipeline/text.py contamination_report)."""
    d = _table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return tx.contamination_report(corpus, bench, n=3)


@register(
    "q64_mix_rebalance",
    """
    WITH n AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY 1),
    r AS (
      SELECT lang, n_before,
             CAST(min(n_before) OVER () AS DOUBLE) / CAST(n_before AS DOUBLE)
               AS rate
      FROM n
    ),
    t AS (
      SELECT lang, n_before,
             CASE WHEN rate >= 1.0 THEN 'gggggggg'
                  ELSE printf('%08x', CAST(floor(rate * 4294967296.0) AS BIGINT))
             END AS thr
      FROM r
    )
    SELECT d.lang, t.n_before,
           CAST(count(CASE WHEN substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                           < t.thr THEN 1 END) AS BIGINT) AS n_after
    FROM documents d JOIN t ON d.lang = t.lang
    GROUP BY 1, 2
    """,
)
def q64(spark, sf_dir):
    """Language-mix rebalancing to a uniform target: per-lang keep-rates
    = min_count/count computed from a tiny counting agg
    (pipeline/sample.py uniform_rebalance_rates), applied as the same
    scan-side deterministic md5 filter stratified_sample uses. Reports
    per-lang corpus size before/after."""
    from ticktock_spark.pipeline import sample as sp

    d = _table(spark, sf_dir, "documents")
    rates = sp.uniform_rebalance_rates(d, "lang")
    kept = sp.stratified_sample(d, rates, strata_col="lang", seed="mix")
    before = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    after = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_after"))
    return before.join(after, "lang", "left").select(
        "lang", "n_before", F.coalesce("n_after", F.lit(0)).alias("n_after")
    )


# ---------------------------------------------------------------------------
# rolling window / quality rules / range join
# ---------------------------------------------------------------------------

_HOUR_MS = 3_600_000
_HOUR_US = 3_600_000_000


@register(
    "q65_rolling_1h_avg",
    f"""
    SELECT event_type, user_id, epoch_ms(ts) AS ts, value,
           CAST(count(*) OVER w AS BIGINT) AS roll_n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / CAST(count(*) OVER w AS DOUBLE) AS roll_avg
    FROM events
    WINDOW w AS (PARTITION BY event_type, user_id ORDER BY epoch_ms(ts)
                 RANGE BETWEEN {_HOUR_MS} PRECEDING AND CURRENT ROW)
    """,
)
def q65(spark, sf_dir):
    """Trailing-1h rolling average per (event_type, user) series — one
    row per point, RANGE-framed window (operators/rolling.py): the same
    single series shuffle a downsample pays, decimal-exact sums, frames
    independent of duplicate-ts ordering."""
    from ticktock_spark.operators.rolling import rolling_agg

    ev = _table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type", "user_id", F.unix_millis("ts").alias("ts"), "value"
    )
    return rolling_agg(pts, ["event_type", "user_id"], window_ms=_HOUR_MS)


_LINES = "string_split(text, chr(10))"
_RAWTOKS = (
    "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])"
    " ELSE string_split_regex(trim(text), '\\s+') END"
)


# Gopher rule CTEs (s -> fl), parametrized by __SRC__ (sentinel, not
# str.format — the embedded regexes contain braces).
_GOPHER_CTES = f"""s AS (
      SELECT doc_id,
             len({_RAWTOKS}) AS n_words,
             length(regexp_replace(text, '\\s', '', 'g')) AS n_chars,
             len(regexp_extract_all(text, '#|\\.\\.\\.', 0)) AS n_sym,
             len({_LINES}) AS n_lines,
             len([l for l in {_LINES} if regexp_matches(ltrim(l), '^[-*•]')])
               AS n_bullet,
             len([l for l in {_LINES} if regexp_matches(rtrim(l), '\\.\\.\\.$')])
               AS n_ellipsis,
             len([t for t in {_RAWTOKS} if regexp_matches(t, '[A-Za-z]')])
               AS n_alpha,
             {_SW['en']} AS sw
      FROM __SRC__
    ),
    fl AS (
      SELECT doc_id, n_words,
             n_words >= 50 AND n_words <= 100000 AS flag_word_count,
             n_words > 0 AND CAST(n_chars AS DOUBLE) / n_words >= 3.0
                         AND CAST(n_chars AS DOUBLE) / n_words <= 10.0
               AS flag_mean_word_len,
             n_words > 0 AND CAST(n_sym AS DOUBLE) / n_words <= 0.1
               AS flag_symbol_ratio,
             CAST(n_bullet AS DOUBLE) / n_lines < 0.9 AS flag_bullets,
             CAST(n_ellipsis AS DOUBLE) / n_lines < 0.3 AS flag_ellipsis,
             n_words > 0 AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
               AS flag_alpha,
             sw >= 2 AS flag_stopwords
      FROM s
    )"""


@register(
    "q66_gopher_quality",
    f"""
    WITH {_GOPHER_CTES.replace("__SRC__", "documents")}
    SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
           flag_word_count, flag_mean_word_len, flag_symbol_ratio,
           flag_bullets, flag_ellipsis, flag_alpha, flag_stopwords,
           flag_word_count AND flag_mean_word_len AND flag_symbol_ratio
             AND flag_bullets AND flag_ellipsis AND flag_alpha
             AND flag_stopwords AS keep
    FROM fl
    """,
)
def q66(spark, sf_dir):
    """Gopher-rule document quality filter: per-rule boolean flags and
    the conjunctive keep decision (pipeline/text.py
    gopher_quality_flags) — integer-count rationals, one scan, no
    shuffle."""
    return tx.gopher_quality_flags(_table(spark, sf_dir, "documents"))


@register(
    "q67_range_join",
    f"""
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS us, value
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, p.us AS purchase_us,
           CAST(count(c.us) AS BIGINT) AS n_clicks,
           CAST(coalesce(sum(CAST(c.value AS DECIMAL(18,2))), 0) AS DOUBLE)
             AS sum_click_value
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id AND c.us BETWEEN p.us AND p.us + {_HOUR_US}
    GROUP BY 1, 2, 3
    """,
)
def q67(spark, sf_dir):
    """Point-in-interval range join: clicks landing within 1h after each
    purchase by the same user, counted and decimal-summed per purchase.
    Runs through operators/rangejoin.py's bucketed equi-join (interval
    side exploded over covered time buckets) — never the nested-loop
    plan Spark would pick for the raw inequality join."""
    from ticktock_spark.operators.rangejoin import range_join

    ev = _table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("us"), F.col("value").alias("click_value")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        us.alias("start"),
        (us + _HOUR_US).alias("end"),
    )
    j = range_join(clicks, purch, ["user_id"], bucket_width=_HOUR_US, ts_col="us")
    agg = j.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum(F.col("click_value").cast("decimal(18,2)")).alias("s"),
    )
    return (
        purch.join(agg, "purchase_id", "left")
        .select(
            "purchase_id",
            "user_id",
            F.col("start").alias("purchase_us"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce(F.col("s").cast("double"), F.lit(0.0)).alias("sum_click_value"),
        )
    )


@register(
    "q68_tfidf_top_terms",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, unnest(string_split_regex(norm, '\\s+')) AS tok
      FROM nm WHERE length(norm) > 0
    ),
    pd AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
    dfq AS (SELECT tok, count(*) AS df FROM pd GROUP BY 1),
    n AS (SELECT count(*) AS nn FROM documents),
    s AS (
      SELECT pd.doc_id, pd.tok,
             CAST(pd.c * n.nn AS DOUBLE) / CAST(dfq.df AS DOUBLE) AS score
      FROM pd JOIN dfq ON pd.tok = dfq.tok CROSS JOIN n
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, tok, score FROM (
      SELECT doc_id, tok, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, tok) AS rank
      FROM s
    ) WHERE rank <= 3
    """,
)
def q68(spark, sf_dir):
    """Top-3 characteristic terms per document by the rational tf-idf
    surrogate tf*N/df (pipeline/text.py tfidf_top_terms) — same ranking
    as log-idf without the cross-engine transcendental hazard."""
    return tx.tfidf_top_terms(_table(spark, sf_dir, "documents"), k=3)


# ---------------------------------------------------------------------------
# round 2: corpus curation — OOV, temperature mix, keep-best dedup,
# token budgets, incremental + cross-corpus dedup
# ---------------------------------------------------------------------------

_T_SPLIT = "SELECT doc_id, unnest(string_split_regex(norm, '\\s+')) AS tok"


@register(
    "q69_oov_rate",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS ({_T_SPLIT} FROM nm WHERE length(norm) > 0),
    pd AS (SELECT tok, doc_id, count(*) AS c FROM t GROUP BY 1, 2),
    v AS (
      SELECT tok FROM (
        SELECT tok, sum(c) AS n_occ FROM pd GROUP BY 1
        ORDER BY n_occ DESC, tok LIMIT 50
      )
    ),
    per AS (
      SELECT t.doc_id, count(*) AS n_tokens,
             count(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov
      FROM t LEFT JOIN v ON t.tok = v.tok
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(per.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(per.n_oov, 0) AS BIGINT) AS n_oov,
           CASE WHEN per.n_tokens IS NULL THEN NULL
                ELSE CAST(per.n_oov AS DOUBLE) / CAST(per.n_tokens AS DOUBLE)
           END AS oov_rate
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
)
def q69(spark, sf_dir):
    """Per-doc out-of-vocabulary rate against the corpus's own top-50
    vocabulary (LM-free junk signal; pipeline/text.py oov_stats) —
    integer counts + one division, broadcast vocab join."""
    return tx.oov_stats(_table(spark, sf_dir, "documents"), vocab_size=50)


@register(
    "q70_temperature_mix",
    """
    WITH n AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY 1),
    r AS (
      SELECT lang, n_before,
             sqrt(CAST(min(n_before) OVER () AS DOUBLE)
                  / CAST(n_before AS DOUBLE)) AS rate
      FROM n
    ),
    t AS (
      SELECT lang, n_before,
             CASE WHEN rate >= 1.0 THEN 'gggggggg'
                  ELSE printf('%08x', CAST(floor(rate * 4294967296.0) AS BIGINT))
             END AS thr
      FROM r
    )
    SELECT d.lang, t.n_before,
           CAST(count(CASE WHEN substr(md5('tmix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                           < t.thr THEN 1 END) AS BIGINT) AS n_after
    FROM documents d JOIN t ON d.lang = t.lang
    GROUP BY 1, 2
    """,
)
def q70(spark, sf_dir):
    """Temperature-scaled language rebalancing (alpha=0.5): keep-rate
    sqrt(min_count/count) per language — up-weights the tail without
    flattening to uniform (pipeline/sample.py temperature_rebalance_rates,
    applied by the same scan-side md5 filter as q64)."""
    from ticktock_spark.pipeline import sample as sp

    d = _table(spark, sf_dir, "documents")
    rates = sp.temperature_rebalance_rates(d, "lang", alpha=0.5)
    kept = sp.stratified_sample(d, rates, strata_col="lang", seed="tmix")
    before = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    after = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_after"))
    return before.join(after, "lang", "left").select(
        "lang", "n_before", F.coalesce("n_after", F.lit(0)).alias("n_after")
    )


@register(
    "q71_keep_best_cluster",
    "WITH RECURSIVE "
    + _minhash_cte().replace("\n    WITH ", "")
    + f"""
    , j AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    ),
    pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    walk(node, lbl) AS (
      SELECT u, u FROM e
      UNION
      SELECT e.v, w.lbl FROM walk w JOIN e ON e.u = w.node WHERE w.lbl < e.v
    ),
    lab AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node),
    s AS (
      SELECT doc_id, {_TOKS} AS n_tokens,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST({_PUNCT} AS DOUBLE) / length(text) END AS pr,
             {_SW['en']} AS sw
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             {_Q6.format(x='''greatest(0.0, least(1.0,
               0.5 * (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(sw AS DOUBLE) / n_tokens END) * 5.0
               + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
               + 0.2 * (1.0 - pr * 4.0)))''')} AS quality
      FROM s
    )
    SELECT q.doc_id, coalesce(l.cluster_id, q.doc_id) AS cluster_id, q.quality,
           row_number() OVER (PARTITION BY coalesce(l.cluster_id, q.doc_id)
                              ORDER BY q.quality DESC, q.doc_id) = 1 AS is_kept
    FROM q LEFT JOIN lab l ON l.node = q.doc_id
    """,
)
def q71(spark, sf_dir):
    """Quality-aware dedup closure: LSH -> Jaccard >= 0.5 pairs ->
    connected components -> keep the HIGHEST-quality doc per cluster
    (ties by doc_id) instead of blind min-id
    (pipeline/cluster.py keep_best_per_cluster)."""
    from ticktock_spark.pipeline import cluster as cl

    d = _table(spark, sf_dir, "documents")
    cand = dd.minhash_lsh_candidates(d, num_hashes=8, bands=4)
    verified = dd.verify_jaccard(d, cand, threshold=0.5)
    scored = d.select("doc_id", q6(tx.quality_score(F.col("text"))).alias("quality"))
    return cl.keep_best_per_cluster(
        scored, verified.select("id_a", "id_b"), score_col="quality"
    )


@register(
    "q72_token_budget",
    f"""
    WITH s AS (
      SELECT doc_id, lang, {_TOKS} AS n_tokens,
             substr(md5('budget:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_tokens
      FROM s
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 500
    """,
)
def q72(spark, sf_dir):
    """Per-language token budgeting: walk docs in deterministic hash
    order, keep while the running token total fits the 500-token budget
    (pipeline/sample.py token_budget_cap) — integer-exact running sums."""
    from ticktock_spark.pipeline import sample as sp

    d = _table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        tx.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return sp.token_budget_cap(d, budget=500, strata_col="lang", seed="budget")


from ticktock_spark.pipeline.sample import _thr as _rate_thr  # noqa: E402

_INC_THR = _rate_thr(0.3)  # deterministic 30% "new batch" split
_IS_NEW = f"substr(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{_INC_THR}'"


@register(
    "q73_incremental_dedup",
    f"""
    WITH b AS (SELECT doc_id, text FROM documents WHERE {_IS_NEW}),
    c AS (SELECT md5(text) AS digest FROM documents WHERE NOT ({_IS_NEW})),
    g AS (
      SELECT md5(text) AS digest, min(doc_id) AS canonical_id,
             count(*) AS n_copies
      FROM b GROUP BY 1
    )
    SELECT g.digest, g.canonical_id, CAST(g.n_copies AS BIGINT) AS n_copies
    FROM g WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.digest = g.digest)
    """,
)
def q73(spark, sf_dir):
    """Incremental ingest dedup: the 'new batch' (deterministic 30%
    hash split) collapses its own exact duplicates, then anti-joins the
    standing corpus's digest index — corpus text is never rescanned
    (pipeline/dedup.py incremental_exact_dedup)."""
    from ticktock_spark.pipeline import sample as sp

    d = _table(spark, sf_dir, "documents")
    is_new = sp.hash_hex(F.col("doc_id"), "inc") < F.lit(_INC_THR)
    batch = d.filter(is_new)
    index = d.filter(~is_new).select(F.md5("text").alias("digest"))
    return dd.incremental_exact_dedup(batch, index).select(
        "digest", "canonical_id", "n_copies"
    )


_CROSS_COND = (
    f"substr(md5('inc:' || CAST(a.doc_id AS VARCHAR)), 1, 8) < '{_INC_THR}'"
    f" AND substr(md5('inc:' || CAST(b.doc_id AS VARCHAR)), 1, 8) >= '{_INC_THR}'"
)


@register(
    "q74_cross_corpus_lsh",
    _minhash_cte(cand_cond=_CROSS_COND)
    + """
    SELECT id_a AS left_id, id_b AS right_id, n_bands FROM cand
    """,
)
def q74(spark, sf_dir):
    """Cross-corpus LSH: near-dup candidates between the new batch and
    the standing corpus only — band keys computed per side, joined on
    (band, key), never enumerating within-corpus pairs
    (pipeline/dedup.py minhash_lsh_join)."""
    from ticktock_spark.pipeline import sample as sp

    d = _table(spark, sf_dir, "documents")
    is_new = sp.hash_hex(F.col("doc_id"), "inc") < F.lit(_INC_THR)
    return dd.minhash_lsh_join(d.filter(is_new), d.filter(~is_new))


@register(
    "q75_collapse_repeats",
    f"""
    WITH nm AS (SELECT doc_id, text, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, text,
             CASE WHEN length(norm) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(norm, '\\s+') END AS tk
      FROM nm
    ),
    k AS (
      SELECT doc_id, text, tk,
             [tk[i] for i in generate_series(1, len(tk))
              if i = 1 OR tk[i] <> tk[i - 1]] AS kept
      FROM t
    )
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE CAST(len(tk) AS BIGINT) END
             AS n_tokens,
           CASE WHEN text IS NULL THEN NULL ELSE CAST(len(kept) AS BIGINT) END
             AS n_kept,
           CASE WHEN text IS NULL THEN NULL
                -- duckdb array_to_string([]) is NULL; empty doc must stay ''
                ELSE COALESCE(array_to_string(kept, ' '), '') END AS text_clean
    FROM k
    """,
)
def q75(spark, sf_dir):
    """Collapse consecutively repeated tokens (crawl-artifact cleanup:
    'batch batch batch' -> 'batch'); pure scan-side HOFs, no shuffle
    (pipeline/text.py collapse_repeat_tokens)."""
    return tx.collapse_repeat_tokens(_table(spark, sf_dir, "documents"))


@register(
    "q76_vocab_cap",
    f"""
    WITH nm AS (SELECT doc_id, text, {_NORM} AS norm FROM documents),
    tkn AS ({_T_SPLIT} FROM nm WHERE length(norm) > 0),
    pd AS (SELECT tok, doc_id, count(*) AS c FROM tkn GROUP BY 1, 2),
    v AS (
      SELECT list(tok) AS vl FROM (
        SELECT tok, sum(c) AS n_occ FROM pd GROUP BY 1
        ORDER BY n_occ DESC, tok LIMIT 50
      )
    ),
    t AS (
      SELECT doc_id, text,
             CASE WHEN length(norm) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(norm, '\\s+') END AS tk
      FROM nm
    ),
    c AS (
      SELECT doc_id, text, tk,
             [CASE WHEN list_contains(vl, x) THEN x
                   ELSE '<unk>' END for x in tk] AS capped
      FROM t CROSS JOIN v
    )
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE CAST(len(tk) AS BIGINT) END
             AS n_tokens,
           CASE WHEN text IS NULL THEN NULL
                ELSE CAST(len([x for x in capped if x = '<unk>']) AS BIGINT)
           END AS n_unk,
           CASE WHEN text IS NULL THEN NULL
                -- duckdb array_to_string([]) is NULL; empty doc must stay ''
                ELSE COALESCE(array_to_string(capped, ' '), '') END AS text_capped
    FROM c
    """,
)
def q76(spark, sf_dir):
    """LM vocabulary capping: tokens outside the corpus top-50 vocab
    become '<unk>' — tiny vocab agg collected once, then a pure
    scan-side map-literal replacement (pipeline/text.py cap_to_vocab)."""
    return tx.cap_to_vocab(_table(spark, sf_dir, "documents"), vocab_size=50)


@register(
    "q77_dedup_pipeline",
    "WITH RECURSIVE canon0 AS ("
    "  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)"
    "), canon AS (SELECT d.doc_id, d.text FROM documents d JOIN canon0 USING (doc_id)), "
    + _minhash_cte(src="canon").replace("\n    WITH ", "")
    + f"""
    , j AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    ),
    pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    walk(node, lbl) AS (
      SELECT u, u FROM e
      UNION
      SELECT e.v, w.lbl FROM walk w JOIN e ON e.u = w.node WHERE w.lbl < e.v
    ),
    lab AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node),
    m AS (
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      FROM documents
    ),
    lab2 AS (
      SELECT m.doc_id, coalesce(l.cluster_id, m.canonical_id) AS cluster_id
      FROM m LEFT JOIN lab l ON l.node = m.canonical_id
    ),
    sizes AS (SELECT cluster_id, count(*) AS n_total FROM lab2 GROUP BY 1)
    SELECT doc_id, cluster_id, CAST(n_total AS BIGINT) AS n_total,
           doc_id = cluster_id AS is_kept
    FROM lab2 JOIN sizes USING (cluster_id)
    """,
)
def q77(spark, sf_dir):
    """FLAGSHIP dedup composition: exact dedup -> LSH + Jaccard verify +
    connected components over CANONICAL docs only -> every original doc
    mapped to its final cluster. Exact-first ordering kills the LSH
    mega-bucket blow-up quadratic in copy count
    (pipeline/dedup.py dedup_pipeline; tools/scale_stress.py numbers)."""
    return dd.dedup_pipeline(_table(spark, sf_dir, "documents"))


@register(
    "q78_neardup_bucketed",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    proj AS (
      SELECT vec_id, b,
             list_sum([{_SRP_PLANE} * CAST(embedding[i] AS DOUBLE)
                       for i in generate_series(1, len(embedding))]) AS p
      FROM e, generate_series(0, 7) t(b)
    ),
    sig AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN p >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY 1
    )
    SELECT sa.vec_id AS id_a, sb.vec_id AS id_b,
           {_Q6.format(x=_COS_AB)} AS cosine
    FROM sig sa JOIN sig sb
      ON sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id
    JOIN embeddings a ON a.vec_id = sa.vec_id
    JOIN embeddings b ON b.vec_id = sb.vec_id
    WHERE {_Q6.format(x=_COS_AB)} >= 0.35
    """,
)
def q78(spark, sf_dir):
    """SRP-bucketed semantic near-dup pairs — the scale path when even
    blocked all-pairs is too much: deterministic md5-derived buckets
    (same planes as q43), exact fold-order-stable cosine kernel within
    buckets only (pipeline/similarity.py cosine_neardup_bucketed)."""
    e = _table(spark, sf_dir, "embeddings")
    return sim.cosine_neardup_bucketed(e, threshold=0.35, nbits=8)


@register(
    "q79_funnel",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    s1 AS (SELECT user_id, min(us) AS t_signup FROM e
           WHERE event_type = 'signup' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(us) AS t_view FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'view' AND us > t_signup GROUP BY 1),
    s3 AS (SELECT e.user_id, min(us) AS t_click FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'click' AND us > t_view GROUP BY 1),
    s4 AS (SELECT e.user_id, min(us) AS t_purchase FROM e JOIN s3 USING (user_id)
           WHERE event_type = 'purchase' AND us > t_click GROUP BY 1)
    SELECT s1.user_id, t_signup, t_view, t_click, t_purchase,
           CAST(CASE WHEN t_purchase IS NOT NULL THEN 4
                     WHEN t_click IS NOT NULL THEN 3
                     WHEN t_view IS NOT NULL THEN 2
                     ELSE 1 END AS INTEGER) AS stage
    FROM s1
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    LEFT JOIN s4 USING (user_id)
    """,
)
def q79(spark, sf_dir):
    """Ordered conversion funnel signup -> view -> click -> purchase:
    earliest strictly-later completion per stage per user
    (pipeline/sessions.py funnel_stages)."""
    from ticktock_spark.pipeline import sessions as ssn

    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    return ssn.funnel_stages(ev, ["signup", "view", "click", "purchase"])


@register(
    "q80_cohort_retention",
    f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    f AS (SELECT user_id, min(us) AS first_us FROM e GROUP BY 1),
    p AS (
      SELECT DISTINCT e.user_id,
             strftime(make_timestamp(f.first_us), '%Y-%m-%d') AS cohort_date,
             CAST(floor((e.us - f.first_us) / {7 * 86_400 * 1_000_000}) AS INTEGER)
               AS week_offset
      FROM e JOIN f USING (user_id)
    )
    SELECT cohort_date, week_offset, count(*) AS n_users
    FROM p GROUP BY 1, 2
    """,
)
def q80(spark, sf_dir):
    """Weekly cohort retention from first activity (integer-microsecond
    offsets; pipeline/sessions.py cohort_retention)."""
    from ticktock_spark.pipeline import sessions as ssn

    ev = _table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    return ssn.cohort_retention(ev)


@register(
    "q81_diversity_sample",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    proj AS (
      SELECT vec_id, b,
             list_sum([{_SRP_PLANE} * CAST(embedding[i] AS DOUBLE)
                       for i in generate_series(1, len(embedding))]) AS p
      FROM e, generate_series(0, 7) t(b)
    ),
    sig AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN p >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY 1
    ),
    r AS (
      SELECT vec_id, bucket,
             row_number() OVER (
               PARTITION BY bucket
               ORDER BY substr(md5('div:' || CAST(vec_id AS VARCHAR)), 1, 8),
                        vec_id
             ) AS pick
      FROM sig
    )
    SELECT vec_id, bucket, CAST(pick AS INTEGER) AS pick
    FROM r WHERE pick <= 5
    """,
)
def q81(spark, sf_dir):
    """Diversity-aware subsample: at most 5 vectors per SRP bucket in
    deterministic md5 order — dense embedding regions can't dominate the
    sample (pipeline/similarity.py diversity_sample)."""
    e = _table(spark, sf_dir, "embeddings")
    return sim.diversity_sample(e, per_bucket=5, nbits=8).withColumn(
        "pick", F.col("pick").cast("int")
    )


@register(
    "q82_leakage_safe_split",
    "WITH RECURSIVE "
    + _minhash_cte().replace("\n    WITH ", "")
    + """
    , j AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    ),
    pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    walk(node, lbl) AS (
      SELECT u, u FROM e
      UNION
      SELECT e.v, w.lbl FROM walk w JOIN e ON e.u = w.node WHERE w.lbl < e.v
    ),
    lab AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node),
    labeled AS (
      SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8)
                     < '19999999' THEN 'test'
                WHEN substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8)
                     < 'e6666666' THEN 'train'
                ELSE 'valid' END AS split
    FROM labeled
    """,
)
def q82(spark, sf_dir):
    """Leakage-safe train/valid/test split (80/10/10): near-dup clusters
    (LSH -> Jaccard >= 0.5 -> components) are assigned atomically by
    hashing the CLUSTER id through split_assign's md5 ranges, so no
    near-duplicate ever straddles train and eval
    (pipeline/cluster.py leakage_safe_split)."""
    from ticktock_spark.pipeline import cluster as cl

    d = _table(spark, sf_dir, "documents")
    cand = dd.minhash_lsh_candidates(d, num_hashes=8, bands=4)
    verified = dd.verify_jaccard(d, cand, threshold=0.5)
    return cl.leakage_safe_split(
        d, verified.select("id_a", "id_b"),
        weights={"train": 0.8, "valid": 0.1, "test": 0.1},
    )


@register(
    "q83_bpe_pairs",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS ({_T_SPLIT} FROM nm WHERE length(norm) > 0),
    w AS (SELECT tok AS w, count(*) AS wc FROM t GROUP BY 1),
    p AS (
      SELECT unnest([substr(w, i, 2) for i in generate_series(1, length(w) - 1)])
               AS pair,
             wc
      FROM w WHERE length(w) >= 2
    )
    SELECT pair, CAST(sum(wc) AS BIGINT) AS n
    FROM p GROUP BY 1
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def q83(spark, sf_dir):
    """First-round BPE merge statistics: adjacent character-pair counts
    weighted by word frequency, computed over the DISTINCT-word table so
    cost is vocabulary-bounded (pipeline/text.py bpe_pair_counts)."""
    return tx.bpe_pair_counts(_table(spark, sf_dir, "documents"), top_k=20)


@register(
    "q84_rolling_zscore",
    f"""
    WITH p AS (
      SELECT event_type, user_id, epoch_ms(ts) AS ts, value FROM events
    ),
    r AS (
      SELECT event_type, user_id, ts, value,
             CAST(count(*) OVER w AS BIGINT) AS roll_n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s,
             -- DECIMAL(19,2) operands: duckdb multiplies 18,2 operands in
             -- int64 and overflows at |value| ~ 1e9; 19,2 forces int128
             -- (Spark auto-widens the same product to DECIMAL(38,4))
             CAST(sum(CAST(value AS DECIMAL(19,2)) * CAST(value AS DECIMAL(19,2)))
                    OVER w AS DOUBLE) AS ss,
             CAST(count(*) OVER w AS DOUBLE) AS n
      FROM p
      WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts
                   RANGE BETWEEN {_HOUR_MS} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, user_id, ts, value, roll_n,
           s / n AS roll_mean,
           sqrt(greatest((ss - s * s / n) / n, 0.0)) AS roll_std,
           CASE WHEN roll_n >= 2
                     AND sqrt(greatest((ss - s * s / n) / n, 0.0)) > 0
                THEN (value - s / n)
                     / sqrt(greatest((ss - s * s / n) / n, 0.0))
           END AS zscore
    FROM r
    """,
)
def q84(spark, sf_dir):
    """Trailing-1h rolling z-score per (event_type, user) series — the
    anomaly signal over metric streams (operators/rolling.py
    rolling_zscore): decimal-exact moments, one IEEE expression chain,
    clamped variance."""
    from ticktock_spark.operators.rolling import rolling_zscore

    ev = _table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type", "user_id", F.unix_millis("ts").alias("ts"), "value"
    )
    return rolling_zscore(pts, ["event_type", "user_id"], window_ms=_HOUR_MS)


def _r6_sql(q: float) -> str:
    """R-6 idx=q*(n+1) percentile over a sorted DuckDB list `vals`
    (mirror of operators/downsample.py percentile_r6_on_array; same CASE
    as the q05 oracle)."""
    return f"""CASE WHEN len(vals) = 1 THEN vals[1]
           WHEN {q} * (len(vals) + 1) < 1 THEN vals[1]
           WHEN {q} * (len(vals) + 1) >= len(vals) THEN vals[len(vals)]
           ELSE vals[CAST(floor({q} * (len(vals) + 1)) AS INT)]
                + ({q} * (len(vals) + 1) - floor({q} * (len(vals) + 1)))
                  * (vals[CAST(floor({q} * (len(vals) + 1)) AS INT) + 1]
                     - vals[CAST(floor({q} * (len(vals) + 1)) AS INT)])
      END"""


_EVQ = (
    "(SELECT event_type AS metric, epoch_ms(ts) AS ts, value, user_id FROM events)"
)


@register(
    "q85_percentile_rollup",
    f"""
    WITH b AS (
      SELECT metric, user_id, ts - ts % 3600000 AS ts,
             list_sort(list(value)) AS vals
      FROM {_EVQ}
      WHERE value IS NOT NULL
      GROUP BY 1, 2, 3
    )
    SELECT metric, user_id, ts,
           CAST(len(vals) AS BIGINT) AS cnt,
           {_r6_sql(0.5)} AS p50,
           {_r6_sql(0.95)} AS p95,
           {_r6_sql(0.99)} AS p99
    FROM b
    """,
)
def q85(spark, sf_dir):
    """Hourly multi-percentile rollup (p50/p95/p99 + cnt per series) —
    the latency-dashboard materialization the reference's cnt/min/max/sum
    rollups can't answer. ONE collect_list agg per bucket; the three R-6
    interpolations share the sorted array column (a plain projection, so
    no recompute — contrast per-pair HOF evaluation).

    NULL-value rows are not datapoints (unrepresentable in the put-line
    ingest — q29 rejects them): dropped at the scan on BOTH engine
    sides, so an all-NULL bucket emits no row (the reference's
    empty-set drop, plans/shape.py) instead of engine-dependent
    cnt=0/NaN rows."""
    from ticktock_spark.operators.downsample import bucket_expr, percentile_r6_on_array
    from ticktock_spark.queries import _dps

    d = _dps(spark, sf_dir).filter(F.col("value").isNotNull())
    b = d.groupBy("metric", "user_id", bucket_expr("ts", 3_600_000).alias("ts")).agg(
        F.sort_array(F.collect_list("value")).alias("vals")
    )
    return b.select(
        "metric",
        "user_id",
        "ts",
        F.size("vals").cast("long").alias("cnt"),
        percentile_r6_on_array(F.col("vals"), 50).alias("p50"),
        percentile_r6_on_array(F.col("vals"), 95).alias("p95"),
        percentile_r6_on_array(F.col("vals"), 99).alias("p99"),
    )


@register(
    "q86_bigram_lm",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, string_split_regex(norm, '\\s+') AS tk
      FROM nm WHERE length(norm) > 0
    ),
    p AS (
      SELECT unnest([{{'w1': tk[i], 'w2': tk[i+1]}}
                     for i in generate_series(1, len(tk) - 1)], recursive := true)
      FROM t WHERE len(tk) >= 2
    ),
    c AS (SELECT w1, w2, count(*) AS n FROM p GROUP BY 1, 2),
    tot AS (SELECT w1, sum(n) AS n_w1 FROM c GROUP BY 1)
    SELECT c.w1, c.w2, CAST(c.n AS BIGINT) AS n,
           CAST(c.n AS DOUBLE) / CAST(tot.n_w1 AS DOUBLE) AS cond_p
    FROM c JOIN tot ON c.w1 = tot.w1
    ORDER BY n DESC, c.w1, c.w2 LIMIT 50
    """,
)
def q86(spark, sf_dir):
    """Bigram LM table: adjacent-token pair counts + conditional
    p(w2|w1) — the n-gram-LM statistic behind CCNet-style quality
    filtering (pipeline/text.py bigram_lm_table)."""
    return tx.bigram_lm_table(_table(spark, sf_dir, "documents"), top_k=50)


@register(
    "q87_shard_assign",
    f"""
    WITH s AS (
      SELECT doc_id, lang, {_TOKS} AS n_tokens,
             substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_tokens
      FROM s
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / 2000.0) AS INTEGER)
             AS shard_idx
    FROM c
    """,
)
def q87(spark, sf_dir):
    """Token-balanced shard assignment (~2000 tokens per shard per
    language, deterministic hash order) — the idempotent layout step
    before materializing training shards (pipeline/sample.py
    shard_assign / write_training_shards)."""
    from ticktock_spark.pipeline import sample as sp

    d = _table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        tx.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return sp.shard_assign(d, tokens_per_shard=2000)


@register(
    "q88_dup_degree",
    _minhash_cte()
    + f"""
    , j AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    ),
    pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT id_a AS node FROM pairs UNION ALL SELECT id_b FROM pairs
      ) GROUP BY 1
    ),
    alln AS (
      SELECT d.doc_id, coalesce(deg.degree, 0) AS degree
      FROM documents d LEFT JOIN deg ON deg.node = d.doc_id
    )
    SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_docs
    FROM alln GROUP BY 1
    """,
)
def q88(spark, sf_dir):
    """Corpus-duplication health report: per-doc near-dup DEGREE
    (verified Jaccard >= 0.5 neighbors) histogram — 0-degree docs are
    unique; a heavy tail means boilerplate floods the corpus. Composes
    LSH candidates + Jaccard verification + one count-per-node agg."""
    d = _table(spark, sf_dir, "documents")
    cand = dd.minhash_lsh_candidates(d, num_hashes=8, bands=4)
    verified = dd.verify_jaccard(d, cand, threshold=0.5).select("id_a", "id_b")
    # explode, not a 2-branch union: a union would reference (and
    # re-execute) the whole LSH+verify subtree once per branch
    nodes = verified.select(
        F.explode(F.array("id_a", "id_b")).alias("node")
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    alln = (
        d.select("doc_id")
        .join(deg, d["doc_id"] == deg["node"], "left")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
    )
    return alln.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "q89_charset_report",
    r"""
    SELECT doc_id,
           CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars,
           CAST(coalesce(len(regexp_extract_all(text, '[^\x00-\x7F]', 0)), 0)
                AS BIGINT) AS n_non_ascii,
           CAST(coalesce(len(regexp_extract_all(
                  text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', 0)), 0)
                AS BIGINT) AS n_control,
           CAST(coalesce(len(regexp_extract_all(text, chr(65533), 0)), 0)
                AS BIGINT) AS n_replacement,
           CASE WHEN length(text) IS NULL OR length(text) = 0 THEN 0.0
                ELSE CAST(len(regexp_extract_all(text, '[^\x00-\x7F]', 0))
                          AS DOUBLE) / length(text)
           END AS ratio_non_ascii
    FROM documents
    """,
)
def q89(spark, sf_dir):
    """Encoding-hygiene report: non-ASCII / control / U+FFFD counts and
    non-ASCII ratio per doc (mojibake detection;
    pipeline/text.py charset_report)."""
    return tx.charset_report(_table(spark, sf_dir, "documents"))


@register(
    "q91_bigram_perplexity",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, string_split_regex(norm, '\\s+') AS tk
      FROM nm WHERE length(norm) > 0
    ),
    p AS (
      SELECT doc_id, unnest([{{'w1': tk[i], 'w2': tk[i+1]}}
                             for i in generate_series(1, len(tk) - 1)],
                            recursive := true)
      FROM t WHERE len(tk) >= 2
    ),
    dp AS (SELECT doc_id, w1, w2, count(*) AS n FROM p GROUP BY 1, 2, 3),
    c AS (SELECT w1, w2, sum(n) AS n_pair FROM dp GROUP BY 1, 2),
    tot AS (SELECT w1, sum(n_pair) AS n_w1 FROM c GROUP BY 1),
    lm AS (
      SELECT c.w1, c.w2, CAST(c.n_pair AS DOUBLE) / CAST(tot.n_w1 AS DOUBLE)
               AS cond_p
      FROM c JOIN tot ON c.w1 = tot.w1
    )
    SELECT dp.doc_id, CAST(sum(dp.n) AS BIGINT) AS n_bigrams,
           {_Q6.format(x='-sum(dp.n * log2(lm.cond_p)) / sum(dp.n)')}
             AS cross_entropy
    FROM dp JOIN lm ON dp.w1 = lm.w1 AND dp.w2 = lm.w2
    GROUP BY dp.doc_id
    """,
)
def q91(spark, sf_dir):
    """Per-doc cross-entropy under the corpus bigram LM (CCNet-style
    perplexity filtering; pipeline/text.py bigram_perplexity) — completes
    q86's LM-table statistic into a usable curation signal."""
    out = tx.bigram_perplexity(_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_bigrams", q6(F.col("cross_entropy")).alias("cross_entropy")
    )


_LINES_CTE = """
    ln AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls
      FROM documents WHERE text IS NOT NULL
    ),
    l AS (
      SELECT doc_id, unnest([{'idx': i, 'line': trim(ls[i])}
                             for i in generate_series(1, len(ls))],
                            recursive := true)
      FROM ln
    ),
    ne AS (SELECT doc_id, idx, line FROM l WHERE length(line) > 0)
"""


@register(
    "q92_boilerplate_lines",
    f"""
    WITH {_LINES_CTE},
    d AS (SELECT DISTINCT doc_id, line FROM ne)
    SELECT line, CAST(count(*) AS BIGINT) AS n_docs
    FROM d GROUP BY 1 HAVING count(*) >= 3
    """,
)
def q92(spark, sf_dir):
    """C4-style boilerplate report: trimmed non-empty lines occurring in
    ≥ 3 distinct documents (pipeline/text.py boilerplate_lines)."""
    return tx.boilerplate_lines(_table(spark, sf_dir, "documents"), min_docs=3)


@register(
    "q93_boilerplate_scrub",
    f"""
    WITH {_LINES_CTE},
    c AS (SELECT line, count(DISTINCT doc_id) AS n_docs FROM ne GROUP BY 1),
    kept AS (
      SELECT ne.doc_id, ne.idx, ne.line
      FROM ne JOIN c USING (line) WHERE c.n_docs < 3
    )
    SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text_clean,
           CAST(count(*) AS BIGINT) AS n_lines_kept
    FROM kept GROUP BY 1
    """,
)
def q93(spark, sf_dir):
    """C4-style boilerplate removal: documents rebuilt from lines that do
    NOT occur in ≥ 3 distinct documents; fully-boilerplate docs drop out
    (pipeline/text.py scrub_boilerplate — single-scan window plan)."""
    return tx.scrub_boilerplate(_table(spark, sf_dir, "documents"), min_docs=3)


@register(
    "q94_winnowing_fp",
    f"""
    WITH nm AS (
      SELECT doc_id, {_NORM} AS norm FROM documents
    ),
    gs AS (
      SELECT doc_id,
             [substr(md5(substr(norm, i, 5)), 1, 8)
              for i in generate_series(1, greatest(length(norm) - 4, 1))] AS hs
      FROM nm WHERE length(norm) > 0
    )
    SELECT doc_id,
           unnest(list_distinct(
             [list_min(hs[j:j+3])
              for j in generate_series(1, greatest(len(hs) - 3, 1))])) AS fp
    FROM gs
    """,
)
def q94(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash fingerprints: per-window minimum of
    5-gram hashes, window w=4 (pipeline/text.py winnowing_fingerprints).
    Any shared substring of length ≥ 8 chars yields a shared fp."""
    return tx.winnowing_fingerprints(_table(spark, sf_dir, "documents"), k=5, w=4)


@register(
    "q95_winnowing_overlap",
    f"""
    WITH nm AS (
      SELECT doc_id, {_NORM} AS norm FROM documents
    ),
    gs AS (
      SELECT doc_id,
             [substr(md5(substr(norm, i, 5)), 1, 8)
              for i in generate_series(1, greatest(length(norm) - 4, 1))] AS hs
      FROM nm WHERE length(norm) > 0
    ),
    fp AS (
      SELECT doc_id,
             unnest(list_distinct(
               [list_min(hs[j:j+3])
                for j in generate_series(1, greatest(len(hs) - 3, 1))])) AS f
      FROM gs
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def q95(spark, sf_dir):
    """MOSS-style overlap candidates: doc pairs sharing ≥ 2 winnowing
    fingerprints, counted via the bounded bucket-enumeration plan
    (pipeline/text.py winnowing_overlap_pairs)."""
    return tx.winnowing_overlap_pairs(_table(spark, sf_dir, "documents"), min_shared=2)


@register(
    "q98_vocab_drift",
    f"""
    WITH ta AS (
      SELECT unnest(string_split_regex({_NORM}, '\\s+')) AS tok
      FROM documents WHERE length({_NORM}) > 0
    ),
    tb AS (
      SELECT unnest(string_split_regex({_NORM}, '\\s+')) AS tok
      FROM documents
      WHERE source IN ('src0','src1','src2','src3','src4')
        AND length({_NORM}) > 0
    ),
    va AS (SELECT tok, count(*) AS n_a, sum(count(*)) OVER () AS tot_a
           FROM ta GROUP BY 1),
    vb AS (SELECT tok, count(*) AS n_b, sum(count(*)) OVER () AS tot_b
           FROM tb GROUP BY 1),
    j AS (
      SELECT va.tok, n_a, n_b,
             (CAST(n_b AS DOUBLE) / tot_b)
               * log2((CAST(n_b AS DOUBLE) / tot_b)
                      / (CAST(n_a AS DOUBLE) / tot_a)) AS kl
      FROM va JOIN vb ON va.tok = vb.tok
    )
    SELECT tok, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           {_Q6.format(x='kl')} AS kl_contrib
    FROM j
    ORDER BY abs(kl) DESC, tok LIMIT 20
    """,
)
def q98(spark, sf_dir):
    """Vocabulary drift monitor: top-20 shared tokens by |contribution|
    to KL(snapshot‖corpus), snapshot = sources src0–src4 — the "did this
    ingest batch shift the corpus?" report (pipeline/text.py
    vocab_drift)."""
    docs = _table(spark, sf_dir, "documents")
    snap = docs.filter(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )
    out = tx.vocab_drift(docs, snap, top_k=20)
    return out.select(
        "tok", "n_a", "n_b", q6(F.col("kl_contrib")).alias("kl_contrib")
    )


@register(
    "q99_minhash_xxh64_exact",
    f"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
             text FROM documents
    ),
    n AS (
      SELECT doc_id, {_NORM} AS norm FROM src WHERE text IS NOT NULL
    ),
    sh AS (SELECT doc_id, list_sort({_SHINGLES}) AS sh FROM n),
    d AS (SELECT doc_id, md5(array_to_string(sh, chr(31))) AS dig FROM sh)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM d a JOIN d b ON a.dig = b.dig AND a.doc_id < b.doc_id
    """,
)
def q99(spark, sf_dir):
    """The all-native xxh64 LSH path under a sound exact oracle: union
    the corpus with an id-offset copy of itself (so every doc has at
    least one exact twin at every scale factor), run MinHash+LSH with
    engine='xxh64' (JVM xxhash64 signatures/band keys, no Python in the
    scan — pipeline/dedup.py), Jaccard-verify, and keep only
    jaccard = 1.0 pairs. Equal shingle sets ⇒ equal signatures ⇒ all
    bands agree, under ANY hash family — so LSH recall is STRUCTURALLY
    100% for these pairs on any corpus, and the DuckDB oracle
    (shingle-set-equality pairs, no LSH mirror needed — DuckDB has no
    xxhash64) matches exactly. The looser-threshold twin is q35 on the
    md5 engine, whose oracle mirrors the hash scheme.

    The twin offset is max(doc_id)+1, NOT a constant: the entry's
    soundness needs every twin id to be UNIQUE in the union, and a
    fixed offset silently breaks on any corpus whose ids reach it
    (found at sf1 — gen_sf_scaled strides copies by exactly 10M, so a
    +10M twin of copy 0 collided with copy 1's real ids and the
    id-keyed verify joins fanned out 3.6x on both engines,
    differently)."""
    BANDS = 4  # passed to LSH AND used in the full-agreement filter —
    # a single definition so the filter can't silently drop jaccard=1.0
    # pairs if the operator's default band count ever changes
    d = _table(spark, sf_dir, "documents").select("doc_id", "text")
    off = d.agg((F.max("doc_id") + F.lit(1)).alias("__off"))
    src = d.unionByName(
        d.crossJoin(F.broadcast(off))
        .withColumn("doc_id", F.col("doc_id") + F.col("__off"))
        .drop("__off")
    )
    cand = dd.minhash_lsh_candidates(src, engine="xxh64", bands=BANDS)
    # jaccard = 1.0 ⇒ equal signatures ⇒ ALL bands agree, so restricting
    # verification to full-agreement candidates is lossless and skips
    # the exact-Jaccard join for the (far larger) partial-agreement set
    out = dd.verify_jaccard(
        src, cand.filter(F.col("n_bands") == BANDS), threshold=1.0
    )
    return out.select("id_a", "id_b")


@register(
    "q100_semantic_dedup",
    f"""
    WITH RECURSIVE e0 AS (SELECT vec_id, embedding FROM embeddings),
    proj AS (
      SELECT vec_id, b,
             list_sum([{_SRP_PLANE} * CAST(embedding[i] AS DOUBLE)
                       for i in generate_series(1, len(embedding))]) AS p
      FROM e0, generate_series(0, 7) t(b)
    ),
    sig AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN p >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY 1
    ),
    pairs AS (
      SELECT sa.vec_id AS id_a, sb.vec_id AS id_b
      FROM sig sa JOIN sig sb
        ON sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id
      JOIN embeddings a ON a.vec_id = sa.vec_id
      JOIN embeddings b ON b.vec_id = sb.vec_id
      WHERE {_Q6.format(x=_COS_AB)} >= 0.6
    ),
    g AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    walk(node, lbl) AS (
      SELECT u, u FROM g
      UNION
      SELECT g.v, w.lbl FROM walk w JOIN g ON g.u = w.node WHERE w.lbl < g.v
    ),
    lab AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node),
    labeled AS (
      SELECT v.vec_id, coalesce(l.cluster_id, v.vec_id) AS cluster_id
      FROM e0 v LEFT JOIN lab l ON l.node = v.vec_id
    ),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size
              FROM labeled GROUP BY cluster_id)
    SELECT vec_id, labeled.cluster_id, cluster_size,
           vec_id = labeled.cluster_id AS is_canonical
    FROM labeled JOIN sizes USING (cluster_id)
    """,
)
def q100(spark, sf_dir):
    """SemDeDup-style semantic dedup at scale (pipeline/similarity.py
    semantic_dedup, after Abbas et al. arXiv:2303.09540): SRP buckets
    partition the embedding space, within-bucket cosine >= 0.6 pairs
    close into clusters, one canonical vector kept per cluster. The
    exact all-pairs twin is q50 — same closure, unbucketed kernel;
    this is the sub-quadratic composition a 100 TB corpus runs."""
    return sim.semantic_dedup(_table(spark, sf_dir, "embeddings"), threshold=0.6)


@register(
    "q101_source_cap",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8),
                        doc_id
             ) AS pick,
             count(*) OVER (PARTITION BY source) AS source_total
      FROM documents
    )
    SELECT doc_id, source, CAST(pick AS INT) AS pick,
           CAST(source_total AS BIGINT) AS source_total
    FROM ranked WHERE pick <= 40
    """,
)
def q101(spark, sf_dir):
    """Per-source document caps (the crawl-pipeline 'domain cap':
    bound every source's contribution so link farms / mega-domains
    can't dominate the mix) — deterministic md5 pick order, kept rank +
    source total reported (pipeline/sample.py per_source_cap)."""
    return sp.per_source_cap(_table(spark, sf_dir, "documents"), cap=40)


@register(
    "q102_percentile_distributed",
    """
    WITH b AS (
      SELECT event_type AS metric, user_id, epoch_ms(ts) - epoch_ms(ts) % 600000 AS ts,
             list_sort(list(value)) AS vals
      FROM events WHERE event_type = 'view'
      GROUP BY 1, 2, 3
    )
    SELECT metric, user_id, ts,
      CASE WHEN len(vals) = 1 THEN vals[1]
           WHEN 0.95 * (len(vals) + 1) < 1 THEN vals[1]
           WHEN 0.95 * (len(vals) + 1) >= len(vals) THEN vals[len(vals)]
           ELSE vals[CAST(floor(0.95 * (len(vals) + 1)) AS INT)]
                + (0.95 * (len(vals) + 1) - floor(0.95 * (len(vals) + 1)))
                  * (vals[CAST(floor(0.95 * (len(vals) + 1)) AS INT) + 1]
                     - vals[CAST(floor(0.95 * (len(vals) + 1)) AS INT)])
      END AS p95_value
    FROM b
    """,
)
def q102(spark, sf_dir):
    """q05's 10m-p95 downsample answered by the MEGA-BUCKET-SAFE
    distributed-selection percentile (operators/downsample.py:
    percentile_r6_distributed): the group is sorted with a spillable
    window instead of collected into one agg buffer, so a group of any
    size survives. Same oracle as q05 — the two implementations are
    value-equal by construction and by this differential."""
    from ticktock_spark.operators.downsample import percentile_r6_distributed
    from ticktock_spark.queries import _dps

    d = _dps(spark, sf_dir).filter(F.col("metric") == "view")
    ds = percentile_r6_distributed(d, ["metric", "user_id"], 95.0, 600_000)
    return ds.select("metric", "user_id", "ts", F.col("value").alias("p95_value"))


@register(
    "q103_vocab_size",
    f"""
    WITH nm AS (SELECT {_NORM} AS norm FROM documents),
    t AS (
      SELECT unnest(string_split_regex(norm, '\\s+')) AS tok
      FROM nm WHERE length(norm) > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
    FROM t
    """,
)
def q103(spark, sf_dir):
    """Tokenizer-sizing stats: total and DISTINCT token counts over the
    corpus (pipeline/text.py vocab_size_stats). The exact path is the
    oracle-checked default; exact=False swaps in HyperLogLog++ for the
    one-pass constant-memory sketch at 100 TB (error-bound test)."""
    return tx.vocab_size_stats(_table(spark, sf_dir, "documents"))


_MIX_W = {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1}
_MIX_BUDGET = 100_000


@register(
    "q104_mixture_plan",
    f"""
    WITH per AS (
      SELECT lang,
             CAST(sum(CASE WHEN length(trim(text)) = 0 OR text IS NULL THEN 0
                           ELSE len(string_split_regex(trim(text), '\\s+')) END)
                  AS BIGINT) AS available_tokens
      FROM documents GROUP BY 1
    )
    SELECT lang, available_tokens,
           {_Q6.format(x=f'''CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2
                     WHEN 'fr' THEN 0.2 WHEN 'es' THEN 0.1 ELSE 0.0 END
             * {float(_MIX_BUDGET)}''')} AS target_tokens,
           {_Q6.format(x=f'''least(1.0, (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2
                                 WHEN 'fr' THEN 0.2 WHEN 'es' THEN 0.1 ELSE 0.0 END
                       * {float(_MIX_BUDGET)}) / CAST(available_tokens AS DOUBLE))''')}
             AS rate,
           {_Q6.format(x=f'''greatest(0.0, (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2
                                    WHEN 'fr' THEN 0.2 WHEN 'es' THEN 0.1 ELSE 0.0 END
                          * {float(_MIX_BUDGET)}) - CAST(available_tokens AS DOUBLE))''')}
             AS shortfall
    FROM per
    """,
)
def q104(spark, sf_dir):
    """Training-mixture planner: per-language available tokens vs the
    target share of a 100k-token budget, with the deterministic
    sampling rate (capped at 1) that realizes it and the shortfall the
    cap forfeits (pipeline/sample.py mixture_plan). The rates feed
    stratified_sample's scan-side hash filter directly. q6
    canonicalization absorbs the one-ULP difference between Spark's
    normalized-weight product and the oracle's literal shares."""
    d = _table(spark, sf_dir, "documents").withColumn(
        "n_tokens", tx.token_count(F.col("text")).cast("long")
    )
    plan = sp.mixture_plan(d, _MIX_W, _MIX_BUDGET)
    return plan.select(
        "lang",
        "available_tokens",
        q6(F.col("target_tokens")).alias("target_tokens"),
        q6(F.col("rate")).alias("rate"),
        q6(F.col("shortfall")).alias("shortfall"),
    )


@register(
    "q105_corpus_diff",
    """
    WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
      FROM documents WHERE doc_id % 7 != 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, md5(text) AS h
      FROM documents WHERE doc_id % 11 = 0
    )
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN new.doc_id IS NULL THEN 'removed'
                WHEN old.doc_id IS NULL THEN 'added'
                WHEN coalesce(old.h, chr(1)) = coalesce(new.h, chr(1))
                  THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    """,
)
def q105(spark, sf_dir):
    """Dataset-version diff by content digest (pipeline/dedup.py
    corpus_diff): the v2 snapshot drops every 7th doc, rewrites every
    5th, and appends an id-offset copy of every 11th — the operator
    labels every id added/removed/changed/unchanged, shuffling only
    (id, digest)."""
    d = _table(spark, sf_dir, "documents").select("doc_id", "text")
    new = d.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    ).unionByName(
        d.filter(F.col("doc_id") % 11 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )
    return dd.corpus_diff(d, new)


@register(
    "q106_embedding_dequantize",
    """
    WITH b AS (
      SELECT vec_id, embedding AS x,
             list_max([abs(CAST(e AS DOUBLE)) for e in embedding]) AS m
      FROM embeddings
    ),
    qq AS (
      SELECT vec_id, m / 127.0 AS scale,
             CASE WHEN m = 0
                  THEN [CAST(0 AS BIGINT) for e in x]
                  ELSE [CAST(floor(CAST(e AS DOUBLE) / (m / 127.0) + 0.5) AS BIGINT)
                        for e in x] END AS q
      FROM b
    )
    SELECT vec_id, CAST(u.i - 1 AS INTEGER) AS pos,
           CAST(CAST(q[u.i] AS DOUBLE) * scale AS REAL) AS val
    FROM qq, LATERAL unnest(range(1, len(q) + 1)) u(i)
    """,
)
def q106(spark, sf_dir):
    """Quantize → dequantize round trip (pipeline/similarity.py
    dequantize_embeddings over q58's quantizer): the reconstructed
    float vectors an int8 embedding store serves, x̂_i = q_i · scale
    with |x − x̂| ≤ scale/2 per dimension. The oracle recomputes the
    identical codes and products in SQL. The operator returns the
    vectors as array<float>; the registry entry posexplodes to scalar
    (vec_id, pos, val) rows so the driver harness can sort/hash the
    result (pandas cannot sort a list column — r5 harness crash).
    Both engines produce the double product then round to float32, so
    val is bit-identical with no q6 canonicalization needed."""
    e = _table(spark, sf_dir, "embeddings")
    deq = sim.dequantize_embeddings(sim.quantize_embeddings(e))
    return deq.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    )


@register(
    "q107_chunk_dedup",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE text IS NOT NULL
    ), chunks AS (
      SELECT doc_id, u.gs AS cidx,
             array_to_string(w[(u.gs-1)*20+1 : u.gs*20], ' ') AS chunk
      FROM words,
           LATERAL unnest(range(1, CAST(ceil(len(w)/20.0) AS BIGINT) + 1)) u(gs)
    ), ranked AS (
      SELECT doc_id, cidx, chunk,
             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
      FROM chunks WHERE length(chunk) > 0
    )
    SELECT doc_id,
           coalesce(string_agg(chunk, ' ' ORDER BY cidx)
                    FILTER (WHERE rn = 1), '') AS text_dedup,
           count(*) FILTER (WHERE rn = 1) AS n_kept,
           count(*) FILTER (WHERE rn > 1) AS n_removed
    FROM ranked GROUP BY doc_id
    """,
)
def q107(spark, sf_dir):
    """Sub-document exact-substring dedup (pipeline/dedup.py
    chunk_dedup): 20-word aligned tiles, corpus-wide first occurrence
    wins, documents reassembled from surviving chunks — the passage-
    level dedup class doc-level exact/MinHash dedup cannot express."""
    d = _table(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.chunk_dedup(d, chunk_words=20)


@register(
    "q108_heavy_hitters",
    f"""
    WITH nm AS (SELECT {_NORM} AS norm FROM documents),
    t AS (
      SELECT unnest(string_split_regex(norm, '\\s+')) AS tok
      FROM nm WHERE length(norm) > 0
    )
    SELECT tok, CAST(count(*) AS BIGINT) AS n_occ
    FROM t GROUP BY tok HAVING count(*) >= 200
    """,
)
def q108(spark, sf_dir):
    """Heavy hitters via Count-Min screen + exact recount
    (pipeline/text.py heavy_hitters): tokens with >= 200 corpus
    occurrences. CMS never undercounts, so the screened-then-recounted
    output equals the oracle's plain GROUP BY ... HAVING exactly for
    any sketch geometry."""
    return tx.heavy_hitters(
        _table(spark, sf_dir, "documents"), min_count=200
    )


@register(
    "q109_pq_knn",
    f"""
    WITH nv AS (
      SELECT vec_id, label,
             [CAST(x AS DOUBLE) /
              greatest(sqrt(list_sum([CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                                      for y in embedding])), 1e-30)
              for x in embedding] AS v
      FROM embeddings
    ),
    ex AS (
      SELECT label, unnest(generate_series(1, len(v))) AS i,
             unnest(v) AS x
      FROM nv
    ),
    cm AS (
      SELECT label, CAST(floor((i-1)/16) AS INT) AS j, i,
             avg(CAST(x AS DOUBLE)) AS c
      FROM ex GROUP BY 1, 2, 3
    ),
    cb AS (
      SELECT CAST(label AS INT) AS code, j, list(c ORDER BY i) AS cent
      FROM cm GROUP BY 1, 2
    ),
    enc1 AS (
      SELECT e.vec_id, cb.j, cb.code,
             list_sum([(e.v[cb.j*16 + s] - cent[s])
                       * (e.v[cb.j*16 + s] - cent[s])
                       for s in generate_series(1, 16)]) AS d2
      FROM nv e, cb
    ),
    codes AS (
      SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d2, code) AS rn
        FROM enc1
      ) WHERE rn = 1
    ),
    qt AS (
      SELECT q.vec_id AS query_id, cb.j, cb.code,
             list_sum([(q.v[cb.j*16 + s] - cent[s])
                       * (q.v[cb.j*16 + s] - cent[s])
                       for s in generate_series(1, 16)]) AS qd
      FROM nv q, cb WHERE q.vec_id < 5
    ),
    sc AS (
      SELECT qt.query_id, c.vec_id,
             {_Q6.format(x='sum(qt.qd)')} AS adc_d2
      FROM codes c JOIN qt ON qt.j = c.j AND qt.code = c.code
      WHERE c.vec_id <> qt.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adc_d2, rank FROM (
      SELECT query_id, vec_id, adc_d2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_d2, vec_id) AS rank
      FROM sc
    ) WHERE rank <= 10
    """,
)
def q109(spark, sf_dir):
    """PQ-ADC approximate top-10 for 5 query vectors
    (pipeline/similarity.py pq_knn): dim-64 vectors quantized to m=4
    codes against bucket-mean codebooks; candidates scored by m table
    lookups on the code side only — the codes-not-vectors scan that
    makes PQ the 100 TB ANN tier. Ranking on the 6-decimal-quantized
    ADC distance with id tiebreak; the oracle replicates codebooks,
    encoding, and tables in SQL."""
    e = _table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.pq_knn(e, q, k=10, m=4)


@register(
    "q110_prepare_corpus",
    f"""
    WITH s AS (
      SELECT doc_id,
             len({_RAWTOKS}) AS n_words,
             length(regexp_replace(text, '\\s', '', 'g')) AS n_chars,
             len(regexp_extract_all(text, '#|\\.\\.\\.', 0)) AS n_sym,
             len({_LINES}) AS n_lines,
             len([l for l in {_LINES} if regexp_matches(ltrim(l), '^[-*•]')])
               AS n_bullet,
             len([l for l in {_LINES} if regexp_matches(rtrim(l), '\\.\\.\\.$')])
               AS n_ellipsis,
             len([t for t in {_RAWTOKS} if regexp_matches(t, '[A-Za-z]')])
               AS n_alpha,
             {_SW['en']} AS sw
      FROM documents
    ),
    keepers AS (
      SELECT doc_id, n_words FROM s
      WHERE n_words >= 50 AND n_words <= 100000
        AND n_words > 0 AND CAST(n_chars AS DOUBLE) / n_words >= 3.0
                        AND CAST(n_chars AS DOUBLE) / n_words <= 10.0
        AND CAST(n_sym AS DOUBLE) / n_words <= 0.1
        AND CAST(n_bullet AS DOUBLE) / n_lines < 0.9
        AND CAST(n_ellipsis AS DOUBLE) / n_lines < 0.3
        AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
        AND sw >= 2
    ),
    k AS (
      SELECT d.doc_id, d.lang, d.source, md5(d.text) AS digest, keepers.n_words
      FROM documents d JOIN keepers USING (doc_id)
    ),
    dd AS (
      SELECT *,
             row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY digest) AS n_copies
      FROM k
    ),
    sv AS (SELECT doc_id, lang, source, n_words, n_copies FROM dd WHERE rn = 1),
    capped AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY source
               ORDER BY substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8),
                        doc_id
             ) AS pick,
             count(*) OVER (PARTITION BY source) AS source_total
      FROM sv
    )
    SELECT doc_id, lang, source, CAST(n_words AS INT) AS n_words,
           CAST(n_copies AS BIGINT) AS n_copies, CAST(pick AS INT) AS pick,
           CAST(source_total AS BIGINT) AS source_total,
           CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < '19999999' THEN 'test'
                WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < 'e6666666' THEN 'train'
                ELSE 'valid' END AS split
    FROM capped WHERE pick <= 40
    """,
)
def q110(spark, sf_dir):
    """End-to-end corpus release (pipeline/sample.py prepare_corpus):
    Gopher filter → exact dedup (min-id canonical, copy counts) →
    per-source cap (40) → deterministic 80/10/10 split — the staged
    composition pinned as one oracle query, text dropped before the
    first shuffle."""
    d = _table(spark, sf_dir, "documents")
    return sp.prepare_corpus(d, source_cap=40)


@register(
    "q111_chunk_dedup_incremental",
    """
    WITH words_old AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE doc_id < 250 AND text IS NOT NULL
    ), seen AS (
      SELECT DISTINCT array_to_string(w[(u.gs-1)*20+1 : u.gs*20], ' ') AS chunk
      FROM words_old,
           LATERAL unnest(range(1, CAST(ceil(len(w)/20.0) AS BIGINT) + 1)) u(gs)
    ), words_new AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE doc_id >= 250 AND text IS NOT NULL
    ), chunks AS (
      SELECT doc_id, u.gs AS cidx,
             array_to_string(w[(u.gs-1)*20+1 : u.gs*20], ' ') AS chunk
      FROM words_new,
           LATERAL unnest(range(1, CAST(ceil(len(w)/20.0) AS BIGINT) + 1)) u(gs)
    ), ranked AS (
      SELECT c.doc_id, c.cidx, c.chunk,
             row_number() OVER (PARTITION BY c.chunk
                                ORDER BY c.doc_id, c.cidx) AS rn,
             (seen.chunk IS NOT NULL) AS in_index
      FROM chunks c LEFT JOIN seen ON c.chunk = seen.chunk
      WHERE length(c.chunk) > 0
    )
    SELECT doc_id,
           coalesce(string_agg(chunk, ' ' ORDER BY cidx)
                    FILTER (WHERE rn = 1 AND NOT in_index), '') AS text_dedup,
           count(*) FILTER (WHERE rn = 1 AND NOT in_index) AS n_kept,
           count(*) FILTER (WHERE rn > 1 OR in_index) AS n_removed
    FROM ranked GROUP BY doc_id
    """,
)
def q111(spark, sf_dir):
    """Incremental sub-document dedup (pipeline/dedup.py
    chunk_dedup_incremental): the standing tile index is built from the
    first half of the corpus (doc_id < 250), the second half arrives as
    the new batch — tiles already indexed or repeated within the batch
    are dropped, survivors reassemble. The Spark side screens on BIGINT
    xxhash64 tile keys; the oracle joins on tile text (identical
    output absent a 64-bit collision)."""
    d = _table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = dd.chunk_index(d.filter(F.col("doc_id") < 250))
    return dd.chunk_dedup_incremental(d.filter(F.col("doc_id") >= 250), idx)


@register(
    "q112_bpe_train",
    f"""
    WITH nm AS (SELECT {_NORM} AS norm FROM documents),
    w0 AS (
      SELECT w, count(*) AS wc FROM (
        SELECT unnest(string_split_regex(norm, '\\s+')) AS w
        FROM nm WHERE length(norm) > 0
      ) GROUP BY w
    ),
    s0 AS (
      SELECT '|' || array_to_string(
               [substr(w, i, 1) for i in generate_series(1, length(w))], '||'
             ) || '|' AS s, wc
      FROM w0
    ),
    p1 AS (
      SELECT sy[u.i] AS a, sy[u.i+1] AS b, sum(wc) AS n
      FROM (SELECT string_split(trim(s, '|'), '||') AS sy, wc FROM s0) t,
           LATERAL unnest(range(1, len(sy))) u(i)
      GROUP BY 1, 2
    ),
    t1 AS (SELECT a, b, n FROM p1 ORDER BY n DESC, a, b LIMIT 1),
    s1 AS (
      SELECT replace(s0.s, '|'||t1.a||'||'||t1.b||'|', '|'||t1.a||t1.b||'|') AS s, wc
      FROM s0, t1
    ),
    p2 AS (
      SELECT sy[u.i] AS a, sy[u.i+1] AS b, sum(wc) AS n
      FROM (SELECT string_split(trim(s, '|'), '||') AS sy, wc FROM s1) t,
           LATERAL unnest(range(1, len(sy))) u(i)
      GROUP BY 1, 2
    ),
    t2 AS (SELECT a, b, n FROM p2 ORDER BY n DESC, a, b LIMIT 1),
    s2 AS (
      SELECT replace(s1.s, '|'||t2.a||'||'||t2.b||'|', '|'||t2.a||t2.b||'|') AS s, wc
      FROM s1, t2
    ),
    p3 AS (
      SELECT sy[u.i] AS a, sy[u.i+1] AS b, sum(wc) AS n
      FROM (SELECT string_split(trim(s, '|'), '||') AS sy, wc FROM s2) t,
           LATERAL unnest(range(1, len(sy))) u(i)
      GROUP BY 1, 2
    ),
    t3 AS (SELECT a, b, n FROM p3 ORDER BY n DESC, a, b LIMIT 1)
    SELECT CAST(1 AS INT) AS rank, a, b, a || b AS pair, CAST(n AS BIGINT) AS n FROM t1
    UNION ALL
    SELECT CAST(2 AS INT), a, b, a || b, CAST(n AS BIGINT) FROM t2
    UNION ALL
    SELECT CAST(3 AS INT), a, b, a || b, CAST(n AS BIGINT) FROM t3
    """,
)
def q112(spark, sf_dir):
    """BPE tokenizer training (pipeline/text.py bpe_train: distributed
    vocab collapse + driver incremental-pair-count merges — zero Spark
    jobs inside the merge loop), 3 merges. The oracle is the spec: it
    unrolls the reference merge loop in SQL, encoding symbol sequences
    as '|sym||sym|' strings so a non-overlapping replace reproduces the
    greedy fold exactly (larger k is test-pinned against an in-test
    reference trainer)."""
    return tx.bpe_train(_table(spark, sf_dir, "documents"), num_merges=3)


# Shared 3-merge BPE replay (the q112 trainer unrolled, then the merge
# table replayed over the corpus): CTE chain nm -> dt (doc words) ->
# trained merges t1..t3 -> wsub (post-merge subword count per word).
_BPE_REPLAY_CTES = f"""nm AS (SELECT doc_id, {_NORM} AS norm FROM documents
                WHERE text IS NOT NULL),
    dt AS (
      SELECT doc_id, unnest(string_split_regex(norm, '\\s+')) AS w
      FROM nm WHERE length(norm) > 0
    ),
    w0 AS (SELECT w, count(*) AS wc FROM dt GROUP BY w),
    s0 AS (
      SELECT w, '|' || array_to_string(
               [substr(w, i, 1) for i in generate_series(1, length(w))], '||'
             ) || '|' AS s, wc
      FROM w0
    ),
    p1 AS (
      SELECT sy[u.i] AS a, sy[u.i+1] AS b, sum(wc) AS n
      FROM (SELECT string_split(trim(s, '|'), '||') AS sy, wc FROM s0) t,
           LATERAL unnest(range(1, len(sy))) u(i)
      GROUP BY 1, 2
    ),
    t1 AS (SELECT a, b FROM p1 ORDER BY n DESC, a, b LIMIT 1),
    s1 AS (SELECT w, replace(s0.s, '|'||t1.a||'||'||t1.b||'|',
                             '|'||t1.a||t1.b||'|') AS s, wc FROM s0, t1),
    p2 AS (
      SELECT sy[u.i] AS a, sy[u.i+1] AS b, sum(wc) AS n
      FROM (SELECT string_split(trim(s, '|'), '||') AS sy, wc FROM s1) t,
           LATERAL unnest(range(1, len(sy))) u(i)
      GROUP BY 1, 2
    ),
    t2 AS (SELECT a, b FROM p2 ORDER BY n DESC, a, b LIMIT 1),
    s2 AS (SELECT w, replace(s1.s, '|'||t2.a||'||'||t2.b||'|',
                             '|'||t2.a||t2.b||'|') AS s, wc FROM s1, t2),
    p3 AS (
      SELECT sy[u.i] AS a, sy[u.i+1] AS b, sum(wc) AS n
      FROM (SELECT string_split(trim(s, '|'), '||') AS sy, wc FROM s2) t,
           LATERAL unnest(range(1, len(sy))) u(i)
      GROUP BY 1, 2
    ),
    t3 AS (SELECT a, b FROM p3 ORDER BY n DESC, a, b LIMIT 1),
    s3 AS (SELECT w, replace(s2.s, '|'||t3.a||'||'||t3.b||'|',
                             '|'||t3.a||t3.b||'|') AS s FROM s2, t3),
    wsub AS (
      SELECT w, len(string_split(trim(s, '|'), '||')) AS nsub FROM s3
    )"""


@register(
    "q113_bpe_encode",
    f"""
    WITH {_BPE_REPLAY_CTES}
    SELECT dt.doc_id, CAST(count(*) AS INT) AS n_words,
           CAST(sum(wsub.nsub) AS BIGINT) AS n_subwords
    FROM dt JOIN wsub USING (w)
    GROUP BY dt.doc_id
    """,
)
def q113(spark, sf_dir):
    """Tokenizer lifecycle closed: encode the corpus with the merge
    table bpe_train just learned (pipeline/text.py bpe_encode) — per
    doc, word count and post-merge subword count, the sequence-length
    numbers packing/budget stages consume. Trains and encodes
    (heap-driven replay) so the oracle's SQL replay chain pins both."""
    d = _table(spark, sf_dir, "documents")
    m = tx.bpe_train(d, num_merges=3)
    return tx.bpe_encode(d, m)


@register(
    "q127_bpe_token_ids",
    f"""
    WITH {_BPE_REPLAY_CTES},
    alpha AS (
      SELECT DISTINCT substr(w, u.i, 1) AS sym
      FROM w0, LATERAL unnest(range(1, length(w) + 1)) u(i)
    ),
    avocab AS (
      SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS INT) AS tid
      FROM alpha
    ),
    na AS (SELECT count(*) AS n FROM avocab),
    mvocab AS (
      SELECT t1.a || t1.b AS sym, CAST(na.n AS INT) AS tid FROM t1, na
      UNION ALL SELECT t2.a || t2.b, CAST(na.n + 1 AS INT) FROM t2, na
      UNION ALL SELECT t3.a || t3.b, CAST(na.n + 2 AS INT) FROM t3, na
    ),
    vocab AS (
      SELECT sym, CAST(min(tid) AS INT) AS tid
      FROM (SELECT * FROM avocab UNION ALL SELECT * FROM mvocab)
      GROUP BY sym
    ),
    dtw AS (
      SELECT doc_id, words[u.i] AS w, u.i AS wi
      FROM (SELECT doc_id, string_split_regex(norm, '\\s+') AS words
            FROM nm WHERE length(norm) > 0) t,
           LATERAL unnest(range(1, len(words) + 1)) u(i)
    ),
    wsyms AS (SELECT w, string_split(trim(s, '|'), '||') AS sy FROM s3),
    docsym AS (
      SELECT dtw.doc_id, dtw.wi, u.i AS si, sy[u.i] AS sym
      FROM dtw JOIN wsyms USING (w),
           LATERAL unnest(range(1, len(sy) + 1)) u(i)
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, si) - 1
                AS INT) AS pos,
           vocab.tid AS token_id
    FROM docsym JOIN vocab USING (sym)
    """,
)
def q127(spark, sf_dir):
    """Tokenizer APPLICATION end-to-end: the per-doc token-ID stream a
    packing stage actually consumes (pipeline/text.py bpe_encode_ids —
    arrow heap replay emitting ids through bpe_vocab's GPT-2-style
    alphabet-then-merges assignment), posexploded to scalar (doc_id,
    pos, token_id) rows. The oracle replays the identical 3-merge
    chain and id assignment in SQL (q113's CTE chain + a vocab CTE
    with min-id collision rule), pinning symbol order, word order, and
    every id."""
    d = _table(spark, sf_dir, "documents")
    m = tx.bpe_train(d, num_merges=3)
    enc = tx.bpe_encode_ids(d, m)
    return enc.select(
        "doc_id", F.posexplode("token_ids").alias("pos", "token_id")
    )


@register(
    "q128_pack_token_ids",
    f"""
    WITH {_BPE_REPLAY_CTES},
    alpha AS (
      SELECT DISTINCT substr(w, u.i, 1) AS sym
      FROM w0, LATERAL unnest(range(1, length(w) + 1)) u(i)
    ),
    avocab AS (
      SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS INT) AS tid
      FROM alpha
    ),
    na AS (SELECT count(*) AS n FROM avocab),
    mvocab AS (
      SELECT t1.a || t1.b AS sym, CAST(na.n AS INT) AS tid FROM t1, na
      UNION ALL SELECT t2.a || t2.b, CAST(na.n + 1 AS INT) FROM t2, na
      UNION ALL SELECT t3.a || t3.b, CAST(na.n + 2 AS INT) FROM t3, na
    ),
    vocab AS (
      SELECT sym, CAST(min(tid) AS INT) AS tid
      FROM (SELECT * FROM avocab UNION ALL SELECT * FROM mvocab)
      GROUP BY sym
    ),
    dtw AS (
      SELECT doc_id, words[u.i] AS w, u.i AS wi
      FROM (SELECT doc_id, string_split_regex(norm, '\\s+') AS words
            FROM nm WHERE length(norm) > 0) t,
           LATERAL unnest(range(1, len(words) + 1)) u(i)
    ),
    wsyms AS (SELECT w, string_split(trim(s, '|'), '||') AS sy FROM s3),
    docsym AS (
      SELECT dtw.doc_id, dtw.wi, u.i AS si, sy[u.i] AS sym
      FROM dtw JOIN wsyms USING (w),
           LATERAL unnest(range(1, len(sy) + 1)) u(i)
    ),
    dpos AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY wi, si) - 1
               AS pos,
             vocab.tid AS token_id
      FROM docsym JOIN vocab USING (sym)
    ),
    dlen AS (SELECT doc_id, count(*) AS n FROM dpos GROUP BY doc_id),
    dstart AS (
      SELECT doc_id,
             sum(n) OVER (PARTITION BY doc_id % 64 ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - n AS strt
      FROM dlen
    )
    SELECT CAST(d.doc_id % 64 AS INT) AS pack_group,
           CAST(floor((s.strt + d.pos) / 256.0) AS INT) AS seq_idx,
           CAST((s.strt + d.pos) % 256 AS INT) AS pos,
           d.token_id
    FROM dpos d JOIN dstart s USING (doc_id)
    """,
)
def q128(spark, sf_dir):
    """Packed-pretraining sequence materialization: bpe_encode_ids →
    pack_token_ids — docs concatenated in id order within 64 hash pack
    groups, cut into 256-token sequences (a doc may span two
    sequences, a sequence holds many docs). Registry shape posexplodes
    input_ids back to scalar (pack_group, seq_idx, pos, token_id) rows
    so the driver hashes EVERY id at its packed position; the oracle
    extends q127's replay/vocab chain with the same per-group prefix
    sum in SQL. Closes the tokenizer→training-batch loop
    (pipeline/text.py pack_token_ids)."""
    d = _table(spark, sf_dir, "documents")
    m = tx.bpe_train(d, num_merges=3)
    packed = tx.pack_token_ids(tx.bpe_encode_ids(d, m))
    return packed.select(
        "pack_group", "seq_idx",
        F.posexplode("input_ids").alias("pos", "token_id"),
    )


@register(
    "q129_pack_doc_spans",
    f"""
    WITH {_BPE_REPLAY_CTES},
    alpha AS (
      SELECT DISTINCT substr(w, u.i, 1) AS sym
      FROM w0, LATERAL unnest(range(1, length(w) + 1)) u(i)
    ),
    avocab AS (
      SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS INT) AS tid
      FROM alpha
    ),
    na AS (SELECT count(*) AS n FROM avocab),
    mvocab AS (
      SELECT t1.a || t1.b AS sym, CAST(na.n AS INT) AS tid FROM t1, na
      UNION ALL SELECT t2.a || t2.b, CAST(na.n + 1 AS INT) FROM t2, na
      UNION ALL SELECT t3.a || t3.b, CAST(na.n + 2 AS INT) FROM t3, na
    ),
    vocab AS (
      SELECT sym, CAST(min(tid) AS INT) AS tid
      FROM (SELECT * FROM avocab UNION ALL SELECT * FROM mvocab)
      GROUP BY sym
    ),
    dtw AS (
      SELECT doc_id, words[u.i] AS w, u.i AS wi
      FROM (SELECT doc_id, string_split_regex(norm, '\\s+') AS words
            FROM nm WHERE length(norm) > 0) t,
           LATERAL unnest(range(1, len(words) + 1)) u(i)
    ),
    wsyms AS (SELECT w, string_split(trim(s, '|'), '||') AS sy FROM s3),
    docsym AS (
      SELECT dtw.doc_id, dtw.wi, u.i AS si, sy[u.i] AS sym
      FROM dtw JOIN wsyms USING (w),
           LATERAL unnest(range(1, len(sy) + 1)) u(i)
    ),
    dpos AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY wi, si) - 1
               AS pos,
             vocab.tid AS token_id
      FROM docsym JOIN vocab USING (sym)
    ),
    dlen AS (SELECT doc_id, count(*) AS n FROM dpos GROUP BY doc_id),
    dstart AS (
      SELECT doc_id,
             sum(n) OVER (PARTITION BY doc_id % 64 ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - n AS strt
      FROM dlen
    )
    SELECT CAST(d.doc_id % 64 AS INT) AS pack_group,
           CAST(floor((s.strt + d.pos) / 256.0) AS INT) AS seq_idx,
           d.doc_id,
           CAST(min((s.strt + d.pos) % 256) AS INT) AS start,
           CAST(max((s.strt + d.pos) % 256) + 1 AS INT) AS "end"
    FROM dpos d JOIN dstart s USING (doc_id)
    GROUP BY 1, 2, 3
    """,
)
def q129(spark, sf_dir):
    """The doc-boundary side of packed sequences: per (sequence, doc)
    the [start, end) span inside the sequence — the exact input a
    block-diagonal attention mask needs. Spark side explodes
    pack_token_ids' fold-built doc_spans; the oracle reduces to a
    min/max grouping over q128's packed positions (equivalent because
    concatenated streams make every in-sequence doc span contiguous)."""
    d = _table(spark, sf_dir, "documents")
    m = tx.bpe_train(d, num_merges=3)
    packed = tx.pack_token_ids(tx.bpe_encode_ids(d, m))
    sp = packed.select(
        "pack_group", "seq_idx", F.explode("doc_spans").alias("sp")
    )
    return sp.select(
        "pack_group", "seq_idx",
        F.col("sp.doc_id").alias("doc_id"),
        F.col("sp.start").alias("start"),
        F.col("sp.end").alias("end"),
    )


from ticktock_spark.pipeline import classify as clf  # noqa: E402
from ticktock_spark.pipeline import retrieval as rt  # noqa: E402

# BM25 constants shared by the Spark query and the SQL oracle. The
# oracle recomputes N/avgdl in-query; the operator collects the same two
# numbers driver-side — both end up as IEEE doubles in the same formula.
_BM25_TERMS = ("join", "slow", "vector")
_BM25_IDF = "ln(1.0 + (CAST(st.n AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5))"
_BM25_TF = (
    "CAST(p.tf AS DOUBLE) * 2.2 / (CAST(p.tf AS DOUBLE)"
    " + 1.2 * (0.25 + 0.75 * CAST(p.dl AS DOUBLE) / st.avgdl))"
)


@register(
    "q114_bm25_topk",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, string_split_regex(norm, '\\s+') AS tk
      FROM nm WHERE length(norm) > 0
    ),
    base AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS tok FROM t),
    p AS (
      SELECT tok, doc_id, count(*) AS tf, max(dl) AS dl FROM base
      WHERE tok IN ('join', 'slow', 'vector') GROUP BY 1, 2
    ),
    st AS (
      SELECT (SELECT count(*) FROM documents) AS n,
             CAST((SELECT sum(len(tk)) FROM t) AS DOUBLE)
               / (SELECT count(*) FROM documents) AS avgdl
    ),
    dfq AS (SELECT tok, count(*) AS df FROM p GROUP BY 1),
    sc AS (
      SELECT p.doc_id, count(*) AS n_terms,
             sum({_BM25_IDF} * {_BM25_TF}) AS score
      FROM p JOIN dfq USING (tok) CROSS JOIN st
      GROUP BY 1
    )
    SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
           {_Q6.format(x='score')} AS score
    FROM sc ORDER BY 3 DESC, 1 LIMIT 10
    """,
)
def q114(spark, sf_dir):
    """Exact BM25 top-10 for a 3-term keyword query (pipeline/
    retrieval.py bm25_topk) — the corpus-search primitive behind
    decontamination audits and targeted subset extraction. One text
    scan (term filter lands right after the explode), |terms|-row df
    table broadcast, quantize-then-rank so the cut is engine-stable.
    The persisted partition-pruned twin (write_inverted_index /
    bm25_index_topk) is parity-pinned in tests/test_retrieval.py."""
    return rt.bm25_topk(
        _table(spark, sf_dir, "documents"), list(_BM25_TERMS), k=10
    )


# Hashed-feature logistic regression, 2 full-batch steps unrolled in
# SQL (same shape as q112's unrolled BPE oracle). lr = 1.0.
_LRF = """
    nm AS (SELECT doc_id, CAST(lang = 'en' AS DOUBLE) AS y, {norm} AS norm
           FROM documents),
    tkk AS (SELECT doc_id, y, string_split_regex(norm, '\\s+') AS t
            FROM nm WHERE length(norm) > 0),
    tok AS (SELECT doc_id, y, unnest(t) AS tok FROM tkk),
    fb AS (SELECT doc_id, y, substr(md5(tok), 1, 2) AS b, count(*) AS tf
           FROM tok GROUP BY 1, 2, 3),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM fb GROUP BY 1),
    f AS (
      SELECT fb.doc_id, fb.y, fb.b, CAST(fb.tf AS DOUBLE) / dl.dl AS x
      FROM fb JOIN dl USING (doc_id)
      UNION ALL
      SELECT doc_id, y, '__bias__' AS b, 1.0 AS x FROM nm
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents)
"""


@register(
    "q115_lr_classifier",
    f"""
    WITH {_LRF.format(norm=_NORM)},
    g1 AS (SELECT b, sum((0.5 - y) * x) / max(n.nd) AS g FROM f, n GROUP BY 1),
    w1 AS (SELECT b, 0.0 - g AS w FROM g1),
    z2 AS (
      SELECT f.doc_id, f.y, sum(coalesce(w1.w, 0.0) * f.x) AS z
      FROM f LEFT JOIN w1 USING (b) GROUP BY 1, 2
    ),
    e2 AS (SELECT doc_id, 1.0 / (1.0 + exp(-z)) - y AS err FROM z2),
    g2 AS (
      SELECT f.b, sum(e2.err * f.x) / max(n.nd) AS g
      FROM f JOIN e2 USING (doc_id), n GROUP BY 1
    ),
    w2 AS (SELECT w1.b, w1.w - g2.g AS w FROM w1 JOIN g2 USING (b)),
    zf AS (
      SELECT f.doc_id, sum(coalesce(w2.w, 0.0) * f.x) AS z
      FROM f LEFT JOIN w2 USING (b) GROUP BY 1
    )
    SELECT doc_id, {_Q6.format(x='1.0 / (1.0 + exp(-z))')} AS p
    FROM zf
    """,
)
def q115(spark, sf_dir):
    """fastText-style hashed-feature logistic regression (pipeline/
    classify.py), trained 2 full-batch steps on the label lang = 'en'
    and scored over every doc — the quality/language-filter stage of an
    LLM curation pipeline with kmeans_lloyd's driver-held-model shape:
    per step one pass over a persisted (doc, bucket, x) table, ≤257
    gradient partials to the driver. The oracle unrolls both steps in
    SQL (q112's trick), pinning margins, gradients, and the final
    sigmoid scores end to end."""
    out = clf.lr_quality_scores(
        _table(spark, sf_dir, "documents"), F.col("lang") == "en", steps=2
    )
    return out.select("doc_id", q6(F.col("p")).alias("p"))


@register(
    "q116_dsir_weights",
    f"""
    WITH nm AS (SELECT doc_id, (lang = 'en') AS is_t, {_NORM} AS norm
                FROM documents),
    t AS (
      SELECT doc_id, is_t, unnest(string_split_regex(norm, '\\s+')) AS tok
      FROM nm WHERE length(norm) > 0
    ),
    pd AS (SELECT doc_id, is_t, substr(md5(tok), 1, 2) AS b, count(*) AS tf
           FROM t GROUP BY 1, 2, 3),
    lm AS (
      SELECT b, sum(tf) AS c_raw,
             sum(CASE WHEN is_t THEN tf ELSE 0 END) AS c_tgt
      FROM pd GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(c_raw) AS DOUBLE) AS t_raw,
                   CAST(sum(c_tgt) AS DOUBLE) AS t_tgt FROM lm),
    lw AS (
      SELECT b, ln((CAST(c_tgt AS DOUBLE) + 1.0) / (t_tgt + 256.0))
               - ln((CAST(c_raw AS DOUBLE) + 1.0) / (t_raw + 256.0)) AS llr
      FROM lm, tot
    ),
    w AS (
      SELECT pd.doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             sum(CAST(tf AS DOUBLE) * lw.llr) AS log_w
      FROM pd JOIN lw USING (b) GROUP BY 1
    )
    SELECT d.doc_id, coalesce(w.n_tokens, 0) AS n_tokens,
           {_Q6.format(x='w.log_w')} AS log_w
    FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
    """,
)
def q116(spark, sf_dir):
    """DSIR importance weights (pipeline/sample.py dsir_weights, after
    Xie et al. arXiv:2302.03169): add-one-smoothed hashed-unigram LMs
    for the target slice (lang = 'en') vs the raw corpus, per-doc
    token-wise log-likelihood ratio. High weight = target-like; the
    resample itself composes with the deterministic hash samplers. One
    text scan; LMs are a 256-row broadcast."""
    out = sp.dsir_weights(
        _table(spark, sf_dir, "documents"), F.col("lang") == "en"
    )
    return out.select("doc_id", "n_tokens", q6(F.col("log_w")).alias("log_w"))


@register(
    "q117_weighted_sample",
    f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             substr(md5('w0:' || CAST(doc_id AS VARCHAR)), 1, 6) AS hx
      FROM documents WHERE n_chars > 0
    ),
    kx AS (
      SELECT doc_id, n_chars,
             ln((list_aggregate(
                   [ (strpos('0123456789abcdef', hx[i]) - 1) * (16 ** (6 - i))
                     for i in generate_series(1, 6)], 'sum') + 0.5)
                 / 16777216.0) / CAST(n_chars AS DOUBLE) AS key
      FROM h
    )
    SELECT doc_id, n_chars, {_Q6.format(x='key')} AS sample_key
    FROM kx ORDER BY kx.key DESC, doc_id LIMIT 50
    """,
)
def q117(spark, sf_dir):
    """Deterministic weighted sampling without replacement (pipeline/
    sample.py weighted_sample, Efraimidis-Spirakis A-ES): 50 docs drawn
    proportionally to n_chars via the md5-uniform key ln(u)/w — the
    token-budget-aware cousin of hash_sample, idempotent under retries
    and reproducible in SQL (the oracle Horner-decodes the same 24-bit
    draw). One codegen'd scan + TakeOrdered."""
    d = _table(spark, sf_dir, "documents")
    out = sp.weighted_sample(d, F.col("n_chars"), k=50)
    return out.select("doc_id", "n_chars", q6(F.col("sample_key")).alias("sample_key"))


_JL_PLANE = (
    "(CASE WHEN substr(md5('srp:11:' || b || ':' || (i-1)), 1, 1) >= '8'"
    " THEN 1.0 ELSE -1.0 END)"
)


@register(
    "q118_jl_project",
    f"""
    SELECT vec_id, b,
           list_sum([{_JL_PLANE} * CAST(embedding[i] AS DOUBLE)
                     for i in generate_series(1, len(embedding))]) * 0.25 AS v
    FROM embeddings, generate_series(0, 15) t(b)
    """,
)
def q118(spark, sf_dir):
    """Johnson-Lindenstrauss 64→16 compression (pipeline/similarity.py
    jl_project, Achlioptas ±1 planes): 4x less embedding I/O for every
    downstream scan. The numpy kernel accumulates in SQL fold order, so
    the exploded components compare at FULL precision — no quantization
    in this oracle (the q106 exactness bar). 16 components = 1/sqrt(16)
    scale, exact in binary."""
    out = sim.jl_project(_table(spark, sf_dir, "embeddings"), out_dim=16, seed=11)
    return out.select(
        "vec_id", F.posexplode("jl").alias("b", "v")
    )


@register(
    "q119_corpus_report",
    f"""
    WITH nm AS (
      SELECT source, doc_id, {_NORM} AS norm, length(text) AS nc FROM documents
    ),
    b AS (
      SELECT source, doc_id, nc,
             CASE WHEN norm IS NULL THEN NULL ELSE md5(norm) END AS dig,
             CASE WHEN norm IS NULL THEN NULL
                  WHEN length(norm) = 0 THEN 0
                  ELSE len(string_split_regex(norm, '\\s+')) END AS nt
      FROM nm
    ),
    dc AS (SELECT dig, count(*) AS n_same FROM b WHERE dig IS NOT NULL GROUP BY 1),
    m AS (SELECT b.*, dc.n_same FROM b LEFT JOIN dc USING (dig)),
    a AS (
      SELECT source, count(*) AS n_docs,
             CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_tokens,
             CAST(coalesce(sum(nc), 0) AS BIGINT) AS n_chars,
             CAST(count(CASE WHEN coalesce(nt, 0) = 0 THEN 1 END) AS BIGINT)
               AS n_empty,
             CAST(count(CASE WHEN n_same >= 2 THEN 1 END) AS BIGINT) AS n_dup_docs
      FROM m GROUP BY 1
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens, n_chars,
           n_empty, n_dup_docs,
           {_Q6.format(x='''CASE WHEN sum(n_tokens) OVER () = 0 THEN 0.0
              ELSE CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)
              END''')} AS pct_tokens
    FROM a
    """,
)
def q119(spark, sf_dir):
    """Dataset card (pipeline/text.py corpus_report): per-source docs,
    token/char mass, empty docs, cross-source exact-duplication, and
    token share — the release-manifest table next to the shards. One
    text scan + a digest-count equi-join (never broadcast: the digest
    side is doc-cardinality)."""
    out = tx.corpus_report(_table(spark, sf_dir, "documents"))
    return out.select(
        "source", "n_docs", "n_tokens", "n_chars", "n_empty", "n_dup_docs",
        q6(F.col("pct_tokens")).alias("pct_tokens"),
    )


@register(
    "q120_bpe_fertility",
    f"""
    WITH {{ctes}},
    docmap AS (SELECT doc_id, lang FROM documents),
    enc AS (
      SELECT dt.doc_id, count(*) AS n_words, sum(wsub.nsub) AS n_subwords
      FROM dt JOIN wsub USING (w) GROUP BY dt.doc_id
    )
    SELECT d.lang, CAST(sum(enc.n_words) AS BIGINT) AS n_words,
           CAST(sum(enc.n_subwords) AS BIGINT) AS n_subwords,
           {{q6}} AS fertility
    FROM enc JOIN docmap d USING (doc_id)
    GROUP BY d.lang
    """.format(
        ctes=_BPE_REPLAY_CTES,
        q6=_Q6.format(
            x="CAST(sum(enc.n_subwords) AS DOUBLE) / CAST(sum(enc.n_words) AS DOUBLE)"
        ),
    ),
)
def q120(spark, sf_dir):
    """Tokenizer fertility per language: subwords emitted per word under
    the 3-merge BPE table — the per-language tokenizer-quality metric a
    multilingual corpus tracks (a lang the merges never learned pays
    more subwords per word). Pure composition: bpe_train → bpe_encode →
    lang join → ratio; the oracle reuses q113's replay CTE chain."""
    d = _table(spark, sf_dir, "documents")
    enc = tx.bpe_encode(d, tx.bpe_train(d, num_merges=3))
    agg = enc.join(d.select("doc_id", "lang"), "doc_id").groupBy("lang").agg(
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_subwords").cast("bigint").alias("n_subwords"),
    )
    fert = F.col("n_subwords").cast("double") / F.col("n_words").cast("double")
    return agg.select(
        "lang", "n_words", "n_subwords", q6(fert).alias("fertility")
    )


@register(
    "q121_ks_drift",
    f"""
    WITH s AS (
      SELECT value AS v, (event_type = 'click') AS is_a FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    pv AS (
      SELECT v, count(CASE WHEN is_a THEN 1 END) AS na,
             count(CASE WHEN NOT is_a THEN 1 END) AS nb
      FROM s GROUP BY 1
    ),
    c AS (
      SELECT v,
             sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
             sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb,
             sum(na) OVER () AS ta, sum(nb) OVER () AS tb
      FROM pv
    ),
    r AS (
      SELECT v, ta, tb,
             abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta) AS num
      FROM c WHERE ta > 0 AND tb > 0
    )
    SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
           {_Q6.format(x='CAST(num AS DOUBLE) / CAST(CAST(ta AS HUGEINT) * tb AS DOUBLE)')}
             AS ks,
           v AS ks_at
    FROM r ORDER BY num DESC, v LIMIT 1
    """,
)
def q121(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov drift test (operators/
    drift.py ks_drift): click vs non-click event values — the numeric
    data-quality twin of q98's vocab drift. The argmax ranks on the
    exact integer numerator |ca*tb - cb*ta| (no float in the ordering),
    so the attained-at value is engine-exact; the shuffle carries one
    row per distinct value."""
    from ticktock_spark.operators.drift import ks_drift

    ev = _table(spark, sf_dir, "events")
    return ks_drift(ev, F.col("event_type") == "click")


@register(
    "q122_categorical_drift",
    f"""
    WITH s AS (
      SELECT lang AS c,
             (source IN ('src0', 'src1', 'src2', 'src3', 'src4')) AS is_a
      FROM documents
      WHERE lang IS NOT NULL
        AND (source IN ('src0', 'src1', 'src2', 'src3', 'src4')) IS NOT NULL
    ),
    pc AS (
      SELECT c, count(CASE WHEN is_a THEN 1 END) AS na,
             count(CASE WHEN NOT is_a THEN 1 END) AS nb
      FROM s GROUP BY 1
    ),
    w AS (
      SELECT c, na, nb, sum(na) OVER () AS ta, sum(nb) OVER () AS tb,
             count(*) OVER () AS k
      FROM pc
    ),
    cells AS (
      SELECT ta, tb, k,
             (CAST(na AS DOUBLE)
                - CAST(na + nb AS DOUBLE) * CAST(ta AS DOUBLE)
                    / CAST(ta + tb AS DOUBLE))
             * (CAST(na AS DOUBLE)
                - CAST(na + nb AS DOUBLE) * CAST(ta AS DOUBLE)
                    / CAST(ta + tb AS DOUBLE))
             / (CAST(na + nb AS DOUBLE) * CAST(ta AS DOUBLE)
                    / CAST(ta + tb AS DOUBLE))
             + (CAST(nb AS DOUBLE)
                - CAST(na + nb AS DOUBLE) * CAST(tb AS DOUBLE)
                    / CAST(ta + tb AS DOUBLE))
             * (CAST(nb AS DOUBLE)
                - CAST(na + nb AS DOUBLE) * CAST(tb AS DOUBLE)
                    / CAST(ta + tb AS DOUBLE))
             / (CAST(na + nb AS DOUBLE) * CAST(tb AS DOUBLE)
                    / CAST(ta + tb AS DOUBLE)) AS cell,
             ((CAST(na AS DOUBLE) + 1.0)
                / (CAST(ta AS DOUBLE) + CAST(k AS DOUBLE))
              - (CAST(nb AS DOUBLE) + 1.0)
                / (CAST(tb AS DOUBLE) + CAST(k AS DOUBLE)))
             * (ln((CAST(na AS DOUBLE) + 1.0)
                   / (CAST(ta AS DOUBLE) + CAST(k AS DOUBLE)))
                - ln((CAST(nb AS DOUBLE) + 1.0)
                     / (CAST(tb AS DOUBLE) + CAST(k AS DOUBLE)))) AS psic
      FROM w
    )
    SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
           CAST(k AS BIGINT) AS n_categories,
           {_Q6.format(x='sum(cell)')} AS chi2,
           {_Q6.format(x='sum(psic)')} AS psi
    FROM cells GROUP BY ta, tb, k
    """,
)
def q122(spark, sf_dir):
    """Categorical drift of the language mix: sources src0-src4 vs the
    rest (operators/drift.py categorical_drift) — Pearson chi-square
    plus Population Stability Index with add-one smoothing, the report
    a corpus-intake gate alarms on. Category-bounded shuffle."""
    from ticktock_spark.operators.drift import categorical_drift

    d = _table(spark, sf_dir, "documents")
    return categorical_drift(
        d, F.col("source").isin("src0", "src1", "src2", "src3", "src4"), "lang"
    )


@register(
    "q123_intake_report",
    f"""
    WITH newd AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
    corp AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    nd AS (SELECT doc_id, md5({_NORM}) AS dig FROM newd),
    cd AS (SELECT DISTINCT md5({_NORM}) AS dig FROM corp),
    n1 AS (SELECT count(*) AS n_new FROM newd),
    n2 AS (
      SELECT count(*) AS n_dup_exact FROM nd
      WHERE dig IN (SELECT dig FROM cd WHERE dig IS NOT NULL)
    ),
    n3 AS (
      SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS n_dup_internal
      FROM (SELECT dig, count(*) AS c FROM nd WHERE dig IS NOT NULL GROUP BY 1)
    ),
    tagged AS (
      SELECT FALSE AS is_a, lang AS c,
             CASE WHEN {_NORM} IS NULL THEN NULL
                  WHEN length({_NORM}) = 0 THEN 0.0
                  ELSE CAST(len(string_split_regex({_NORM}, '\\s+')) AS DOUBLE)
             END AS v
      FROM newd
      UNION ALL
      SELECT TRUE, lang,
             CASE WHEN {_NORM} IS NULL THEN NULL
                  WHEN length({_NORM}) = 0 THEN 0.0
                  ELSE CAST(len(string_split_regex({_NORM}, '\\s+')) AS DOUBLE)
             END
      FROM corp
    ),
    pc AS (
      SELECT c, count(CASE WHEN is_a THEN 1 END) AS na,
             count(CASE WHEN NOT is_a THEN 1 END) AS nb
      FROM tagged WHERE c IS NOT NULL GROUP BY 1
    ),
    wps AS (
      SELECT c, na, nb, sum(na) OVER () AS ta, sum(nb) OVER () AS tb,
             count(*) OVER () AS k
      FROM pc
    ),
    psi AS (
      SELECT {_Q6.format(x='''sum(
        ((CAST(na AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + CAST(k AS DOUBLE))
         - (CAST(nb AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + CAST(k AS DOUBLE)))
        * (ln((CAST(na AS DOUBLE) + 1.0)
              / (CAST(ta AS DOUBLE) + CAST(k AS DOUBLE)))
           - ln((CAST(nb AS DOUBLE) + 1.0)
                / (CAST(tb AS DOUBLE) + CAST(k AS DOUBLE)))))''')} AS lang_psi
      FROM wps GROUP BY ta, tb, k
    ),
    pv AS (
      SELECT v, count(CASE WHEN is_a THEN 1 END) AS na,
             count(CASE WHEN NOT is_a THEN 1 END) AS nb
      FROM tagged WHERE v IS NOT NULL GROUP BY 1
    ),
    cks AS (
      SELECT v,
             sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
             sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb,
             sum(na) OVER () AS ta, sum(nb) OVER () AS tb
      FROM pv
    ),
    rks AS (
      SELECT v, ta, tb,
             abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta) AS num
      FROM cks WHERE ta > 0 AND tb > 0
    ),
    ks AS (
      SELECT {_Q6.format(x='CAST(num AS DOUBLE) / CAST(CAST(ta AS HUGEINT) * tb AS DOUBLE)')}
               AS len_ks
      FROM rks ORDER BY num DESC, v LIMIT 1
    ),
    {_GOPHER_CTES.replace("__SRC__", "newd")},
    gp AS (
      SELECT {_Q6.format(x='''CAST(count(CASE WHEN
        flag_word_count AND flag_mean_word_len AND flag_symbol_ratio
        AND flag_bullets AND flag_ellipsis AND flag_alpha AND flag_stopwords
        THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)''')} AS gopher_pass_frac
      FROM fl
    )
    SELECT CAST(n_new AS BIGINT) AS n_new,
           CAST(n_dup_exact AS BIGINT) AS n_dup_exact,
           n_dup_internal, lang_psi, len_ks, gopher_pass_frac
    FROM n1, n2, n3, psi, ks, gp
    """,
)
def q123(spark, sf_dir):
    """Corpus intake gate (pipeline/sample.py intake_report): the
    one-row go/no-go report before merging a delivery — batch size,
    exact-dup overlap with the standing corpus, within-batch dup mass,
    language-mix PSI, token-length KS, and Gopher pass rate. Every
    statistic is a scalar composed from the drift/dedup/quality
    operators; the oracle reuses the q66 gopher CTEs and the q121/q122
    drift mirrors."""
    d = _table(spark, sf_dir, "documents")
    return sp.intake_report(
        d.filter(F.col("doc_id") % 5 == 0), d.filter(F.col("doc_id") % 5 != 0)
    )


@register(
    "q124_embedding_drift",
    f"""
    WITH s AS (
      SELECT embedding AS e, (label = 0) AS is_a FROM embeddings
      WHERE embedding IS NOT NULL AND label IS NOT NULL
    ),
    ex AS (
      SELECT is_a, u.i AS pos, CAST(e[u.i] AS DOUBLE) AS x
      FROM s, LATERAL unnest(range(1, len(e) + 1)) u(i)
    ),
    pd AS (
      SELECT pos, avg(CASE WHEN is_a THEN x END) AS ma,
             avg(CASE WHEN NOT is_a THEN x END) AS mb
      FROM ex GROUP BY 1
    ),
    c AS (
      SELECT count(CASE WHEN is_a THEN 1 END) AS n_a,
             count(CASE WHEN NOT is_a THEN 1 END) AS n_b
      FROM s
    ),
    r AS (
      SELECT sum(ma * mb) AS dot, sum(ma * ma) AS na2,
             sum(mb * mb) AS nb2,
             sum((ma - mb) * (ma - mb)) AS d2
      FROM pd
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           {_Q6.format(x='dot / (sqrt(na2) * sqrt(nb2))')} AS centroid_cosine,
           {_Q6.format(x='sqrt(d2)')} AS centroid_l2
    FROM c, r
    """,
)
def q124(spark, sf_dir):
    """Embedding-space drift (operators/drift.py embedding_drift):
    centroid cosine + L2 between the label-0 slice and the rest — the
    modality that completes the drift family (numeric KS, categorical
    PSI, vocabulary KL, embedding centroid). Dimension-bounded shuffle
    with map-side partials."""
    from ticktock_spark.operators.drift import embedding_drift

    return embedding_drift(
        _table(spark, sf_dir, "embeddings"), F.col("label") == 0
    )


@register(
    "q125_bm25_all_terms",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, string_split_regex(norm, '\\s+') AS tk
      FROM nm WHERE length(norm) > 0
    ),
    base AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS tok FROM t),
    p AS (
      SELECT tok, doc_id, count(*) AS tf, max(dl) AS dl FROM base
      WHERE tok IN ('join', 'slow', 'vector') GROUP BY 1, 2
    ),
    st AS (
      SELECT (SELECT count(*) FROM documents) AS n,
             CAST((SELECT sum(len(tk)) FROM t) AS DOUBLE)
               / (SELECT count(*) FROM documents) AS avgdl
    ),
    dfq AS (SELECT tok, count(*) AS df FROM p GROUP BY 1),
    sc AS (
      SELECT p.doc_id, count(*) AS n_terms,
             sum({_BM25_IDF} * {_BM25_TF}) AS score
      FROM p JOIN dfq USING (tok) CROSS JOIN st
      GROUP BY 1 HAVING count(*) = 3
    )
    SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
           {_Q6.format(x='score')} AS score
    FROM sc ORDER BY 3 DESC, 1 LIMIT 10
    """,
)
def q125(spark, sf_dir):
    """Conjunctive BM25 (require_all=True): only docs containing EVERY
    query term rank — the decontamination-audit mode ('find the docs
    that contain this whole query'). Same single-scan shape as q114;
    the AND cut filters the aggregated (doc, n_terms) rows."""
    return rt.bm25_topk(
        _table(spark, sf_dir, "documents"), list(_BM25_TERMS), k=10,
        require_all=True,
    )


# ---------------------------------------------------------------------------
# model evaluation / curriculum / rerank / tokenizer roundtrip
# ---------------------------------------------------------------------------

#: q30's quality score as a (doc_id, source, y, score) CTE chain — the
#: scored frame classifier evaluation consumes (label: lang = 'en').
_QUALITY_SCORED = f"""
    s0 AS (
      SELECT doc_id, source, CAST(lang = 'en' AS BIGINT) AS y, {_TOKS} AS n_tokens,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST({_PUNCT} AS DOUBLE) / length(text) END AS pr,
             {_SW['en']} AS sw
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    s AS (
      SELECT doc_id, source, y,
             {_Q6.format(x='''greatest(0.0, least(1.0,
               0.5 * (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(sw AS DOUBLE) / n_tokens END) * 5.0
               + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
               + 0.2 * (1.0 - pr * 4.0)))''')} AS score
      FROM s0
    )
"""


@register(
    "q130_classifier_eval",
    f"""
    WITH {_QUALITY_SCORED},
    by AS (
      SELECT score, count(*) AS cnt, sum(y) AS pos FROM s GROUP BY 1
    ),
    per AS (
      SELECT score, pos, cnt - pos AS neg,
             coalesce(sum(cnt - pos) OVER (
               ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM by
    ),
    a AS (
      SELECT sum(pos) AS n_pos, sum(neg) AS n_neg,
             sum(CAST(pos AS HUGEINT) * (2 * neg_below + neg)) AS u2,
             sum(CASE WHEN score >= 0.5 THEN pos ELSE 0 END) AS tp,
             sum(CASE WHEN score >= 0.5 THEN neg ELSE 0 END) AS fp
      FROM per
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             {_Q6.format(x='CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))')}
           END AS auc,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(n_pos - tp AS BIGINT) AS fn, CAST(n_neg - fp AS BIGINT) AS tn,
           CASE WHEN tp + fp > 0 THEN
             {_Q6.format(x='CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)')}
           END AS precision,
           CASE WHEN n_pos > 0 THEN
             {_Q6.format(x='CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE)')}
           END AS recall
    FROM a
    """,
)
def q130(spark, sf_dir):
    """Classifier evaluation (pipeline/classify.py classifier_eval):
    exact tie-corrected ROC-AUC + confusion counts at threshold 0.5 for
    the heuristic quality score treated as an English-document
    classifier — the report a curation pipeline reads before turning a
    filter signal into a keep/drop rule. AUC is the Mann-Whitney
    statistic kept in the integer domain (U2 = Σ pos·(2·neg_below +
    neg), one double division at the end) so DuckDB reproduces it
    bit-for-bit; the cumulative window runs over DISTINCT quantized
    scores (≤ 1e6+1 rows at any corpus size)."""
    d = _table(spark, sf_dir, "documents")
    scored = d.select(
        (F.col("lang") == "en").alias("y"),
        q6(tx.quality_score(F.col("text"))).alias("score"),
    )
    out = clf.classifier_eval(scored, score_col="score", label_col="y")
    return out.select(
        "n_pos", "n_neg", q6(F.col("auc")).alias("auc"),
        "tp", "fp", "fn", "tn",
        q6(F.col("precision")).alias("precision"),
        q6(F.col("recall")).alias("recall"),
    )


@register(
    "q131_bpe_roundtrip",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents)
    SELECT doc_id, replace(norm, ' ', '') AS decoded,
           CAST(0 AS BIGINT) AS n_bad
    FROM nm WHERE length(norm) > 0
    """,
)
def q131(spark, sf_dir):
    """Tokenizer ROUNDTRIP: train 3 merges, encode every doc to token
    ids, decode the ids back through the vocab (pipeline/text.py
    bpe_decode_ids). The oracle is the losslessness theorem itself —
    merges only concatenate within words and the vocab is injective on
    ids, so decode∘encode must equal the normalized text with spaces
    elided; any replay, id-assignment, or decode-join defect breaks the
    hash. Decode is a broadcast vocab join + one doc-keyed shuffle (no
    map-literal, so a 32k production vocab works unchanged)."""
    d = _table(spark, sf_dir, "documents")
    m = tx.bpe_train(d, num_merges=3)
    v = tx.bpe_vocab(d, m)
    enc = tx.bpe_encode_ids(d, m, vocab_df=v)
    return tx.bpe_decode_ids(enc, v)


from ticktock_spark.pipeline.sample import curriculum_weights as _cw  # noqa: E402

#: curriculum: anneal a diversity-flat mix toward an en-heavy mix
_CURR_START = {"en": 0.25, "de": 0.25, "fr": 0.25, "es": 0.25}
_CURR_END = {"en": 0.7, "de": 0.1, "fr": 0.1, "es": 0.1}
_CURR_PHASES = 3
_CURR_BUDGET = 50_000
_CURR_VALUES = ", ".join(
    f"({p}, '{s}', CAST({w!r} AS DOUBLE))"
    for p, s, w in _cw(_CURR_START, _CURR_END, _CURR_PHASES)
)


@register(
    "q132_curriculum_plan",
    f"""
    WITH w(phase, lang, weight) AS (VALUES {_CURR_VALUES}),
    per AS (
      SELECT lang,
             CAST(sum(CASE WHEN length(trim(text)) = 0 OR text IS NULL THEN 0
                           ELSE len(string_split_regex(trim(text), '\\s+')) END)
                  AS BIGINT) AS available_tokens
      FROM documents GROUP BY 1
    ),
    j AS (
      SELECT w.phase, w.lang, w.weight,
             coalesce(per.available_tokens, 0) AS available_tokens,
             w.weight * {float(_CURR_BUDGET)} AS target
      FROM w LEFT JOIN per USING (lang)
    )
    SELECT phase, lang, {_Q6.format(x='weight')} AS weight,
           available_tokens,
           {_Q6.format(x='target')} AS target_tokens,
           {_Q6.format(x='''CASE WHEN available_tokens > 0
             THEN least(1.0, target / CAST(available_tokens AS DOUBLE))
             ELSE 0.0 END''')} AS rate,
           {_Q6.format(x='greatest(0.0, target - CAST(available_tokens AS DOUBLE))')}
             AS shortfall
    FROM j
    """,
)
def q132(spark, sf_dir):
    """Curriculum mixture planner (pipeline/sample.py
    curriculum_schedule): 3 training phases annealing a flat 4-language
    mix toward an en-heavy mix, each phase a 50k-token mixture_plan.
    The phase weights are interpolated ONCE driver-side
    (curriculum_weights) and shared as literals with the oracle, so
    both engines compute identical targets/rates; availability is one
    strata-bounded aggregation broadcast-joined to the weight
    literals. The rates feed stratified_sample with a per-phase seed —
    sampling stays a scan-side hash filter per phase."""
    d = _table(spark, sf_dir, "documents").withColumn(
        "n_tokens", tx.token_count(F.col("text")).cast("long")
    )
    plan = sp.curriculum_schedule(
        d, _CURR_START, _CURR_END, _CURR_PHASES, _CURR_BUDGET
    )
    return plan.select(
        "phase",
        "lang",
        q6(F.col("weight")).alias("weight"),
        "available_tokens",
        q6(F.col("target_tokens")).alias("target_tokens"),
        q6(F.col("rate")).alias("rate"),
        q6(F.col("shortfall")).alias("shortfall"),
    )


def _mmr_oracle_sql(lam: float, k: int, m: int, nq: int) -> str:
    """Unrolled greedy MMR in SQL (q115's unrolled-GD trick applied to
    selection): k argmax stages, each joining the candidate set against
    the selected-so-far ids. ``lam`` and ``1 - lam`` are interpolated
    as repr literals so the driver loop's Python doubles and the
    oracle's arithmetic are the same bits (1 - 0.7 is NOT 0.3 in
    IEEE; both sides must use the same constant)."""
    oml = 1.0 - lam
    cos = _Q6.format(x=f"({_DOT}) / ({_NRM_C} * {_NRM_Q})")
    parts = [
        f"""
    cand0 AS (
      SELECT q.vec_id AS query_id, c.vec_id, {cos} AS rel
      FROM embeddings c, embeddings q
      WHERE q.vec_id < {nq} AND c.vec_id <> q.vec_id
    ),
    cand AS (
      SELECT query_id, vec_id, rel FROM (
        SELECT query_id, vec_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, vec_id) AS r
        FROM cand0) WHERE r <= {m}
    ),
    pr AS (
      SELECT a.query_id, c.vec_id AS ida, q.vec_id AS idb, {cos} AS sim
      FROM cand a
      JOIN cand b ON b.query_id = a.query_id AND b.vec_id <> a.vec_id
      JOIN embeddings c ON c.vec_id = a.vec_id
      JOIN embeddings q ON q.vec_id = b.vec_id
    ),
    s1 AS (
      SELECT query_id, vec_id, CAST({lam!r} AS DOUBLE) * rel AS mmr FROM (
        SELECT query_id, vec_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, vec_id) AS r
        FROM cand) WHERE r = 1
    ),
    sel1 AS (SELECT query_id, vec_id FROM s1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""",
    m{i} AS (
      SELECT c.query_id, c.vec_id,
             CAST({lam!r} AS DOUBLE) * c.rel
               - CAST({oml!r} AS DOUBLE) * max(p.sim) AS mmr
      FROM cand c
      JOIN pr p ON p.query_id = c.query_id AND p.ida = c.vec_id
      JOIN sel{i - 1} s ON s.query_id = p.query_id AND s.vec_id = p.idb
      WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} x
                        WHERE x.query_id = c.query_id
                          AND x.vec_id = c.vec_id)
      GROUP BY c.query_id, c.vec_id, c.rel
    ),
    s{i} AS (
      SELECT query_id, vec_id, mmr FROM (
        SELECT query_id, vec_id, mmr,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY mmr DESC, vec_id) AS r
        FROM m{i}) WHERE r = 1
    ),
    sel{i} AS (SELECT query_id, vec_id FROM sel{i - 1}
               UNION ALL SELECT query_id, vec_id FROM s{i})"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT query_id, {i} AS rank, vec_id, mmr FROM s{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH "
        + "".join(parts)
        + f"""
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
           {_Q6.format(x='mmr')} AS mmr
    FROM ({union})
    """
    )


@register("q133_mmr_rerank", _mmr_oracle_sql(0.7, 5, 20, 2))
def q133(spark, sf_dir):
    """MMR-diversified retrieval (pipeline/similarity.py mmr_rerank):
    for 2 query vectors, greedily pick 5 of the top-20 cosine
    candidates maximizing λ·relevance − (1−λ)·max-similarity-to-picked
    (λ=0.7) — the diversification pass after candidate generation. The
    oracle unrolls all 5 greedy stages in SQL; relevance and pairwise
    sims both go through the fold-order-exact block kernel + q6, so
    the driver-side argmax and the SQL argmax see identical doubles."""
    e = _table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.mmr_rerank(e, q, k=5, m=20, lam=0.7)


@register(
    "q134_lsh_audit",
    _minhash_cte()
    + f"""
    , ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    tr0 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh) AS n FROM sh),
    tr AS (
      SELECT id_a, id_b FROM tr0
      JOIN sz sa ON sa.doc_id = tr0.id_a
      JOIN sz sb ON sb.doc_id = tr0.id_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
    ),
    f AS (
      SELECT coalesce(t.in_t, 0) AS in_t, coalesce(c.in_c, 0) AS in_c
      FROM (SELECT id_a, id_b, 1 AS in_t FROM tr) t
      FULL JOIN (SELECT id_a, id_b, 1 AS in_c FROM cand) c
        USING (id_a, id_b)
    ),
    a AS (
      SELECT sum(in_t) AS n_truth, sum(in_c) AS n_cand,
             sum(in_t * in_c) AS n_hit
      FROM f
    )
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_cand AS BIGINT) AS n_cand,
           CAST(n_hit AS BIGINT) AS n_hit,
           CASE WHEN n_cand > 0 THEN
             {_Q6.format(x='CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)')}
           END AS precision,
           CASE WHEN n_truth > 0 THEN
             {_Q6.format(x='CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)')}
           END AS recall
    FROM a
    """,
)
def q134(spark, sf_dir):
    """Dedup-config audit (pipeline/dedup.py lsh_audit): MinHash-LSH
    (8 hashes × 4 bands) candidate pairs measured against the exact
    shared-shingle Jaccard ≥ 0.2 ground truth — one row of candidate
    precision (verification work wasted) and recall (true near-dups
    the banding misses), the go/no-go numbers read before committing a
    banding config to a 100 TB dedup run. Ratios are single divisions
    of exact pair counts."""
    out = dd.lsh_audit(_table(spark, sf_dir, "documents"), threshold=0.2)
    return out.select(
        "n_truth", "n_cand", "n_hit",
        q6(F.col("precision")).alias("precision"),
        q6(F.col("recall")).alias("recall"),
    )


@register(
    "q135_eval_per_source",
    f"""
    WITH {_QUALITY_SCORED},
    by AS (
      SELECT source, score, count(*) AS cnt, sum(y) AS pos
      FROM s GROUP BY 1, 2
    ),
    per AS (
      SELECT source, score, pos, cnt - pos AS neg,
             coalesce(sum(cnt - pos) OVER (
               PARTITION BY source ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM by
    ),
    a AS (
      SELECT source, sum(pos) AS n_pos, sum(neg) AS n_neg,
             sum(CAST(pos AS HUGEINT) * (2 * neg_below + neg)) AS u2,
             sum(CASE WHEN score >= 0.5 THEN pos ELSE 0 END) AS tp,
             sum(CASE WHEN score >= 0.5 THEN neg ELSE 0 END) AS fp
      FROM per GROUP BY 1
    )
    SELECT source,
           CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             {_Q6.format(x='CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))')}
           END AS auc,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CASE WHEN tp + fp > 0 THEN
             {_Q6.format(x='CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)')}
           END AS precision,
           CASE WHEN n_pos > 0 THEN
             {_Q6.format(x='CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE)')}
           END AS recall
    FROM a
    """,
)
def q135(spark, sf_dir):
    """Per-slice evaluation (classifier_eval with group_cols): the same
    AUC/precision/recall report as q130 but per SOURCE — the fairness
    table that catches a quality filter performing well on average
    while collapsing on one provider's docs. The cumulative window
    partitions by source, so each partition holds only one slice's
    distinct quantized scores."""
    d = _table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        (F.col("lang") == "en").alias("y"),
        q6(tx.quality_score(F.col("text"))).alias("score"),
    )
    out = clf.classifier_eval(
        scored, score_col="score", label_col="y", group_cols=["source"]
    )
    return out.select(
        "source", "n_pos", "n_neg", q6(F.col("auc")).alias("auc"),
        "tp", "fp",
        q6(F.col("precision")).alias("precision"),
        q6(F.col("recall")).alias("recall"),
    )


@register(
    "q136_calibration",
    f"""
    WITH {_QUALITY_SCORED},
    b AS (
      SELECT least(CAST(floor(score * 10.0) AS INT), 9) AS bin, y,
             CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS m
      FROM s
    ),
    a AS (
      SELECT bin, count(*) AS n, sum(y) AS n_pos, sum(m) AS sm
      FROM b GROUP BY 1
    )
    SELECT bin, CAST(bin AS DOUBLE) / 10.0 AS lo,
           CAST(bin + 1 AS DOUBLE) / 10.0 AS hi,
           CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
           {_Q6.format(x='CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)')}
             AS pos_rate,
           {_Q6.format(x='CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)')}
             AS mean_score
    FROM a
    """,
)
def q136(spark, sf_dir):
    """Calibration / reliability bins (pipeline/classify.py
    calibration_bins): observed positive rate vs mean predicted score
    in 10 equal-width bins of the quality score, label lang = 'en' —
    the check run before a score is treated as a probability. Mean
    score is summed in exact integer micro-units (the score is
    q6-quantized) so Spark's partial-aggregation order and DuckDB's
    sequential sum produce the same bits; one ≤10-group aggregation."""
    d = _table(spark, sf_dir, "documents")
    scored = d.select(
        (F.col("lang") == "en").alias("y"),
        q6(tx.quality_score(F.col("text"))).alias("score"),
    )
    out = clf.calibration_bins(scored, score_col="score", label_col="y")
    return out.select(
        "bin", "lo", "hi", "n", "n_pos",
        q6(F.col("pos_rate")).alias("pos_rate"),
        q6(F.col("mean_score")).alias("mean_score"),
    )

_RRF = "CASE WHEN {r} > 0 THEN 1.0 / (60.0 + CAST({r} AS DOUBLE)) ELSE 0.0 END"


@register(
    "q137_hybrid_rrf",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, string_split_regex(norm, '\\s+') AS tk
      FROM nm WHERE length(norm) > 0
    ),
    base AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS tok FROM t),
    p AS (
      SELECT tok, doc_id, count(*) AS tf, max(dl) AS dl FROM base
      WHERE tok IN ('join', 'slow', 'vector') GROUP BY 1, 2
    ),
    st AS (
      SELECT (SELECT count(*) FROM documents) AS n,
             CAST((SELECT sum(len(tk)) FROM t) AS DOUBLE)
               / (SELECT count(*) FROM documents) AS avgdl
    ),
    dfq AS (SELECT tok, count(*) AS df FROM p GROUP BY 1),
    sc AS (
      SELECT p.doc_id, sum({_BM25_IDF} * {_BM25_TF}) AS score
      FROM p JOIN dfq USING (tok) CROSS JOIN st GROUP BY 1
    ),
    lexr AS (
      SELECT doc_id, row_number() OVER (
               ORDER BY {_Q6.format(x='score')} DESC, doc_id) AS lex_rank
      FROM sc
    ),
    lex AS (SELECT * FROM lexr WHERE lex_rank <= 20),
    dsc AS (
      SELECT c.vec_id,
             {_Q6.format(x=f'({_DOT}) / ({_NRM_C} * {_NRM_Q})')} AS cosine
      FROM embeddings c, embeddings q
      WHERE q.vec_id = 0 AND c.vec_id <> 0
    ),
    denr AS (
      SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id)
               AS dense_rank
      FROM dsc
    ),
    den AS (SELECT * FROM denr WHERE dense_rank <= 20),
    f AS (
      SELECT coalesce(lex.doc_id, den.vec_id) AS doc_id,
             coalesce(lex.lex_rank, 0) AS lex_rank,
             coalesce(den.dense_rank, 0) AS dense_rank
      FROM lex FULL OUTER JOIN den ON lex.doc_id = den.vec_id
    )
    SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank,
           {_Q6.format(x=f"({_RRF.format(r='lex_rank')} + {_RRF.format(r='dense_rank')})")}
             AS rrf
    FROM f ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def q137(spark, sf_dir):
    """Hybrid retrieval: q114's 3-term BM25 list fused with the dense
    cosine list for query vector 0 by Reciprocal Rank Fusion
    (1/(60+rank), Cormack et al. 2009) — the standard first stage of a
    RAG / eval-neighbor-mining stack, exercising keyword and embedding
    search as ONE query. Both candidate lists cut at 20 with
    engine-stable quantize-then-rank TakeOrdered; the fusion join runs
    on <= 40 candidate rows (pipeline/retrieval.py hybrid_rrf)."""
    d = _table(spark, sf_dir, "documents")
    e = _table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return rt.hybrid_rrf(d, e, list(_BM25_TERMS), q, k=10)


# R-6 threshold interpolation over a DuckDB sorted list (the q59
# fragment, parameterized by the vals/idx/n columns in scope).
_R6_LIST = """CASE WHEN n = 1 THEN vals[1]
             WHEN idx < 1 THEN vals[1]
             WHEN idx >= n THEN vals[n]
             ELSE vals[CAST(floor(idx) AS INTEGER)]
                  + (idx - floor(idx))
                    * (vals[CAST(floor(idx) AS INTEGER) + 1]
                       - vals[CAST(floor(idx) AS INTEGER)]) END"""


@register(
    "q138_ppl_buckets",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, string_split_regex(norm, '\\s+') AS tk
      FROM nm WHERE length(norm) > 0
    ),
    p AS (
      SELECT doc_id, unnest([{{'w1': tk[i], 'w2': tk[i+1]}}
                             for i in generate_series(1, len(tk) - 1)],
                            recursive := true)
      FROM t WHERE len(tk) >= 2
    ),
    dp AS (SELECT doc_id, w1, w2, count(*) AS n FROM p GROUP BY 1, 2, 3),
    c AS (SELECT w1, w2, sum(n) AS n_pair FROM dp GROUP BY 1, 2),
    tot AS (SELECT w1, sum(n_pair) AS n_w1 FROM c GROUP BY 1),
    lm AS (
      SELECT c.w1, c.w2, CAST(c.n_pair AS DOUBLE) / CAST(tot.n_w1 AS DOUBLE)
               AS cond_p
      FROM c JOIN tot ON c.w1 = tot.w1
    ),
    ce AS (
      SELECT dp.doc_id,
             {_Q6.format(x='-sum(dp.n * log2(lm.cond_p)) / sum(dp.n)')} AS ce
      FROM dp JOIN lm ON dp.w1 = lm.w1 AND dp.w2 = lm.w2
      GROUP BY dp.doc_id
    ),
    sc AS (SELECT d.lang, ce.doc_id, ce.ce
           FROM ce JOIN documents d USING (doc_id)),
    g AS (SELECT lang, list_sort(list(ce)) AS vals, count(*) AS n
          FROM sc GROUP BY 1),
    e AS (SELECT lang, vals, n, unnest([33.0, 67.0]) AS quantile FROM g),
    cx AS (
      SELECT lang, quantile, n, vals,
             CASE WHEN quantile <= 0 THEN 0.0
                  WHEN quantile >= 100 THEN CAST(n AS DOUBLE)
                  ELSE quantile / 100.0 * (n + 1) END AS idx
      FROM e
    ),
    thr AS (SELECT lang, quantile, {_Q6.format(x=_R6_LIST)} AS pct FROM cx),
    piv AS (SELECT lang,
                   max(CASE WHEN quantile = 33.0 THEN pct END) AS lo,
                   max(CASE WHEN quantile = 67.0 THEN pct END) AS hi
            FROM thr GROUP BY 1)
    SELECT sc.doc_id, sc.lang, sc.ce AS cross_entropy,
           CASE WHEN sc.ce <= piv.lo THEN 'head'
                WHEN sc.ce <= piv.hi THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM sc JOIN piv USING (lang)
    """,
)
def q138(spark, sf_dir):
    """CCNet-style perplexity buckets (pipeline/sample.py
    perplexity_buckets): per-doc cross-entropy under the corpus bigram
    LM (q91's score), cut per LANGUAGE at its R-6 p33/p67 into
    head/middle/tail — the relative-within-language cut is CCNet's
    design (absolute ppl is not comparable across languages). One text
    scan for scores, rank-based thresholds (no per-group arrays),
    broadcast back; quantize-then-compare on both engines."""
    return sp.perplexity_buckets(_table(spark, sf_dir, "documents"))


@register(
    "q139_epoch_shuffle",
    """
    WITH h AS (
      SELECT doc_id, md5('ep0:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ),
    s AS (
      SELECT doc_id, k,
             CAST(CAST(list_aggregate(
               [ (strpos('0123456789abcdef', k[i]) - 1) * (16 ** (3 - i))
                 for i in generate_series(1, 3)], 'sum') AS BIGINT) % 8
               AS INT) AS shard
      FROM h
    )
    SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
    FROM s
    """,
)
def q139(spark, sf_dir):
    """Epoch-seeded reproducible global shuffle (pipeline/sample.py
    epoch_shuffle): every doc gets a (shard, pos) training-order
    coordinate that is a pure function of (epoch, id) — the multi-epoch
    pretraining loader contract. One exchange hash-partitioned on the
    8 shards; the rank window is per-shard (never a global
    single-partition sort)."""
    return sp.epoch_shuffle(_table(spark, sf_dir, "documents"), n_shards=8, epoch=0)


@register(
    "q140_length_buckets",
    f"""
    WITH n AS (SELECT doc_id, {_TOKS} AS nt FROM documents),
    b AS (
      SELECT doc_id,
             CASE WHEN nt <= 32 THEN 32 WHEN nt <= 64 THEN 64
                  WHEN nt <= 128 THEN 128 ELSE 256 END AS bucket,
             least(nt, 256) AS t
      FROM n
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t) AS BIGINT) AS token_mass,
           CAST(sum(bucket - t) AS BIGINT) AS pad_mass,
           {_Q6.format(x='CAST(sum(t) AS DOUBLE) / CAST(sum(t) + sum(bucket - t) AS DOUBLE)')}
             AS efficiency
    FROM b GROUP BY 1
    """,
)
def q140(spark, sf_dir):
    """Sequence-bucketing efficiency report (pipeline/text.py
    length_bucket_report): docs assigned the smallest {{32,64,128,256}}
    boundary >= their token count (truncated above the largest), per
    bucket the real-token vs padding capacity split — the measurement
    behind bucketed batch builders. One scan, <=4-group agg, exact
    BIGINT masses so the ratio is engine-identical."""
    return tx.length_bucket_report(
        _table(spark, sf_dir, "documents"), boundaries=(32, 64, 128, 256)
    )


@register(
    "q141_zipf_alpha",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT unnest(string_split_regex(norm, '\\s+')) AS tok
      FROM nm WHERE length(norm) > 0
    ),
    v AS (SELECT tok, count(*) AS n_occ FROM t GROUP BY 1),
    topv AS (SELECT tok, n_occ FROM v ORDER BY n_occ DESC, tok LIMIT 100),
    r AS (SELECT row_number() OVER (ORDER BY n_occ DESC, tok) AS rank, n_occ
          FROM topv),
    m AS (
      SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
               AS xi,
             CAST(floor(ln(CAST(n_occ AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
               AS yi
      FROM r
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xi) AS BIGINT) AS sx,
             CAST(sum(yi) AS BIGINT) AS sy, CAST(sum(xi * yi) AS BIGINT) AS sxy,
             CAST(sum(xi * xi) AS BIGINT) AS sxx
      FROM m
    )
    SELECT n AS n_tokens,
           {_Q6.format(x='-(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))')}
             AS alpha,
           {_Q6.format(x='(CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000.0')}
             AS intercept
    FROM s
    """,
)
def q141(spark, sf_dir):
    """Zipf exponent of the corpus unigram distribution (pipeline/
    text.py zipf_alpha): OLS of ln(count) on ln(rank) over the top-100
    tokens — a one-row vocabulary-health gate (boilerplate floods
    collapse alpha, degenerate vocabularies inflate it). TakeOrdered
    top-k cut (never a full-vocab global rank); ln values canonicalized
    to integer micro-units so every OLS sum is an exact BIGINT and the
    fitted doubles are engine-identical (q136's integer pattern)."""
    return tx.zipf_alpha(_table(spark, sf_dir, "documents"), top_k=100)


@register(
    "q142_cross_source_matrix",
    _minhash_cte()
    + """
    , ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    sz AS (SELECT doc_id, len(sh) AS n FROM sh),
    iv AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cand c JOIN ex a ON a.doc_id = c.id_a
                  JOIN ex b ON b.doc_id = c.id_b AND a.s = b.s
      GROUP BY 1, 2
    ),
    ver AS (
      SELECT iv.id_a, iv.id_b,
             CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
      FROM iv JOIN sz sa ON sa.doc_id = iv.id_a
              JOIN sz sb ON sb.doc_id = iv.id_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.7
    ),
    sp AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             CAST(floor((floor(j * 1000000.0 + 0.5) / 1000000.0)
                        * 1000000.0 + 0.5) AS BIGINT) AS jm
      FROM ver JOIN documents da ON da.doc_id = ver.id_a
               JOIN documents db ON db.doc_id = ver.id_b
    )
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(jm) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0
             AS mean_jaccard
    FROM sp GROUP BY 1, 2
    """,
)
def q142(spark, sf_dir):
    """Cross-source near-dup contamination matrix (pipeline/dedup.py
    cross_source_matrix): Jaccard-verified (>= 0.7) near-dup pairs
    attributed to their (source, source) cell — the provenance report
    behind licensing risk, mixture double-counting, and
    scrape-of-a-scrape detection. LSH candidates -> candidate-only exact
    verify -> two column-pruned source joins; the mean Jaccard is summed
    in exact integer micro-units so aggregation order is immaterial."""
    return dd.cross_source_matrix(
        _table(spark, sf_dir, "documents"), threshold=0.7
    )


@register(
    "q143_threshold_sweep",
    f"""
    WITH s AS ({_QUALITY_CTE}),
    q AS (SELECT doc_id, lang = 'en' AS y, {_Q6.format(x=_QUALITY_EXPR)} AS v
          FROM s),
    e AS (
      SELECT y, v, unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS threshold
      FROM q
    ),
    a AS (
      SELECT threshold, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN v >= threshold AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN v >= threshold AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN v < threshold AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN v < threshold AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM e GROUP BY 1
    )
    SELECT threshold, n, tp, fp, fn, tn,
           CASE WHEN tp + fp > 0
                THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
           CASE WHEN tp + fn > 0
                THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
           CAST(tp + fp AS DOUBLE) / CAST(n AS DOUBLE) AS kept_frac
    FROM a
    """,
)
def q143(spark, sf_dir):
    """Quality-filter operating-point sweep (pipeline/classify.py
    threshold_sweep): confusion counts + precision/recall/kept-fraction
    for "keep iff quality >= t" at 9 candidate thresholds, label
    lang = 'en' — the table read before committing to a filter cut
    (complements q130's threshold-free AUC and q136's calibration).
    One scan with a constant 9x literal fan-out; all outputs exact
    integer counts or single divisions of them."""
    d = _table(spark, sf_dir, "documents")
    scored = d.select(
        (F.col("lang") == "en").alias("y"),
        q6(tx.quality_score(F.col("text"))).alias("score"),
    )
    return clf.threshold_sweep(scored)


@register(
    "q144_embedding_hygiene",
    """
    WITH per AS (
      SELECT label,
             len(embedding) AS dim,
             sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
                            * CAST(embedding[i] AS DOUBLE)
                    for i in generate_series(1, len(embedding))])) AS n,
             len([x for x in embedding
                  if isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE))])
               AS bad
      FROM embeddings
    ),
    a AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(CASE WHEN n = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_norm,
             CAST(sum(CASE WHEN bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonfinite,
             CAST(min(dim) AS INT) AS dim_min, CAST(max(dim) AS INT) AS dim_max,
             CAST(sum(CASE WHEN isfinite(n)
                           THEN CAST(floor(n * 1000000.0 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS sn,
             CAST(sum(CASE WHEN isfinite(n) THEN 1 ELSE 0 END) AS BIGINT) AS nf
      FROM per GROUP BY 1
    )
    SELECT label, n_vecs, n_zero_norm, n_nonfinite, dim_min, dim_max,
           CASE WHEN nf > 0
                THEN CAST(sn AS DOUBLE) / CAST(nf AS DOUBLE) / 1000000.0 END
             AS mean_norm
    FROM a
    """,
)
def q144(spark, sf_dir):
    """Embedding-table hygiene report per label slice (pipeline/
    similarity.py embedding_hygiene): zero-norm vectors, non-finite
    components, ragged dimensions, mean L2 norm — the intake gate run
    before an embedding batch feeds ANN/dedup (zero norms poison cosine,
    collapsed norms flag encoder regressions q124's centroid drift can
    miss). One scan, one bounded-group agg, integer micro-unit mean."""
    return sim.embedding_hygiene(_table(spark, sf_dir, "embeddings"))


@register(
    "q145_pmi_collocations",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, string_split_regex(norm, '\\s+') AS tk
      FROM nm WHERE length(norm) > 0
    ),
    p AS (
      SELECT unnest([{{'w1': tk[i], 'w2': tk[i+1]}}
                     for i in generate_series(1, len(tk) - 1)], recursive := true)
      FROM t WHERE len(tk) >= 2
    ),
    c AS (SELECT w1, w2, count(*) AS n FROM p GROUP BY 1, 2),
    tl AS (SELECT w1, sum(n) AS nl FROM c GROUP BY 1),
    tr AS (SELECT w2, sum(n) AS nr FROM c GROUP BY 1),
    nn AS (SELECT sum(n) AS nt FROM c)
    SELECT c.w1, c.w2, CAST(c.n AS BIGINT) AS n,
           {_Q6.format(x='log2((CAST(c.n AS DOUBLE) * CAST(nn.nt AS DOUBLE))'
                         ' / (CAST(tl.nl AS DOUBLE) * CAST(tr.nr AS DOUBLE)))')}
             AS pmi
    FROM c JOIN tl ON c.w1 = tl.w1 JOIN tr ON c.w2 = tr.w2 CROSS JOIN nn
    WHERE c.n >= 5
    ORDER BY pmi DESC, c.w1, c.w2 LIMIT 50
    """,
)
def q145(spark, sf_dir):
    """PMI collocations (pipeline/text.py pmi_collocations): top-50
    adjacent-token pairs by pointwise mutual information with a
    min-count-5 guard — phrase/multi-word-expression mining, the
    statistic BPE merge selection approximates (q112's picker counts).
    One scan into the distinct-pair frame; margins via two stacked
    unordered windows, grand total as a one-number driver aggregate."""
    return tx.pmi_collocations(_table(spark, sf_dir, "documents"))


@register(
    "q146_langid_margin",
    f"""
    WITH s AS (
      SELECT doc_id,
             {_SW['de']} AS s_de, {_SW['en']} AS s_en,
             {_SW['es']} AS s_es, {_SW['fr']} AS s_fr
      FROM documents
    ),
    m AS (
      SELECT doc_id, {_lang_case()} AS lang_pred,
             list_sort([s_de, s_en, s_es, s_fr]) AS a
      FROM s
    )
    SELECT doc_id, lang_pred,
           CAST(a[-1] AS BIGINT) AS top_hits,
           CAST(a[-1] - a[-2] AS BIGINT) AS margin,
           lang_pred <> 'und' AND a[-1] - a[-2] >= 2 AS confident
    FROM m
    """,
)
def q146(spark, sf_dir):
    """Language ID with confidence margin (pipeline/text.py
    langid_margin): the q30/q31 stopword argmax plus the best-vs-second
    hit gap — the router CCNet-style pipelines use to quarantine
    mixed-language / short-fragment docs instead of trusting a weak
    argmax. Exact integers end to end; zero-shuffle scan expressions."""
    return tx.langid_margin(_table(spark, sf_dir, "documents"))


@register(
    "q147_event_transitions",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT event_type, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.event_type, c.next_type, c.n,
           CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
    FROM c JOIN t USING (event_type)
    """,
)
def q147(spark, sf_dir):
    """First-order event-transition matrix (pipeline/sessions.py
    event_transitions): counts and p(next | current) for consecutive
    events per user, (ts, event_id)-ordered — the Markov view behind
    funnel discovery and anomalous-flow detection. One scan, one
    user-keyed window shuffle, |types|^2-bounded output; exact counts,
    one division."""
    from ticktock_spark.schema import load_table

    return ss.event_transitions(load_table(spark, sf_dir, "events"))


@register(
    "q148_ewma_baseline",
    f"""
    WITH b AS (
      SELECT metric, ts - ts % 60000 AS ts,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS v
      FROM {{ev}} WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    w AS (
      SELECT metric, ts, v,
             list(v) OVER (PARTITION BY metric ORDER BY ts
                           ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING) AS arr
      FROM b
    ),
    r AS (
      SELECT metric, ts, v,
             list_sum([arr[i] * 0.5 ** (len(arr) - i)
                       for i in generate_series(1, len(arr))])
               / list_sum([0.5 ** (len(arr) - i)
                           for i in generate_series(1, len(arr))]) AS raw
      FROM w WHERE len(arr) > 0
    )
    SELECT metric, ts, {_Q6.format(x='v')} AS value,
           {_Q6.format(x='raw')} AS ewma,
           {_Q6.format(x='(v - raw)')} AS resid
    FROM r
    """.format(ev="(SELECT event_type AS metric, epoch_ms(ts) AS ts, value"
               " FROM events)"),
)
def q148(spark, sf_dir):
    """Trailing EWMA anomaly baseline over per-metric 1m buckets
    (operators/rolling.py ewma_baseline): recency-weighted forecast +
    residual, the smoothed twin of q84's rolling z-score. Bucket means
    are exact decimal sums (aggregation-order-proof); alpha=0.5 keeps
    every decay weight an exact binary double, and the weighted fold is
    left-to-right in both engines. NULL-value rows are dropped at the
    scan on both engine sides (not datapoints — see q85): an all-NULL
    series contributes no buckets, so it emits no rows."""
    from ticktock_spark.operators.rolling import ewma_baseline
    from ticktock_spark.queries import _dps, MIN_MS

    d = _dps(spark, sf_dir).filter(F.col("value").isNotNull())
    b = (
        d.groupBy("metric", (F.col("ts") - F.col("ts") % MIN_MS).alias("ts"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("value")
        )
    )
    out = ewma_baseline(b, ["metric"], alpha=0.5, lookback=16)
    return out.select(
        "metric", "ts", q6(F.col("value")).alias("value"), "ewma", "resid"
    )


@register(
    "q149_curation_gate",
    f"""
    WITH s AS (
      SELECT doc_id, {_TOKS} AS n_tokens,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST({_PUNCT} AS DOUBLE) / length(text) END AS pr,
             {_SW['en']} AS sw,
             {_SW['de']} AS s_de, {_SW['en']} AS s_en,
             {_SW['es']} AS s_es, {_SW['fr']} AS s_fr
      FROM documents
    ),
    q AS (
      SELECT doc_id, {_Q6.format(x=_QUALITY_EXPR)} AS quality,
             {_lang_case()} AS lang_pred,
             list_sort([s_de, s_en, s_es, s_fr]) AS a
      FROM s
    ),
    v AS (
      SELECT vec_id AS doc_id,
             len([x for x in embedding
                  if isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE))]) = 0
             AND NOT isnan(sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
                                          * CAST(embedding[i] AS DOUBLE)
                    for i in generate_series(1, len(embedding))])))
             AND sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
                                * CAST(embedding[i] AS DOUBLE)
                    for i in generate_series(1, len(embedding))])) > 0.0
               AS norm_ok
      FROM embeddings
    ),
    f AS (
      SELECT q.doc_id, q.quality, q.lang_pred,
             q.lang_pred <> 'und' AND q.a[-1] - q.a[-2] >= 2 AS confident,
             coalesce(v.norm_ok, false) AS norm_ok
      FROM q LEFT JOIN v USING (doc_id)
    )
    SELECT doc_id, quality, lang_pred, confident, norm_ok,
           quality >= 0.4 AND confident AND norm_ok AS keep
    FROM f
    """,
)
def q149(spark, sf_dir):
    """Joint text+embedding curation gate (pipeline/sample.py
    curation_gate): per-doc quality score, language-ID confidence, and
    embedding-health flag folded into one keep decision — the
    cross-modal admission filter before a (text, embedding) pair enters
    a mixture or an ANN index. Two scans + one id join; all row-level
    expressions, no aggregation, streams as-is."""
    return sp.curation_gate(
        _table(spark, sf_dir, "documents"), _table(spark, sf_dir, "embeddings")
    )


@register(
    "q150_ccnet_mixture",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT doc_id, string_split_regex(norm, '\\s+') AS tk
      FROM nm WHERE length(norm) > 0
    ),
    p AS (
      SELECT doc_id, unnest([{{'w1': tk[i], 'w2': tk[i+1]}}
                             for i in generate_series(1, len(tk) - 1)],
                            recursive := true)
      FROM t WHERE len(tk) >= 2
    ),
    dp AS (SELECT doc_id, w1, w2, count(*) AS n FROM p GROUP BY 1, 2, 3),
    c AS (SELECT w1, w2, sum(n) AS n_pair FROM dp GROUP BY 1, 2),
    tot AS (SELECT w1, sum(n_pair) AS n_w1 FROM c GROUP BY 1),
    lm AS (
      SELECT c.w1, c.w2, CAST(c.n_pair AS DOUBLE) / CAST(tot.n_w1 AS DOUBLE)
               AS cond_p
      FROM c JOIN tot ON c.w1 = tot.w1
    ),
    ce AS (
      SELECT dp.doc_id,
             {_Q6.format(x='-sum(dp.n * log2(lm.cond_p)) / sum(dp.n)')} AS ce
      FROM dp JOIN lm ON dp.w1 = lm.w1 AND dp.w2 = lm.w2
      GROUP BY dp.doc_id
    ),
    sc AS (SELECT d.lang, ce.doc_id, ce.ce
           FROM ce JOIN documents d USING (doc_id)),
    g AS (SELECT lang, list_sort(list(ce)) AS vals, count(*) AS n
          FROM sc GROUP BY 1),
    e AS (SELECT lang, vals, n, unnest([33.0, 67.0]) AS quantile FROM g),
    cx AS (
      SELECT lang, quantile, n, vals,
             CASE WHEN quantile <= 0 THEN 0.0
                  WHEN quantile >= 100 THEN CAST(n AS DOUBLE)
                  ELSE quantile / 100.0 * (n + 1) END AS idx
      FROM e
    ),
    thr AS (SELECT lang, quantile, {_Q6.format(x=_R6_LIST)} AS pct FROM cx),
    piv AS (SELECT lang,
                   max(CASE WHEN quantile = 33.0 THEN pct END) AS lo,
                   max(CASE WHEN quantile = 67.0 THEN pct END) AS hi
            FROM thr GROUP BY 1),
    bk AS (
      SELECT sc.doc_id, sc.lang,
             CASE WHEN sc.ce <= piv.lo THEN 'head'
                  WHEN sc.ce <= piv.hi THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM sc JOIN piv USING (lang)
    )
    SELECT doc_id, lang, bucket FROM bk
    WHERE bucket <> 'tail'
       OR substr(md5('ppl:' || CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'
    """,
)
def q150(spark, sf_dir):
    """CCNet mixture end to end (pipeline/sample.py ccnet_mixture):
    q138's per-language perplexity buckets with head+middle kept in
    full and the tail deterministically sampled at 10% via the
    md5-threshold draw — the actual CCNet selection recipe as one
    composition. No shuffle beyond the bucket scoring."""
    return sp.ccnet_mixture(_table(spark, sf_dir, "documents"), tail_rate=0.1)


@register(
    "q151_zorder_key",
    """
    WITH mm AS (
      SELECT CAST(min(n_chars) AS DOUBLE) AS lo,
             CAST(max(n_chars) AS DOUBLE) AS hi
      FROM documents
    ),
    n AS (
      SELECT doc_id,
             least(greatest(CAST(floor(
               (CAST(n_chars AS DOUBLE) - mm.lo) / (mm.hi - mm.lo) * 65535.0)
               AS BIGINT), 0), 65535) AS xa,
             CAST(list_aggregate(
               [ (strpos('0123456789abcdef', substr(md5(lang), i, 1)) - 1)
                 * (16 ** (4 - i)) for i in generate_series(1, 4)], 'sum')
               AS BIGINT) AS xb
      FROM documents CROSS JOIN mm
    ),
    s1 AS (SELECT doc_id, (xa | (xa << 8)) & 16711935 AS xa,
                  (xb | (xb << 8)) & 16711935 AS xb FROM n),
    s2 AS (SELECT doc_id, (xa | (xa << 4)) & 252645135 AS xa,
                  (xb | (xb << 4)) & 252645135 AS xb FROM s1),
    s3 AS (SELECT doc_id, (xa | (xa << 2)) & 858993459 AS xa,
                  (xb | (xb << 2)) & 858993459 AS xb FROM s2),
    s4 AS (SELECT doc_id, (xa | (xa << 1)) & 1431655765 AS xa,
                  (xb | (xb << 1)) & 1431655765 AS xb FROM s3)
    SELECT doc_id, CAST(xa | (xb << 1) AS BIGINT) AS zkey FROM s4
    """,
)
def q151(spark, sf_dir):
    """Z-order clustering key (operators/zorder.py): 32-bit Morton
    interleave of min/max-scaled doc length and an md5-derived 16-bit
    language bucket — the multi-dimensional generalization of the
    reference's one-dimensional series-clustered compaction
    (tsdb.cpp:3431). write_zordered materializes the layout so parquet
    row-group stats prune on BOTH dimensions (measured in SCALE.md).
    Pure integer bit math after a two-number driver aggregate."""
    from ticktock_spark.operators.zorder import scale_to_16bit, zorder_key

    d = _table(spark, sf_dir, "documents")
    # driver-bound: min/max scalars for z-order scaling
    row = d.agg(F.min("n_chars"), F.max("n_chars")).collect()[0]
    dim_a = scale_to_16bit(F.col("n_chars"), float(row[0]), float(row[1]))
    dim_b = F.conv(F.substring(F.md5(F.col("lang")), 1, 4), 16, 10).cast("long")
    return d.select("doc_id", zorder_key(dim_a, dim_b).alias("zkey"))


@register(
    "q152_containment_pairs",
    _minhash_cte()
    + """
    , ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    sz AS (SELECT doc_id, len(sh) AS n FROM sh),
    iv AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cand c JOIN ex a ON a.doc_id = c.id_a
                  JOIN ex b ON b.doc_id = c.id_b AND a.s = b.s
      GROUP BY 1, 2
    ),
    j AS (
      SELECT iv.id_a, iv.id_b, CAST(iv.inter AS BIGINT) AS inter,
             CAST(sa.n AS INT) AS n_a, CAST(sb.n AS INT) AS n_b,
             CAST(iv.inter AS DOUBLE) / least(sa.n, sb.n) AS containment
      FROM iv JOIN sz sa ON sa.doc_id = iv.id_a
              JOIN sz sb ON sb.doc_id = iv.id_b
    )
    SELECT id_a, id_b, inter, n_a, n_b, containment,
           CASE WHEN n_a < n_b THEN 'a'
                WHEN n_b < n_a THEN 'b'
                ELSE 'both' END AS contained
    FROM j WHERE containment >= 0.8
    """,
)
def q152(spark, sf_dir):
    """Asymmetric containment pairs (pipeline/dedup.py
    containment_pairs): |A∩B| / min(|A|,|B|) >= 0.8 over the LSH
    candidate set — the excerpt/quote relation Jaccard misses (tiny
    union ratio, full overlap of the short side). Shares one persisted
    shingle frame across candidates and verification; exact candidate-
    bounded intersections; reports which side is contained."""
    return dd.containment_pairs(_table(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "q153_rolling_p95",
    f"""
    WITH b AS (
      SELECT metric, ts - ts % 60000 AS ts,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS v
      FROM (SELECT event_type AS metric, epoch_ms(ts) AS ts, value FROM events)
      WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    w AS (
      SELECT metric, ts, v,
             list_sort(list(v) OVER (PARTITION BY metric ORDER BY ts
                           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)) AS vals
      FROM b
    ),
    cx AS (
      SELECT metric, ts, v, vals, len(vals) AS n,
             95.0 / 100.0 * (len(vals) + 1) AS idx
      FROM w
    )
    SELECT metric, ts, {_Q6.format(x='v')} AS value,
           CAST(n AS INT) AS n_window,
           {_Q6.format(x=_R6_LIST)} AS pct
    FROM cx
    """,
)
def q153(spark, sf_dir):
    """Rolling exact R-6 p95 over per-metric 1m buckets (operators/
    rolling.py rolling_percentile_r6) — the "rolling p95 latency" SRE
    query, interpolating with the same OpenTSDB q*(n+1) rule as every
    other percentile in the engine (agg_test.cpp:29-76 semantics).
    Constant-bounded trailing arrays; exact decimal bucket means.
    NULL-value rows are dropped at the scan on both engine sides (not
    datapoints — see q85): an all-NULL series emits no rows."""
    from ticktock_spark.operators.rolling import rolling_percentile_r6
    from ticktock_spark.queries import MIN_MS, _dps

    d = _dps(spark, sf_dir).filter(F.col("value").isNotNull())
    b = d.groupBy("metric", (F.col("ts") - F.col("ts") % MIN_MS).alias("ts")).agg(
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("value")
    )
    out = rolling_percentile_r6(b, ["metric"], 95.0, lookback=16)
    return out.select(
        "metric", "ts", q6(F.col("value")).alias("value"), "n_window", "pct"
    )


@register(
    "q154_dedup_threshold_sweep",
    _minhash_cte()
    + """
    , ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    sz AS (SELECT doc_id, len(sh) AS n FROM sh),
    iv AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cand c JOIN ex a ON a.doc_id = c.id_a
                  JOIN ex b ON b.doc_id = c.id_b AND a.s = b.s
      GROUP BY 1, 2
    ),
    ver AS (
      SELECT iv.id_a, iv.id_b,
             CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
      FROM iv JOIN sz sa ON sa.doc_id = iv.id_a
              JOIN sz sb ON sb.doc_id = iv.id_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    ),
    f AS (
      SELECT id_a, id_b, j,
             unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold
      FROM ver
    )
    SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT id_b) AS BIGINT) AS n_removable
    FROM f WHERE j >= threshold GROUP BY 1
    """,
)
def q154(spark, sf_dir):
    """Near-dup threshold sweep (pipeline/dedup.py
    dedup_threshold_sweep): verified pairs and keep-first removable-doc
    counts at each candidate Jaccard cut — the table read before fixing
    a dedup pipeline's threshold. One candidate+verify pass at the
    lowest cut (size-prescreened), constant fan-out after."""
    return dd.dedup_threshold_sweep(_table(spark, sf_dir, "documents"))


@register(
    "q158_release_delta",
    f"""
    WITH old AS (
      SELECT doc_id, md5(text) AS h, {_TOKS} AS t, source FROM documents
    ),
    newsrc AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text,
             source
      FROM documents WHERE doc_id % 7 != 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, source
      FROM documents WHERE doc_id % 11 = 0
    ),
    new AS (SELECT doc_id, md5(text) AS h, {_TOKS} AS t, source FROM newsrc),
    j AS (
      SELECT coalesce(new.source, old.source) AS source,
             CASE WHEN new.doc_id IS NULL THEN 'removed'
                  WHEN old.doc_id IS NULL THEN 'added'
                  WHEN coalesce(old.h, chr(1)) = coalesce(new.h, chr(1))
                    THEN 'unchanged'
                  ELSE 'changed' END AS status,
             coalesce(new.t, 0) - coalesce(old.t, 0) AS td
      FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    )
    SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(td) AS BIGINT) AS token_delta
    FROM j GROUP BY 1, 2
    """,
)
def q158(spark, sf_dir):
    """Release delta report (pipeline/dedup.py release_delta): q105's
    version diff rolled up per (source, status) with the token mass each
    class moves — net token drift per source between corpus versions.
    Same synthetic v2 snapshot as q105 (drop every 7th, rewrite every
    5th, append every 11th). Exact integer outputs; (id, digest,
    tokens, source) shuffle, never text."""
    d = _table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    new = d.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    ).unionByName(
        d.filter(F.col("doc_id") % 11 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )
    return dd.release_delta(d, new)


_WORD_SHINGLES = (
    "list_distinct([array_to_string(tk_w[i:i+2], ' ')"
    " for i in generate_series(1, greatest(len(tk_w) - 2, 1))])"
)


@register(
    "q159_minhash_word_shingles",
    _minhash_cte(
        shingle_expr=(
            "(SELECT " + _WORD_SHINGLES
            + " FROM (SELECT string_split_regex(norm, '\\s+') AS tk_w))"
        )
    )
    + "\n    SELECT id_a, id_b, n_bands FROM cand",
)
def q159(spark, sf_dir):
    """MinHash+LSH candidates over WORD 3-gram shingles (pipeline/
    dedup.py word_shingles) — the RefinedWeb/Gopher shingle unit, robust
    to intra-word edits with |shingle set| ~ token count. Same banding
    engine as q34, fed through the shingles_df sharing contract; the
    oracle re-derives identical word shingles in SQL."""
    from ticktock_spark.pipeline.util import spread_scan

    d = _table(spark, sf_dir, "documents")
    sh = spread_scan(
        d, d.sparkSession.sparkContext.defaultParallelism
    ).select(F.col("doc_id"), dd.word_shingles(F.col("text"), 3).alias("sh"))
    return dd.minhash_lsh_candidates(d, shingles_df=sh)


_BPE_LEN = (
    "sum(len(regexp_extract_all(text,"
    " '[A-Za-z]{1,4}|[0-9]|[^\\sA-Za-z0-9]', 0)))"
)


@register(
    "q160_compression_ratio",
    f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST({_BPE_LEN} AS BIGINT) AS n_bpe_tokens,
           CASE WHEN {_BPE_LEN} > 0 THEN
           {_Q6.format(x=f'CAST(sum(length(text)) AS DOUBLE) / {_BPE_LEN}')}
           END AS chars_per_token
    FROM documents GROUP BY 1
    """,
)
def q160(spark, sf_dir):
    """Tokenizer compression ratio per source (chars per BPE-ish
    token): low ratios flag sources the tokenizer segments poorly
    (non-Latin scripts, code, mojibake) — the per-source twin of q120's
    per-language fertility, used to spot sources that will eat token
    budget. One scan, exact integer masses, single division."""
    d = _table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(tx.bpe_ish_token_count(F.col("text"))).alias("n_bpe_tokens"),
    ).select(
        "source",
        "n_docs",
        "n_chars",
        "n_bpe_tokens",
        F.when(
            F.col("n_bpe_tokens") > 0,
            q6(F.col("n_chars").cast("double") / F.col("n_bpe_tokens")),
        ).alias("chars_per_token"),
    )


@register(
    "q161_session_transitions",
    f"""
    WITH s AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > {_GAP_MS * 1000}
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    si AS (
      SELECT user_id, event_id, event_type, us,
             1 + sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM s
    ),
    o AS (
      SELECT event_type,
             lead(event_type) OVER w2 AS next_type,
             session_idx,
             lead(session_idx) OVER w2 AS next_sess
      FROM si
      WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    c AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM o
      WHERE next_type IS NOT NULL AND next_sess = session_idx
      GROUP BY 1, 2
    ),
    t AS (SELECT event_type, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.event_type, c.next_type, c.n,
           CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
    FROM c JOIN t USING (event_type)
    """,
)
def q161(spark, sf_dir):
    """Within-session transition matrix (pipeline/sessions.py
    session_transitions): q147's Markov view restricted to pairs inside
    one gap-bounded session (4h gap, q46's rule) — cross-session jumps
    are noise for funnel discovery. Session index and lead share one
    (user, time) exchange+sort; |types|^2-bounded output."""
    from ticktock_spark.schema import load_table

    return ss.session_transitions(
        load_table(spark, sf_dir, "events"), gap_ms=_GAP_MS
    )


@register(
    "q162_script_report",
    r"""
    WITH s AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '\p{Latin}', 0)) AS n_latin,
             len(regexp_extract_all(text, '\p{Han}', 0)) AS n_han,
             len(regexp_extract_all(text, '\p{Cyrillic}', 0)) AS n_cyrillic,
             len(regexp_extract_all(text, '\p{L}', 0)) AS n_letters
      FROM documents
    )
    SELECT doc_id, CAST(n_latin AS BIGINT) AS n_latin,
           CAST(n_han AS BIGINT) AS n_han,
           CAST(n_cyrillic AS BIGINT) AS n_cyrillic,
           CAST(n_letters AS BIGINT) AS n_letters,
           CASE WHEN n_letters <= 0 THEN 'none'
                WHEN greatest(n_cyrillic, n_han, n_latin) <= 0 THEN 'other'
                WHEN n_cyrillic = greatest(n_cyrillic, n_han, n_latin)
                  THEN 'cyrillic'
                WHEN n_han = greatest(n_cyrillic, n_han, n_latin) THEN 'han'
                ELSE 'latin' END AS script
    FROM s
    """,
)
def q162(spark, sf_dir):
    """Unicode-script report (pipeline/text.py script_report): per-doc
    Latin/Han/Cyrillic letter counts and the dominant script — the
    pre-filter before stopword language ID, which only separates
    Latin-script languages. Exact integer counts, zero-shuffle scan;
    the differential doubles as a Java-regex-vs-RE2 script-class
    parity check."""
    return tx.script_report(_table(spark, sf_dir, "documents"))


@register(
    "q163_pii_rollup",
    r"""
    WITH s AS (
      SELECT source,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS e,
             len(regexp_extract_all(text, '\b\d{6,}\b', 0)) AS n,
             len(regexp_extract_all(text,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', 0)) AS ip
      FROM documents
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN e + n + ip > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_pii,
           CAST(sum(e) AS BIGINT) AS n_emails,
           CAST(sum(n) AS BIGINT) AS n_longnums,
           CAST(sum(ip) AS BIGINT) AS n_ips
    FROM s GROUP BY 1
    """,
)
def q163(spark, sf_dir):
    """Per-source PII exposure rollup: email / long-number / IPv4-shaped
    match counts and the share of documents carrying any — the
    compliance report that decides which sources need the q52 redaction
    pass before release. Conservative RE2-compatible patterns (the
    pii_redact set + IPv4), exact integer counts, one scan."""
    d = _table(spark, sf_dir, "documents")
    t = F.col("text")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    longnum = r"\b\d{6,}\b"
    ipv4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    per = d.select(
        "source",
        F.size(F.regexp_extract_all(t, F.lit(email), 0)).alias("e"),
        F.size(F.regexp_extract_all(t, F.lit(longnum), 0)).alias("n"),
        F.size(F.regexp_extract_all(t, F.lit(ipv4), 0)).alias("ip"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("e") + F.col("n") + F.col("ip") > 0, 1).otherwise(0)
        ).alias("n_docs_with_pii"),
        F.sum("e").alias("n_emails"),
        F.sum("n").alias("n_longnums"),
        F.sum("ip").alias("n_ips"),
    )


@register(
    "q164_dup_quality",
    f"""
    WITH s AS ({_QUALITY_CTE}),
    q AS (SELECT doc_id, {_Q6.format(x=_QUALITY_EXPR)} AS v FROM s),
    d AS (
      SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) > 1 AS is_dup
      FROM documents
    )
    SELECT d.is_dup, CAST(count(*) AS BIGINT) AS n_docs,
           {_Q6.format(
               x='CAST(sum(CAST(floor(q.v * 1000000.0 + 0.5) AS BIGINT))'
                 ' AS DOUBLE) / count(*) / 1000000.0')} AS mean_quality
    FROM q JOIN d USING (doc_id) GROUP BY 1
    """,
)
def q164(spark, sf_dir):
    """Duplication × quality interaction: mean quality score for docs
    whose exact content digest repeats vs singletons — the two-row
    check behind 'duplicates are boilerplate' assumptions before
    choosing dedup aggressiveness. Quality means are integer micro-unit
    sums (aggregation-order-proof); dup membership is one digest
    window over (digest, id) — text never shuffles twice."""
    d = _table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    is_dup = (
        F.count(F.lit(1)).over(Window.partitionBy(F.md5(F.col("text")))) > 1
    )
    scored = d.select(
        q6(tx.quality_score(F.col("text"))).alias("v"), is_dup.alias("is_dup")
    )
    return scored.groupBy("is_dup").agg(
        F.count(F.lit(1)).alias("n_docs"),
        q6(
            F.sum(
                F.floor(F.col("v") * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
            ).cast("double")
            / F.count(F.lit(1))
            / F.lit(1_000_000.0)
        ).alias("mean_quality"),
    )


@register(
    "q165_cohort_funnel",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    s1 AS (SELECT user_id, min(us) AS t_signup FROM e
           WHERE event_type = 'signup' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(us) AS t_view FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'view' AND us > t_signup GROUP BY 1),
    s3 AS (SELECT e.user_id, min(us) AS t_click FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'click' AND us > t_view GROUP BY 1),
    s4 AS (SELECT e.user_id, min(us) AS t_purchase FROM e JOIN s3 USING (user_id)
           WHERE event_type = 'purchase' AND us > t_click GROUP BY 1),
    f AS (
      SELECT s1.user_id, t_signup,
             CASE WHEN t_purchase IS NOT NULL THEN 4
                  WHEN t_click IS NOT NULL THEN 3
                  WHEN t_view IS NOT NULL THEN 2
                  ELSE 1 END AS stage
      FROM s1
      LEFT JOIN s2 USING (user_id)
      LEFT JOIN s3 USING (user_id)
      LEFT JOIN s4 USING (user_id)
    )
    SELECT t_signup // 604800000000 AS cohort_week,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN stage >= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_signup,
           CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_view,
           CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_click,
           CAST(sum(CASE WHEN stage >= 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchase
    FROM f GROUP BY 1
    """,
)
def q165(spark, sf_dir):
    """Cohort funnel (pipeline/sessions.py cohort_funnel): q79's
    strictly-ordered funnel grouped by the epoch-aligned signup week —
    per-cohort depth counts, the growth-analytics view joining the
    cohort and funnel primitives. Exact integers end to end; one scan +
    one user shuffle + a cohort-bounded agg."""
    from pyspark.sql import functions as _F

    from ticktock_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", _F.unix_micros("ts").alias("us")
    )
    return ss.cohort_funnel(ev, ["signup", "view", "click", "purchase"])


@register(
    "q166_gap_percentiles",
    f"""
    WITH o AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
      FROM events
    ),
    g AS (SELECT event_type, CAST(gap AS DOUBLE) AS v FROM o
          WHERE gap IS NOT NULL),
    a AS (SELECT event_type, list_sort(list(v)) AS vals, count(*) AS n
          FROM g GROUP BY 1),
    e AS (SELECT event_type, vals, n, unnest([50.0, 95.0]) AS quantile FROM a),
    cx AS (
      SELECT event_type, quantile, n, vals,
             CASE WHEN quantile <= 0 THEN 0.0
                  WHEN quantile >= 100 THEN CAST(n AS DOUBLE)
                  ELSE quantile / 100.0 * (n + 1) END AS idx
      FROM e
    )
    SELECT event_type, quantile, CAST(n AS BIGINT) AS n,
           {_Q6.format(x=_R6_LIST)} AS gap_us
    FROM cx
    """,
)
def q166(spark, sf_dir):
    """Inter-event gap percentiles per ARRIVING event type (R-6 p50 /
    p95 of per-user gaps to the previous event, keyed by the later
    event's type) — the distribution you read BEFORE
    choosing a sessionization gap_ms (q46's threshold should sit in the
    tail of these gaps, not at a folklore 30 minutes). Gaps are exact
    integer microseconds; rank-based grouped percentiles, no per-group
    arrays on the Spark side."""
    from pyspark.sql import Window

    from ticktock_spark.operators.percentile import group_percentiles_r6
    from ticktock_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = (
        ev.withColumn("gap", F.col("us") - F.lag("us").over(w))
        .filter(F.col("gap").isNotNull())
        .select("event_type", F.col("gap").cast("double").alias("gap"))
    )
    out = group_percentiles_r6(gaps, ["event_type"], "gap", [50.0, 95.0])
    return out.select(
        "event_type", "quantile", "n", q6(F.col("pct")).alias("gap_us")
    )


# ---------------------------------------------------------------------------
# round 7: windowed containment (short-in-long quote detection)
# ---------------------------------------------------------------------------

def _windowed_containment_sql(
    window: int, stride: int, threshold: float
) -> str:
    """DuckDB twin of ``containment_pairs(windowed=True)``: the
    whole-doc md5 MinHash cand CTE (``_minhash_cte``) unioned with
    tile-level band keys — documents longer than ``window`` words are
    sliced into overlapping word windows (start positions 1, 1+stride,
    ...), each tile signed and banded exactly like a standalone doc,
    and tile keys joined against whole-document keys."""
    hs = ",\n             ".join(
        f"list_aggregate([substr(c, {j * 8 + 1}, 8) for c in cats], 'min') AS h{j}"
        for j in range(8)
    )
    tbands = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, md5('b{b}:' || h{2*b} || h{2*b+1}) AS key FROM tsig"
        for b in range(4)
    )
    tile_norm = _NORM.replace("lower(text)", "lower(tile)")
    return _minhash_cte() + f"""
    , wt AS (SELECT doc_id, str_split(text, ' ') AS w
             FROM documents WHERE text IS NOT NULL),
    lt AS (SELECT doc_id, w FROM wt WHERE len(w) > {window}),
    rawtiles AS (
      SELECT doc_id,
             unnest([array_to_string(list_slice(w, st, st + {window - 1}), ' ')
                     for st in range(1, len(w) + 1, {stride})]) AS tile
      FROM lt
    ),
    tnorm AS (SELECT doc_id, {tile_norm} AS norm
              FROM rawtiles WHERE length(tile) > 0),
    tsh AS (SELECT doc_id, {_SHINGLES} AS sh FROM tnorm),
    tct AS (SELECT doc_id, [md5('0:' || s) || md5('1:' || s) for s in sh] AS cats FROM tsh),
    tsig AS (
      SELECT doc_id,
             {hs}
      FROM tct
    ),
    tbands AS (
      {tbands}
    ),
    tkeys AS (SELECT DISTINCT doc_id, band, key FROM tbands),
    wcand AS (
      SELECT DISTINCT least(t.doc_id, d.doc_id) AS id_a,
                      greatest(t.doc_id, d.doc_id) AS id_b
      FROM tkeys t JOIN bands d
        ON t.band = d.band AND t.key = d.key AND t.doc_id != d.doc_id
    ),
    allc AS (SELECT id_a, id_b FROM cand
             UNION SELECT id_a, id_b FROM wcand),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    sz AS (SELECT doc_id, len(sh) AS n FROM sh),
    iv AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM allc c JOIN ex a ON a.doc_id = c.id_a
                  JOIN ex b ON b.doc_id = c.id_b AND a.s = b.s
      GROUP BY 1, 2
    ),
    j AS (
      SELECT iv.id_a, iv.id_b, CAST(iv.inter AS BIGINT) AS inter,
             CAST(sa.n AS INT) AS n_a, CAST(sb.n AS INT) AS n_b,
             CAST(iv.inter AS DOUBLE) / least(sa.n, sb.n) AS containment
      FROM iv JOIN sz sa ON sa.doc_id = iv.id_a
              JOIN sz sb ON sb.doc_id = iv.id_b
    )
    SELECT id_a, id_b, inter, n_a, n_b, containment,
           CASE WHEN n_a < n_b THEN 'a'
                WHEN n_b < n_a THEN 'b'
                ELSE 'both' END AS contained
    FROM j WHERE containment >= {threshold}
    """


@register("q169_containment_windowed", _windowed_containment_sql(24, 12, 0.8))
def q169(spark, sf_dir):
    """Windowed containment (pipeline/dedup.py containment_pairs with
    windowed=True): q152's asymmetric |A∩B|/min(|A|,|B|) screen with the
    short-in-long recall gap closed — documents longer than 24 words are
    tiled into overlapping 24-word windows (stride 12), each tile
    LSH-banded like a standalone doc, and tile keys joined against
    whole-document keys, so a short doc quoted inside a long one
    collides at full MinHash strength (plain whole-doc LSH provably
    misses the planted fixture in tests). Verification stays exact on
    FULL document shingle sets over the unioned candidate set."""
    return dd.containment_pairs(
        _table(spark, sf_dir, "documents"), threshold=0.8,
        windowed=True, window_words=24, stride=12,
    )


_DECON_SQL = f"""
    WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents
               WHERE text IS NOT NULL),
    g AS (
      SELECT doc_id, unnest((SELECT {_WORD_SHINGLES} FROM
             (SELECT string_split_regex(norm, '\\s+') AS tk_w))) AS gram
      FROM n
    ),
    dg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 != 0),
    bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1),
    h AS (
      SELECT dg.doc_id, count(*) AS n_hits
      FROM dg JOIN bg ON dg.gram = bg.gram
      GROUP BY 1
    )
    SELECT h.doc_id, CAST(h.n_hits AS BIGINT) AS n_hits,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(h.n_hits AS DOUBLE) / t.n_grams AS hit_ratio
    FROM h JOIN tot t ON t.doc_id = h.doc_id
    """


@register("q173_decontaminate", _DECON_SQL)
def q173(spark, sf_dir):
    """Eval-set decontamination (pipeline/dedup.py decontaminate): the
    GPT-3/Llama exact word-n-gram overlap screen — training docs sharing
    any word 3-gram with the held-out benchmark slice (doc_id % 97 == 0
    stands in for an eval suite; production n is 13, scaled to this
    corpus's ~55-word docs). Benchmark side collapses to distinct
    grams (broadcast-scale); corpus side is one scan + explode; output
    is per-doc hit counts + ratio for audit-before-drop."""
    d = _table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return dd.decontaminate(train, bench, n=3)


@register("q177_decontaminate_xxh64", _DECON_SQL)
def q177(spark, sf_dir):
    """decontaminate(hash_grams=True): the xxhash64 narrow-shuffle
    engine — 8-byte gram keys instead of strings through the exchange,
    the 100 TB preset. Structural oracle: must equal the q173 STRING
    spec's per-doc hit counts exactly (a 64-bit gram collision would
    surface as a diff; none exists on these corpora) — the q99
    pin-the-JVM-engine pattern."""
    d = _table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return dd.decontaminate(train, bench, n=3, hash_grams=True)


@register(
    "q178_containment_recall_audit",
    # MATERIALIZED: this audit consumes j twice (allv + plainv) and cand
    # twice (allc + plainv); DuckDB inlines multiply-referenced CTEs, so
    # without the hint the whole tile-minhash subtree executes twice —
    # at sf0.1 that doubled footprint OOM'd/filled 200 GB of spill.
    # With the hints the oracle's cost is one q169 pass + pair-scale
    # counts. Semantics unchanged (re-proven sf0.001/sf0.01/fuzz).
    _windowed_containment_sql(24, 12, 0.8)
    .replace("cand AS (", "cand AS MATERIALIZED (", 1)
    .replace("j AS (", "j AS MATERIALIZED (", 1)
    .replace(
        """
    SELECT id_a, id_b, inter, n_a, n_b, containment,
           CASE WHEN n_a < n_b THEN 'a'
                WHEN n_b < n_a THEN 'b'
                ELSE 'both' END AS contained
    FROM j WHERE containment >= 0.8
    """,
        """
    , plainv AS (
      SELECT j.id_a, j.id_b FROM j
      JOIN (SELECT DISTINCT id_a, id_b FROM cand) c
        ON c.id_a = j.id_a AND c.id_b = j.id_b
      WHERE j.containment >= 0.8
    ),
    allv AS (SELECT id_a, id_b FROM j WHERE containment >= 0.8)
    SELECT CAST((SELECT count(*) FROM allv) AS BIGINT) AS n_total,
           CAST((SELECT count(*) FROM plainv) AS BIGINT) AS n_plain,
           CAST((SELECT count(*) FROM allv) -
                (SELECT count(*) FROM plainv) AS BIGINT) AS n_windowed_only
    """,
    ),
)
def q178(spark, sf_dir):
    """Windowed-containment recall audit (the q134 lsh_audit pattern
    applied to q169): of all containment-verified pairs found by the
    UNIONED candidate set, how many whole-doc LSH alone would have
    surfaced and how many only the window tiling recovers — the
    measured recall gap that justifies windowed=True for quote
    screening. One shared shingle/verify pass; pair-scale counts."""
    docs = _table(spark, sf_dir, "documents")
    # persist the verified pair set (pair-scale, tiny) — consumed by
    # both the total count and the plain-LSH semi-join below
    both = dd.containment_pairs(
        docs, threshold=0.8, windowed=True, window_words=24, stride=12,
    ).select("id_a", "id_b").persist()
    plain_cand = dd.minhash_lsh_candidates(docs).select("id_a", "id_b")
    plain = both.join(plain_cand, ["id_a", "id_b"], "left_semi")
    # one DataFrame plan (two 1-row aggs cross-joined) instead of two
    # driver-side count() actions, so the plan audit sees the real scans
    total_agg = both.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    plain_agg = plain.agg(F.count(F.lit(1)).cast("long").alias("n_plain"))
    return total_agg.crossJoin(plain_agg).select(
        "n_total",
        "n_plain",
        (F.col("n_total") - F.col("n_plain")).alias("n_windowed_only"),
    )


# ---------------------------------------------------------------------------
# round 8: corpus-internal gram statistics + split-leakage audit
# ---------------------------------------------------------------------------

_DG_CTE = f"""
    WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents
               WHERE text IS NOT NULL),
    g AS (
      SELECT doc_id, unnest((SELECT {_WORD_SHINGLES} FROM
             (SELECT string_split_regex(norm, '\\s+') AS tk_w))) AS gram
      FROM n
    ),
    dg AS (SELECT DISTINCT doc_id, gram FROM g)
"""


@register(
    "q184_dup_gram_fraction",
    _DG_CTE
    + """
    , c AS (SELECT gram, count(*) AS gdf FROM dg GROUP BY 1)
    SELECT dg.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (c.gdf >= 2) AS BIGINT) AS n_dup,
           CAST(count(*) FILTER (c.gdf >= 2) AS DOUBLE) / count(*)
             AS dup_ratio
    FROM dg JOIN c ON dg.gram = c.gram
    GROUP BY 1
    """,
)
def q184(spark, sf_dir):
    """Corpus-internal duplicated-text mass per doc (pipeline/dedup.py
    gram_duplication): the fraction of a doc's distinct word 3-grams
    that occur in ≥1 OTHER document — the exact-substring-duplication
    signal (Lee et al. 2022) that catches boilerplate-assembled docs no
    pairwise near-dup screen (q34/q88) flags. Skew-free shape:
    n_dup = n_grams − (# grams unique to the doc), both sides map-side-
    combinable groupBys (a hot stop-word gram folds to one row per map
    task before the exchange), final join doc-keyed; corpus-linear
    where pair-based dedup is quadratic in cluster size."""
    return dd.gram_duplication(_table(spark, sf_dir, "documents"), n=3)


@register(
    "q185_gram_novelty",
    _DG_CTE
    + """
    , f AS (SELECT gram, min(doc_id) AS first_id FROM dg GROUP BY 1)
    SELECT dg.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (f.first_id = dg.doc_id) AS BIGINT) AS n_new,
           CAST(count(*) FILTER (f.first_id = dg.doc_id) AS DOUBLE) / count(*)
             AS novelty
    FROM dg JOIN f ON dg.gram = f.gram
    GROUP BY 1
    """,
)
def q185(spark, sf_dir):
    """First-occurrence novelty per doc (pipeline/dedup.py
    gram_novelty): the fraction of a doc's distinct word 3-grams whose
    first appearance (min doc_id = ingest order) is this doc — the
    intake-curation gate: a new crawl batch's low-novelty docs restate
    what the corpus already holds. Same corpus-linear shape as q184
    with min(id) in place of the frequency count."""
    return dd.gram_novelty(_table(spark, sf_dir, "documents"), n=3)


@register(
    "q186_rarity_decontaminate",
    _DG_CTE.replace(
        "dg AS (SELECT DISTINCT doc_id, gram FROM g)",
        "dg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 != 0),\n"
        "    bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)",
    )
    + f"""
    , c AS (SELECT gram, count(*) AS gdf FROM dg GROUP BY 1),
    w AS (SELECT dg.doc_id, dg.gram, greatest(1, 1000000 // c.gdf) AS w
          FROM dg JOIN c ON dg.gram = c.gram),
    m AS (SELECT w.doc_id, w.w, bg.gram IS NOT NULL AS hit
          FROM w LEFT JOIN bg ON w.gram = bg.gram)
    SELECT doc_id,
           CAST(count(*) FILTER (hit) AS BIGINT) AS n_hits,
           CAST(coalesce(sum(w) FILTER (hit), 0) AS BIGINT) AS w_hits,
           CAST(sum(w) AS BIGINT) AS w_grams,
           {_Q6.format(
               x='(CAST(coalesce(sum(w) FILTER (hit), 0) AS DOUBLE)'
                 ' / CAST(sum(w) AS DOUBLE))')} AS rarity_ratio
    FROM m GROUP BY 1 HAVING count(*) FILTER (hit) > 0
    """,
)
def q186(spark, sf_dir):
    """Rarity-weighted decontamination (pipeline/dedup.py
    decontaminate_rarity): q173's screen with each gram weighted by the
    integer inverse document frequency 1_000_000 // df, so sharing a
    RARE gram with the benchmark — a verbatim test item — outranks
    ubiquitous boilerplate hits. Integer weights (floor division,
    clamped ≥ 1 so a >1M-doc gram frequency can't zero a doc's weight
    mass, no ln): exact and order-free. DFs via map-side-combinable
    groupBy joined back on the gram key (AQE-splittable where a window
    partition is not)."""
    d = _table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return dd.decontaminate_rarity(train, bench, n=3)


@register(
    "q187_split_leakage_audit",
    _minhash_cte()
    + f"""
    , j AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
               AS jac
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    ),
    pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
    s AS (SELECT doc_id, {_split_case()} AS split FROM documents),
    lab AS (
      SELECT p.id_a, p.id_b, sa.split AS sa, sb.split AS sb
      FROM pairs p JOIN s sa ON sa.doc_id = p.id_a
                   JOIN s sb ON sb.doc_id = p.id_b
    )
    SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY 1, 2
    """,
)
def q187(spark, sf_dir):
    """Split-leakage audit (pipeline/cluster.py split_leakage_audit):
    assign docs by q45's NAIVE per-id hash split, then count verified
    near-dup pairs (Jaccard ≥ 0.5) per unordered split-pair cell.
    Off-diagonal rows are eval items whose near-copy the naive split
    would train on — the measured leakage q82's cluster-keyed split
    drives to zero by construction. Pair-scale joins against a tiny
    (id, split) projection."""
    from ticktock_spark.pipeline import cluster as cl
    from ticktock_spark.pipeline.queries import _WEIGHTS

    d = _table(spark, sf_dir, "documents")
    cand = dd.minhash_lsh_candidates(d, num_hashes=8, bands=4)
    verified = dd.verify_jaccard(d, cand, threshold=0.5)
    return cl.split_leakage_audit(
        d, verified.select("id_a", "id_b"), _WEIGHTS
    )


@register(
    "q190_knn_label_agreement",
    f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             {_Q6.format(x=f'({_DOT}) / ({_NRM_C} * {_NRM_Q})')} AS cosine
      FROM embeddings c, embeddings q
      WHERE c.vec_id <> q.vec_id
    ),
    nn AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT ql.label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (nl.label = ql.label) AS BIGINT) AS n_match,
           {_Q6.format(
               x='(CAST(count(*) FILTER (nl.label = ql.label) AS DOUBLE)'
                 ' / count(*))')} AS agreement
    FROM nn JOIN embeddings ql ON ql.vec_id = nn.query_id
            JOIN embeddings nl ON nl.vec_id = nn.vec_id
    GROUP BY 1
    """,
)
def q190(spark, sf_dir):
    """1-NN label agreement per class: for every embedding, does its
    cosine nearest neighbor share its label — the standard
    label-noise / embedding-quality probe (high agreement = classes
    form cosine-coherent regions; a low class flags mislabeled or
    poorly-embedded data before anyone trains on it). Brute-force
    all-pairs IS the spec — this is an eval-sample metric (run it on a
    held-out sample at scale; q41/q43's ANN stacks are the production
    search path). Scoring reuses the numpy block kernel
    (fold-order-exact vs the SQL fold); ranking on the quantized cosine
    with vec_id tiebreak, agreement joined from the label column."""
    e = _table(spark, sf_dir, "embeddings")
    q = e.select(F.col("vec_id").alias("query_id"), "embedding")
    # per-block argmax INSIDE the Arrow kernel (r11): the kernel emits
    # one winner row per (query, corpus block) under the same
    # (cosine, -vec_id) total order, so only blocks x |queries| rows
    # cross Arrow + the exchange instead of the N x N score table; the
    # global max_by below reduces the partial winners exactly as it
    # reduced the full table. min_parallelism spreads the single-file
    # embeddings scan across cores (result-invariant for an argmax).
    scored = sim.cosine_argmax_partials(
        e, q, min_parallelism=spark.sparkContext.defaultParallelism
    )
    # argmax via max_by on (cosine, -vec_id), NOT a row_number window:
    # the aggregate combines map-side, so the partial-winner table never
    # sort-shuffles -- only |queries| rows cross the exchange. The
    # struct order (quantized cosine desc, vec_id asc) is exactly the
    # window's tiebreak.
    nn = scored.groupBy("query_id").agg(
        F.max_by(
            "vec_id", F.struct(F.col("cosine"), (-F.col("vec_id")))
        ).alias("vec_id")
    )
    ql = e.select(F.col("vec_id").alias("query_id"), F.col("label"))
    nl = e.select(
        F.col("vec_id").alias("vec_id"), F.col("label").alias("nn_label")
    )
    j = nn.join(ql, "query_id").join(nl, "vec_id")
    return j.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("nn_label") == F.col("label"), 1))
        .cast("long")
        .alias("n_match"),
        q6(
            F.count(F.when(F.col("nn_label") == F.col("label"), 1)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("agreement"),
    )


@register(
    "q191_length_gini",
    """
    WITH r AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS i
      FROM documents
    ),
    m AS (
      SELECT source, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
               AS si
      FROM r GROUP BY 1
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(sx AS BIGINT) AS sum,
           floor((CAST(2 * si - (n + 1) * sx AS DOUBLE)
                  / CAST(n * sx AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
             AS gini
    FROM m WHERE sx > 0
    """,
)
def q191(spark, sf_dir):
    """Document-size inequality per source (pipeline/text.py
    length_gini): Gini of n_chars — a source whose mass sits in a few
    giant docs behaves differently under doc-level sampling/packing
    than one spread evenly at the same mean (q119/q140 can't tell them
    apart). Exact integer rank-weighted sums; tie order is
    Σ-invariant."""
    return tx.length_gini(_table(spark, sf_dir, "documents"))


@register(
    "q192_source_word_entropy",
    f"""
    WITH nm AS (SELECT source, {_NORM} AS norm FROM documents),
    t AS (
      SELECT source, unnest(string_split_regex(norm, '\\s+')) AS tok
      FROM nm WHERE length(norm) > 0
    ),
    c AS (SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2),
    m AS (
      SELECT source, CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CAST(c AS HUGEINT)) AS HUGEINT) AS t,
             CAST(sum(CAST(c AS HUGEINT)
                      * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5)
                             AS HUGEINT)) AS HUGEINT) AS sl
      FROM c GROUP BY 1
    )
    SELECT source, CAST(t AS BIGINT) AS n_tokens, vocab,
           {_Q6.format(
               x='(ln(CAST(t AS DOUBLE))'
                 ' - CAST(sl AS DOUBLE) / (CAST(t AS DOUBLE) * 1000000.0))')}
             AS entropy
    FROM m
    """,
)
def q192(spark, sf_dir):
    """Word-unigram Shannon entropy per source (pipeline/text.py
    source_word_entropy): the corpus-level diversity number q62's
    per-doc TTR can't see — a source repeating ten templates scores far
    below one with genuine variety at the same vocab size. H = ln T −
    (Σ c·⌊ln c·1e6⌉)/(T·1e6): per-word logs floored to integer
    micro-nats (the zipf_alpha discipline) so the weighted sum is
    order-free and engine-exact."""
    return tx.source_word_entropy(_table(spark, sf_dir, "documents"))


@register(
    "q193_centroid_agreement",
    f"""
    WITH ex AS (
      SELECT label,
             unnest(generate_series(1, len(embedding))) AS pos,
             unnest(embedding) AS v
      FROM embeddings
    ),
    cent AS (
      -- micro-unit quantize + HUGEINT sum + ONE divide: order-free and
      -- bit-identical to the Spark side's DECIMAL(38,0) accumulation —
      -- a plain avg() over doubles is partial-aggregation-order
      -- dependent and could flip an argmax tiebreak near a boundary
      SELECT label, pos,
             floor(CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5)
                                 AS HUGEINT)) AS DOUBLE)
                   / count(*) + 0.5) / 1000000.0 AS m
      FROM ex GROUP BY 1, 2
    ),
    ca AS (SELECT label AS c_label, list(m ORDER BY pos) AS cv
           FROM cent GROUP BY 1),
    scored AS (
      SELECT e.vec_id, e.label, c.c_label,
             list_sum([CAST(e.embedding[i] AS DOUBLE) * c.cv[i]
                       for i in generate_series(1, len(e.embedding))]) AS dot,
             sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE)
                            * CAST(e.embedding[i] AS DOUBLE)
                            for i in generate_series(1, len(e.embedding))]))
               AS ne,
             sqrt(list_sum([c.cv[i] * c.cv[i]
                            for i in generate_series(1, len(c.cv))])) AS nc
      FROM embeddings e CROSS JOIN ca c
    ),
    sc2 AS (
      SELECT vec_id, label, c_label,
             floor(dot / (ne * nc) * 1000000.0 + 0.5) / 1000000.0 AS cosine
      FROM scored WHERE ne > 0 AND nc > 0
    ),
    best AS (
      SELECT vec_id, label, c_label AS pred FROM (
        SELECT vec_id, label, c_label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, c_label) AS rn
        FROM sc2
      ) WHERE rn = 1
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (pred = label) AS BIGINT) AS n_match,
           {_Q6.format(
               x='(CAST(count(*) FILTER (pred = label) AS DOUBLE)'
                 ' / count(*))')} AS agreement
    FROM best GROUP BY 1
    """,
)
def q193(spark, sf_dir):
    """Nearest-CENTROID label agreement (Rocchio probe): assign every
    embedding to the label whose mean vector it is cosine-closest to,
    then score agreement per true label — q190's scale-path twin: the
    1-NN probe is O(N²) by spec, this is O(N·L) with L broadcast
    centroids and dimension-bounded centroid aggregation (the
    embedding_drift shuffle shape) — the probe you can afford on the
    FULL corpus, not just an eval sample. Gap between q190 and q193
    agreement is itself diagnostic: 1-NN high + centroid low = classes
    are cosine-coherent but not linearly separable (multi-modal)."""
    return sim.centroid_label_agreement(_table(spark, sf_dir, "embeddings"))


@register(
    "q199_vocab_coverage",
    f"""
    WITH nm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    t AS (
      SELECT unnest(string_split_regex(norm, '\\s+')) AS tok
      FROM nm WHERE length(norm) > 0
    ),
    wc AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
    cc AS (SELECT c, count(*) AS n_words, count(*) * c AS mass
           FROM wc GROUP BY 1),
    cum AS (
      SELECT c, n_words,
             sum(n_words) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING)
               AS cw,
             sum(mass) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING) AS cm,
             sum(n_words) OVER () AS vocab,
             sum(mass) OVER () AS total
      FROM cc
    ),
    k AS (SELECT CAST(unnest([1000, 10000, 50000]) AS BIGINT) AS k),
    hit AS (
      SELECT k.k, cum.*, least(k.k, cum.vocab) AS kk
      FROM k JOIN cum
        ON cum.cw - cum.n_words < least(k.k, cum.vocab)
       AND least(k.k, cum.vocab) <= cum.cw
    ),
    cov AS (SELECT k, vocab, total,
                   cm - n_words * c + (kk - (cw - n_words)) * c AS covered
            FROM hit)
    SELECT k, CAST(vocab AS BIGINT) AS vocab_size,
           CAST(total AS BIGINT) AS total_tokens,
           CAST(covered AS BIGINT) AS covered_tokens,
           {_Q6.format(
               x='(CAST(covered AS DOUBLE) / CAST(total AS DOUBLE))')}
             AS coverage
    FROM cov
    """,
)
def q199(spark, sf_dir):
    """Tokenizer-sizing coverage curve (pipeline/text.py
    vocab_coverage): the exact token-mass fraction the top-K words
    cover, for K ∈ {{1k, 10k, 50k}} — "50k words cover 97% of tokens"
    is the number that picks a vocab budget / char-fallback rate before
    any BPE train (q112) runs. NO global vocabulary sort: word counts
    reduce to the count-of-counts frame (one row per distinct
    frequency — log-bounded under Zipf), a window walks THAT, and each
    K resolves against its boundary tier exactly (tied words contribute
    identical mass, so tie order cannot change coverage)."""
    return tx.vocab_coverage(_table(spark, sf_dir, "documents"))


@register(
    "q200_dedup_yield",
    _minhash_cte()
    + f"""
    , j AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
               AS jac
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    ),
    t AS (SELECT CAST(unnest([0.5, 0.7, 0.9]) AS DOUBLE) AS threshold),
    -- LEFT join: a threshold with zero qualifying pairs still reports
    -- (t, 0, 0, 0) — mirrors the Spark side's explode_outer contract
    b AS (SELECT t.threshold, j.id_a, j.id_b
          FROM t LEFT JOIN j ON j.jac >= t.threshold),
    p AS (SELECT threshold, count(id_b) AS n_pairs,
                 count(DISTINCT id_b) AS n_removable
          FROM b GROUP BY 1),
    d AS (SELECT threshold, count(DISTINCT id) AS n_docs FROM (
            SELECT threshold, id_a AS id FROM b
            UNION ALL SELECT threshold, id_b FROM b)
          GROUP BY 1)
    SELECT p.threshold, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_removable AS BIGINT) AS n_removable
    FROM p JOIN d USING (threshold)
    """,
)
def q200(spark, sf_dir):
    """Dedup strictness → yield curve (pipeline/dedup.py
    dedup_yield_curve): verified near-dup pairs, participating docs,
    and greedy-removable docs at Jaccard ∈ {{0.5, 0.7, 0.9}} — the
    table a curation run reads to pick a threshold (0.9 trims mirrors,
    0.5 starts eating paraphrases; the knee is in this curve). The
    MinHash/LSH candidate+verify pass runs ONCE at the loosest
    threshold; per-threshold rows are a 3-row broadcast re-bin of the
    pair table. n_removable is the one-pass smaller-id rule — a
    conservative bound; the cluster-exact path is q77's components."""
    return dd.dedup_yield_curve(_table(spark, sf_dir, "documents"))
