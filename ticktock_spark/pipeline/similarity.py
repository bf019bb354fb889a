"""Similarity search over embedding columns (array<float>).

- brute_force_knn: exact cosine top-k. The query side is broadcast (k
  query vectors are small); the corpus is scanned once; per-partition
  top-k then a tiny global top-k — no all-to-all shuffle. This is the
  baseline and the verification oracle for approximate variants.
- cosine_neardup_pairs: exact all-pairs near-dup detection, distributed
  as a block-pair (triangle) join — the corpus never touches the driver
  and no task holds more than two blocks.
- ivf_knn: IVF-style approximate search. Centroids (from a provided
  assignment column or computed by averaging per bucket) are broadcast;
  each query probes its nearest `nprobe` centroids and only scans those
  buckets. At 100 TB: corpus bucketed/partitioned by centroid id on
  storage → partition pruning makes a query touch nprobe/nlist of the
  data.
- srp_lsh_knn: sign-random-projection LSH with deterministic
  (md5-derived ±1) hyperplanes, so signatures are reproducible in ANY
  engine with md5 — including the DuckDB oracle.

Dot products use F.aggregate (sequential fold → deterministic order,
bit-stable) over zip_with, entirely JVM-side; the numpy kernels
accumulate SEQUENTIALLY over the vector dimension in float64 so every
partial sum rounds exactly like a SQL engine's left-to-right fold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ticktock_spark.pipeline.util import spread_scan

# Upper bound on rows x queries cells per yielded Arrow frame in the
# pair-product kernels (cosine_scores, knn_quantized). An unchunked
# 10k-row Arrow input batch against a 20k-vector broadcast query side
# materializes 2x10^8 pairs in ONE output buffer (~1.2 GB — measured
# direct-memory OOM against the 8 GiB cap on the 10x/sf1 bench).
# Chunking the corpus rows is arithmetically free (every pair is
# row-local), so any NEW kernel whose output frame scales with
# |input batch| x |broadcast side| must slice its batches to this
# bound; kernels whose yields are row-local (<= a few columns per
# input row) need no cap.
MAX_PAIR_CELLS = 2_000_000

#: Driver-side cap on collected query matrices. The broadcast-query
#: kernels (cosine_scores, cosine_argmax_partials, cosine_topk_partials,
#: srp_lsh_knn, knn_quantized, pq_knn) collect the QUERY frame to the
#: driver and broadcast it — eval-sample scale by spec. The cap makes an
#: oversized query frame fail LOUDLY at build time instead of silently
#: OOMing the driver (the bd8d042 rule: name the bound at every
#: materialization site). 2^18 rows × (64-dim float64 + id) ≈ 140 MB of
#: broadcast — at the top of the guide's comfortable-broadcast range;
#: corpus-scale "query" sets belong on the bucketed/index paths
#: (srp_bucketed, ivf_index_knn, centroid_label_agreement).
MAX_QUERY_ROWS = 1 << 18


def _query_matrix(queries: DataFrame, cols: list[str]):
    """Collect ``queries[cols]`` to pandas under the named cap.

    Row order is whatever the scan yields — every caller is
    order-insensitive (per-query outputs, broadcast join inputs)."""
    # driver-bound: <= MAX_QUERY_ROWS rows enforced by the limit below
    qpdf = queries.select(*cols).limit(MAX_QUERY_ROWS + 1).toPandas()
    if len(qpdf) > MAX_QUERY_ROWS:
        raise ValueError(
            f"query frame exceeds MAX_QUERY_ROWS={MAX_QUERY_ROWS}: the"
            " broadcast-query kernels are for eval-sample-scale query"
            " sets; route corpus-scale probes through the bucketed or"
            " persisted-index paths instead"
        )
    return qpdf


def _block_dots(np, C, Q, cell_tile: int = 1 << 16):
    """Sequential-fold pair dots: dots[i, j] = the d-ascending
    accumulation of C[i, d] * Q[j, d] — every output cell sees exactly
    the same multiply-then-add sequence as the naive per-dimension
    loop, so values are bit-identical to the SQL fold the oracles
    mirror. Computed in ~cell_tile-cell OUTPUT TILES: the naive loop
    re-streams the whole rows x queries accumulator from RAM once per
    dimension (2 x dim x |dots| bytes of traffic — the kernels'
    dominant cost at 10x scale), while a tile stays cache-resident
    across the entire dimension loop. Measured 3.2x on the eval-probe
    shape (100 x 20k x 64), 1.4-1.5x on the tall-thin retrieval shapes
    (bit-equal outputs)."""
    rows, dim = C.shape
    q = Q.shape[0]
    dots = np.empty((rows, q))
    q_t = min(q, 1024) or 1
    r_t = max(1, cell_tile // q_t)
    for rlo in range(0, rows, r_t):
        rhi = min(rlo + r_t, rows)
        Ct = C[rlo:rhi]
        for qlo in range(0, q, q_t):
            qhi = min(qlo + q_t, q)
            Qt = Q[qlo:qhi]
            dt = np.zeros((rhi - rlo, qhi - qlo))
            for d in range(dim):
                dt += Ct[:, d : d + 1] * Qt[:, d]
            dots[rlo:rhi, qlo:qhi] = dt
    return dots


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _q6col(c: Column) -> Column:
    """Engine-neutral 6-decimal canonicalization (see queries.q6)."""
    return F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0)


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    queries: (query_id, embedding). Output: query_id, vec_id, cosine, rank.
    Ties broken by vec_id for determinism.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    joined = corpus.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = joined.select(
        query_id_col,
        id_col,
        cosine(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_scores(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, cosine) for every corpus × query pair, scored
    as an Arrow-batched numpy block product.

    The query matrix (small — top-k searches have few queries) is
    broadcast; each corpus partition scores against it with sequential
    per-dimension float64 accumulation, so values are bit-identical to
    the SQL fold the DuckDB oracles use (same rationale and kernel shape
    as cosine_neardup_pairs). Self-pairs (vec_id == query_id) are
    excluded, matching brute_force_knn. Id dtypes are taken from the
    input frames — any integral/string id column works.
    """
    import numpy as np
    import pandas as pd

    qid_type = dict(queries.dtypes)[query_id_col]
    id_type = dict(corpus.dtypes)[id_col]
    # driver-bound: query-set matrix, capped (see _query_matrix)
    qpdf = _query_matrix(queries, [query_id_col, vec_col])
    q_ids = qpdf[query_id_col].to_numpy()
    Q = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    dim = Q.shape[1]
    acc = np.zeros(len(q_ids))
    for d in range(dim):
        acc = acc + Q[:, d] * Q[:, d]
    q_norms = np.sqrt(acc)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, Q, q_norms))

    # cap the rows x queries fan-out PER YIELDED FRAME (module-level
    # MAX_PAIR_CELLS carries the measured OOM rationale); bounds both
    # the numpy dots matrix and the Arrow output batch.

    def block(batches):
        b_qids, b_Q, b_qnorms = bc.value
        step = max(1, MAX_PAIR_CELLS // max(1, len(b_qids)))
        for pdf_in in batches:
            for lo in range(0, len(pdf_in), step):
                pdf = pdf_in.iloc[lo : lo + step]
                if len(pdf) == 0:
                    continue
                c_ids = pdf[id_col].to_numpy()
                C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                dots = _block_dots(np, C, b_Q)
                acc_c = np.zeros(len(c_ids))
                for d in range(dim):
                    acc_c += C[:, d] * C[:, d]
                cos = dots / (np.sqrt(acc_c)[:, None] * b_qnorms[None, :])
                cos = np.floor(cos * 1_000_000.0 + 0.5) / 1_000_000.0
                keep = c_ids[:, None] != b_qids[None, :]
                ci, qj = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "query_id": b_qids[qj],
                        "vec_id": c_ids[ci],
                        "cosine": cos[ci, qj],
                    }
                )

    return corpus.select(id_col, vec_col).mapInPandas(
        block, schema=f"query_id {qid_type}, vec_id {id_type}, cosine double"
    )


def cosine_argmax_partials(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    min_parallelism: int | None = None,
) -> DataFrame:
    """Per-(query, corpus-block) argmax rows of ``cosine_scores``: for
    every scored block, the single (query_id, vec_id, cosine) row that
    maximizes (cosine, -vec_id) — the same total order a Spark
    ``max_by(vec_id, struct(cosine, -vec_id))`` uses, with a NaN cosine
    ranking LAST (min id among all-NaN): the kernel emits through
    Arrow, where pandas' NaN becomes SQL NULL, and the struct
    comparison orders a NULL first field below every value — so the
    downstream max_by sees NULL-cosine rows as the weakest candidates.
    (r12 fix: the r11 form ranked NaN FIRST in-kernel per Spark's raw
    NaN-is-largest double order, which is unreachable through Arrow — a
    block containing one NaN-cosine row emitted IT and silently
    suppressed the block's finite candidates.) A global
    ``groupBy(query_id).agg(max_by(...))`` over this output is therefore
    EXACTLY the argmax over the full pair table, while only
    (blocks x |queries|) rows ever cross the Arrow boundary and the
    exchange instead of (|corpus| x |queries|) — the §2.3
    aggregate-before-you-shuffle move pushed inside the kernel, where
    the pair table is born.

    Scoring is bit-identical to ``cosine_scores`` (same broadcast query
    matrix, same sequential per-dimension float64 accumulation, same
    6-decimal quantization), so the winning (cosine, vec_id) per query
    is the one the full table's max_by would pick. Requires an integral
    ``id_col`` (the in-kernel tiebreak uses an int64 sentinel).
    Unquantized, a -0.0 cosine could tie a +0.0 one under numpy (==
    treats them equal) while Spark's Double.compare orders them; the
    quantization canonicalizes -0.0 away (floor(x*1e6+0.5) of a
    representable value never yields -0.0).

    ``min_parallelism`` spreads a single-file scan (see ``spread_scan``)
    — grouping of corpus rows into blocks does not affect the global
    argmax, so the repartition is result-invariant.
    """
    import numpy as np
    import pandas as pd

    qid_type = dict(queries.dtypes)[query_id_col]
    id_type = dict(corpus.dtypes)[id_col]
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            f"cosine_argmax_partials needs an integral id column, got {id_type}"
        )
    # driver-bound: query-set matrix, capped (see _query_matrix)
    qpdf = _query_matrix(queries, [query_id_col, vec_col])
    q_ids = qpdf[query_id_col].to_numpy()
    Q = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    dim = Q.shape[1]
    acc = np.zeros(len(q_ids))
    for d in range(dim):
        acc = acc + Q[:, d] * Q[:, d]
    q_norms = np.sqrt(acc)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, Q, q_norms))

    def block(batches):
        b_qids, b_Q, b_qnorms = bc.value
        step = max(1, MAX_PAIR_CELLS // max(1, len(b_qids)))
        id_sentinel = np.iinfo(np.int64).max
        for pdf_in in batches:
            for lo in range(0, len(pdf_in), step):
                pdf = pdf_in.iloc[lo : lo + step]
                if len(pdf) == 0:
                    continue
                c_ids = pdf[id_col].to_numpy()
                C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                dots = _block_dots(np, C, b_Q)
                acc_c = np.zeros(len(c_ids))
                for d in range(dim):
                    acc_c += C[:, d] * C[:, d]
                cos = dots / (np.sqrt(acc_c)[:, None] * b_qnorms[None, :])
                cos = np.floor(cos * 1_000_000.0 + 0.5) / 1_000_000.0
                # winner = max cosine among FINITE candidates (min id on
                # ties); NaN-cosine candidates only win when a query has
                # no finite candidate at all (they surface as NULL after
                # Arrow and max_by ranks NULL last, min id within the
                # NULL group). Self-pairs are excluded outright.
                invalid = c_ids[:, None] == b_qids[None, :]
                isnan_cos = np.isnan(cos)
                finite_cand = ~isnan_cos & ~invalid
                keyf = np.where(finite_cand, cos, -np.inf)
                best = keyf.max(axis=0)
                has_finite = finite_cand.any(axis=0)
                # finite_cand guard: the -inf fill must not tie a real
                # (freak, denorm-underflow) -inf cosine candidate
                cand_f = finite_cand & (keyf == best[None, :])
                best_ids_f = np.where(
                    cand_f, c_ids[:, None], id_sentinel
                ).min(axis=0)
                nan_cand = isnan_cos & ~invalid
                has_nan = nan_cand.any(axis=0)
                use_nan = ~has_finite & has_nan
                alive = has_finite | has_nan
                if not alive.any():
                    continue
                best_ids_n = np.where(
                    nan_cand, c_ids[:, None], id_sentinel
                ).min(axis=0)
                best_ids = np.where(use_nan, best_ids_n, best_ids_f)
                cand = np.where(use_nan[None, :], nan_cand, cand_f)
                win_row = np.argmax(
                    cand & (c_ids[:, None] == best_ids[None, :]), axis=0
                )
                cols = np.nonzero(alive)[0]
                yield pd.DataFrame(
                    {
                        "query_id": b_qids[cols],
                        "vec_id": best_ids[cols],
                        "cosine": cos[win_row[cols], cols],
                    }
                )

    src = spread_scan(corpus.select(id_col, vec_col), min_parallelism)
    return src.mapInPandas(
        block, schema=f"query_id {qid_type}, vec_id {id_type}, cosine double"
    )


def cosine_topk_partials(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Per-(query, corpus-block) top-``k`` rows of ``cosine_scores``
    under the (cosine DESC, vec_id ASC) total order every consumer
    ranks by — ``cosine_argmax_partials`` generalized from k=1. Any
    row in the GLOBAL top-k of a query is in its block's top-k, so a
    downstream ``row_number``/``orderBy().limit(k)`` over this output
    (same ordering) selects exactly the rows it selected over the full
    pair table, while only (blocks × k × |queries|) rows cross the
    Arrow boundary and the exchange instead of (|corpus| × |queries|)
    — §2.3 aggregate-before-you-shuffle pushed inside the kernel.

    Scoring is bit-identical to ``cosine_scores`` (same broadcast query
    matrix, sequential per-dimension float64 accumulation, 6-decimal
    quantization); self-pairs are excluded as in ``cosine_scores``-
    plus-ranking. A NaN cosine ranks LAST: every kernel emits through
    Arrow, where pandas' NaN becomes SQL NULL, so the downstream
    ``cosine DESC`` is desc_nulls_last over these rows — numpy's
    sort-NaN-to-the-end convention reproduces exactly that (ties among
    NaNs fall to the stable id-ascending secondary sort, = the NULL
    group's vec_id tiebreak). Requires an integral ``id_col`` (the
    tiebreak sorts ids numerically).
    """
    import numpy as np
    import pandas as pd

    qid_type = dict(queries.dtypes)[query_id_col]
    id_type = dict(corpus.dtypes)[id_col]
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            f"cosine_topk_partials needs an integral id column, got {id_type}"
        )
    kk = int(k)
    if kk < 1:
        raise ValueError(f"cosine_topk_partials needs k >= 1, got {k}")
    # driver-bound: query-set matrix, capped (see _query_matrix)
    qpdf = _query_matrix(queries, [query_id_col, vec_col])
    q_ids = qpdf[query_id_col].to_numpy()
    Q = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    dim = Q.shape[1]
    acc = np.zeros(len(q_ids))
    for d in range(dim):
        acc = acc + Q[:, d] * Q[:, d]
    q_norms = np.sqrt(acc)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, Q, q_norms))

    def block(batches):
        b_qids, b_Q, b_qnorms = bc.value
        step = max(1, MAX_PAIR_CELLS // max(1, len(b_qids)))
        for pdf_in in batches:
            for lo in range(0, len(pdf_in), step):
                pdf = pdf_in.iloc[lo : lo + step]
                if len(pdf) == 0:
                    continue
                c_ids = pdf[id_col].to_numpy()
                C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                dots = _block_dots(np, C, b_Q)
                acc_c = np.zeros(len(c_ids))
                for d in range(dim):
                    acc_c += C[:, d] * C[:, d]
                cos = dots / (np.sqrt(acc_c)[:, None] * b_qnorms[None, :])
                cos = np.floor(cos * 1_000_000.0 + 0.5) / 1_000_000.0
                out_q: list = []
                out_id: list = []
                out_cos: list = []
                for j in range(len(b_qids)):
                    # exact (cosine DESC NULLS LAST, id ASC) order:
                    # lexsort is stable with the last key primary, and
                    # numpy sorts NaN (= -cos NaN) to the END — the
                    # post-Arrow NULL group — with the prior id order
                    # preserved among them
                    vi = np.nonzero(c_ids != b_qids[j])[0]
                    order = vi[np.lexsort((c_ids[vi], -cos[vi, j]))][:kk]
                    if len(order) == 0:
                        continue
                    out_q.append(np.full(len(order), b_qids[j]))
                    out_id.append(c_ids[order])
                    out_cos.append(cos[order, j])
                if out_q:
                    yield pd.DataFrame(
                        {
                            "query_id": np.concatenate(out_q),
                            "vec_id": np.concatenate(out_id),
                            "cosine": np.concatenate(out_cos),
                        }
                    )

    return corpus.select(id_col, vec_col).mapInPandas(
        block, schema=f"query_id {qid_type}, vec_id {id_type}, cosine double"
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 8192,
    bucket_col: str | None = None,
) -> DataFrame:
    """All-pairs cosine near-duplicates: (id_a < id_b, cosine ≥ threshold).

    With ``bucket_col`` set, pairs are enumerated WITHIN buckets only
    (block-pair groups key on (bucket, bi, bj)) — the approximate scale
    path when even blocked O(n²) is too much; see
    ``cosine_neardup_bucketed`` for the SRP-pruned composition.

    Dense pairwise linear algebra is the one place the built-in array
    expressions genuinely can't compete: fold/zip_with are interpreted
    per element per pair (CodegenFallback, no codegen). This runs as a
    DISTRIBUTED block-pair (triangle) join instead:

      1. every row gets a block id (hash(id) mod nblocks);
      2. each row is replicated once per block → every unordered block
         pair {i, j} (and each diagonal {i, i}) becomes one shuffle
         group holding exactly the rows of blocks i and j;
      3. an applyInPandas kernel scores the group's cross/triangle
         product in numpy, vectorized across pairs but accumulated
         SEQUENTIALLY over the vector dimension in float64, so every
         partial sum rounds exactly like a SQL engine's left-to-right
         fold and results stay bit-identical to the DuckDB oracle.

    Nothing is ever collected to the driver and no broadcast of the
    corpus happens: shuffle volume is n·nblocks rows and each task holds
    ≤ 2·block_rows vectors, so the plan survives arbitrary corpus sizes
    (the total pair work is of course intrinsically O(n²) — at very
    large n prune candidates first with srp_bucketed/ivf buckets and run
    this exact kernel within buckets).

    nblocks is also floored so the number of block pairs ≥ the default
    parallelism — small corpora still use every core.
    """
    import math

    import numpy as np
    import pandas as pd

    id_type = dict(corpus.dtypes)[id_col]
    sc = corpus.sparkSession.sparkContext
    n = corpus.count()
    if n == 0:
        return corpus.sparkSession.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, cosine double"
        )
    par = sc.defaultParallelism
    # smallest k with k(k+1)/2 >= parallelism, so tasks >= cores
    k_par = max(1, math.ceil((math.sqrt(8 * par + 1) - 1) / 2))
    nblocks = max(math.ceil(n / block_rows), k_par)

    extra = [bucket_col] if bucket_col else []
    rep = (
        corpus.select(*extra, id_col, vec_col)
        .withColumn("__b", F.pmod(F.hash(F.col(id_col)), F.lit(nblocks)))
        .withColumn("__x", F.explode(F.sequence(F.lit(0), F.lit(nblocks - 1))))
        .select(
            *extra,
            F.least("__b", "__x").alias("__bi"),
            F.greatest("__b", "__x").alias("__bj"),
            "__b",
            id_col,
            vec_col,
        )
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if len(pdf) == 0:
            return empty
        bi = pdf["__bi"].iloc[0]
        bj = pdf["__bj"].iloc[0]
        if bi == bj:
            a_pdf = b_pdf = pdf
        else:
            a_pdf = pdf[pdf["__b"] == bi]
            b_pdf = pdf[pdf["__b"] == bj]
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return empty
        a_ids = a_pdf[id_col].to_numpy()
        b_ids = b_pdf[id_col].to_numpy()
        A = np.stack(a_pdf[vec_col].to_numpy()).astype(np.float64)
        B = np.stack(b_pdf[vec_col].to_numpy()).astype(np.float64)
        dim = A.shape[1]
        dots = np.zeros((len(a_ids), len(b_ids)))
        for d in range(dim):
            dots += A[:, d : d + 1] * B[:, d]
        acc_a = np.zeros(len(a_ids))
        acc_b = np.zeros(len(b_ids))
        for d in range(dim):
            acc_a += A[:, d] * A[:, d]
            acc_b += B[:, d] * B[:, d]
        cos = dots / (np.sqrt(acc_a)[:, None] * np.sqrt(acc_b)[None, :])
        cos = np.floor(cos * 1_000_000.0 + 0.5) / 1_000_000.0
        if bi == bj:
            keep = (a_ids[:, None] < b_ids[None, :]) & (cos >= threshold)
            ai, bjx = np.nonzero(keep)
            ia, ib = a_ids[ai], b_ids[bjx]
        else:
            # distinct blocks partition the id space: every A×B element is
            # a distinct unordered pair; orient it id_a < id_b
            keep = cos >= threshold
            ai, bjx = np.nonzero(keep)
            ia = np.minimum(a_ids[ai], b_ids[bjx])
            ib = np.maximum(a_ids[ai], b_ids[bjx])
        return pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": cos[ai, bjx]})

    return rep.groupBy(*extra, "__bi", "__bj").applyInPandas(
        kernel, schema=f"id_a {id_type}, id_b {id_type}, cosine double"
    )


# ---------------------------------------------------------------------------
# sign-random-projection LSH
# ---------------------------------------------------------------------------

def srp_planes(nbits: int, dim: int, seed: int):
    """Deterministic ±1 (Rademacher) hyperplanes derived from md5.

    plane[b][d] = +1 if the first hex nibble of md5("srp:<seed>:<b>:<d>")
    is ≥ '8' else −1. A sign projection against ±1 planes is a valid
    random projection for angular LSH, and — unlike Gaussian planes from
    a PRNG — any engine with md5 can reproduce it exactly (the DuckDB
    oracle computes the same CASE WHEN substr(md5(...),1,1) >= '8'
    expression), so bucket assignments match bit-for-bit across engines.
    """
    import hashlib

    import numpy as np

    P = np.empty((nbits, dim), dtype=np.float64)
    for b in range(nbits):
        for d in range(dim):
            nib = hashlib.md5(f"srp:{seed}:{b}:{d}".encode()).hexdigest()[0]
            P[b, d] = 1.0 if nib >= "8" else -1.0
    return P


def _srp_project(M, P):
    """proj[r, b] = Σ_d M[r, d]·P[b, d], accumulated sequentially over d
    (left-to-right fold — matches DuckDB's list_sum order exactly)."""
    import numpy as np

    proj = np.zeros((M.shape[0], P.shape[0]))
    for d in range(M.shape[1]):
        proj += M[:, d : d + 1] * P[:, d]
    return proj


def srp_bucketed(
    corpus: DataFrame,
    nbits: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach a sign-random-projection LSH bucket key to each vector.

    ``nbits`` fixed hyperplanes (deterministic md5-derived ±1, see
    srp_planes) → one bit per sign of the projection → an integer bucket
    in [0, 2^nbits). Nearby vectors (small angle) agree on most signs, so
    they land in the same or Hamming-adjacent buckets. At 100 TB the
    bucket is a storage partition/cluster key: a query touches only its
    probed buckets, and the planes are recomputed in each worker from the
    seed (nbits×dim md5 calls — no broadcast, no driver round-trip).
    """
    def stage(batches):
        import numpy as np

        P = None
        w = 1 << np.arange(nbits, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if P is None:
                P = srp_planes(nbits, M.shape[1], seed)
            bits = _srp_project(M, P) >= 0.0
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["bucket"] = (bits * w).sum(axis=1)
            yield pdf  # yield bound: row-local (one output row per input row)

    vec_type = dict(corpus.dtypes)[vec_col]
    id_type = dict(corpus.dtypes)[id_col]
    return corpus.select(id_col, vec_col).mapInPandas(
        stage, schema=f"{id_col} {id_type}, {vec_col} {vec_type}, bucket long"
    )


def srp_lsh_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate cosine top-k via SRP-LSH with Hamming≤1 multiprobe.

    Query signatures and their nbits+1 probe buckets (exact bucket plus
    every single-bit flip) are computed driver-side — the query set is
    small — and broadcast onto the bucketed corpus; the exact cosine runs
    only within probed buckets (~(nbits+1)/2^nbits of the corpus).
    Deterministic: planes are md5-derived (srp_planes) and ranking is on
    the 6-decimal-quantized cosine with vec_id tiebreak, so output is
    stable across engines (the DuckDB oracle reproduces it exactly).
    Output: query_id, vec_id, cosine, rank — same shape as
    brute_force_knn, which is its recall oracle.
    """
    import numpy as np

    spark = corpus.sparkSession
    bucketed = srp_bucketed(corpus, nbits=nbits, seed=seed, id_col=id_col, vec_col=vec_col)

    # driver-bound: query-set matrix, capped (see _query_matrix)
    qpdf = _query_matrix(queries, [query_id_col, vec_col])
    dim = len(qpdf[vec_col].iloc[0])
    planes = srp_planes(nbits, dim, seed)
    Q = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    sigs = (_srp_project(Q, planes) >= 0.0) @ (1 << np.arange(nbits, dtype=np.int64))
    probe_rows = []
    for qid, sig, vec in zip(qpdf[query_id_col], sigs, qpdf[vec_col]):
        buckets = {int(sig)} | {int(sig) ^ (1 << b) for b in range(nbits)}
        probe_rows += [(int(qid), int(b), [float(x) for x in vec]) for b in sorted(buckets)]
    probes = spark.createDataFrame(
        probe_rows, f"{query_id_col} long, bucket long, __qvec array<double>"
    )

    cand = bucketed.join(F.broadcast(probes), "bucket").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    score = _q6col(cosine(F.col(vec_col), F.col("__qvec")))
    scored = cand.select(query_id_col, id_col, score.alias("cosine"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_centroids(corpus: DataFrame, bucket_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Per-bucket mean vector (the coarse quantizer). The testdata's
    `label` column stands in for a k-means assignment; at scale run a few
    Lloyd iterations with the same groupBy-average."""
    exploded = corpus.select(bucket_col, F.posexplode(vec_col).alias("i", "x"))
    cent = (
        exploded.groupBy(bucket_col, "i")
        .agg(F.avg("x").alias("c"))
        .groupBy(bucket_col)
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic"))
        .select(bucket_col, F.transform("ic", lambda s: s["c"]).alias("centroid"))
    )
    return cent


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest centroids per query,
    then exact cosine within those buckets only. Final ranking is on the
    6-decimal-quantized cosine with vec_id tiebreak (engine-stable)."""
    cent = ivf_centroids(corpus, bucket_col, vec_col)
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    probe_scores = q.crossJoin(F.broadcast(cent)).select(
        query_id_col,
        bucket_col,
        F.col("__qvec"),
        cosine(F.col("__qvec"), F.col("centroid")).alias("cscore"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cscore").desc(), F.col(bucket_col))
    probes = probe_scores.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= nprobe)
    candidates = corpus.join(
        F.broadcast(probes.select(query_id_col, bucket_col, "__qvec")), on=bucket_col
    ).filter(F.col(id_col) != F.col(query_id_col))
    score = _q6col(cosine(F.col(vec_col), F.col("__qvec")))
    scored = candidates.select(query_id_col, id_col, score.alias("cosine"))
    w2 = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# IVF index persistence: bucket-partitioned storage + pruned probing
# ---------------------------------------------------------------------------

def write_ivf_index(
    corpus: DataFrame,
    path: str,
    bucket_col: str = "label",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index on storage: vectors written PARTITIONED
    BY the coarse-quantizer bucket, centroids alongside.

    This is the 100 TB layout the ivf_knn docstring promises: a probe of
    nprobe buckets becomes a parquet partition filter, so a query reads
    nprobe/nlist of the corpus from disk — the scan never touches the
    other directories. Rewriting the corpus once (full shuffle on the
    bucket id) is amortized over every subsequent query.
    """
    corpus.write.partitionBy(bucket_col).mode("overwrite").parquet(f"{path}/vectors")
    ivf_centroids(corpus, bucket_col, vec_col).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )


def ivf_index_knn(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k against a written IVF index with STATIC partition pruning.

    Probe selection (query × centroid scores) runs on the tiny centroid
    table, and the chosen bucket ids — nprobe per query, a handful of
    ints — are collected and inlined as a literal `bucket IN (...)`
    predicate. That predicate lands in the parquet scan's
    PartitionFilters, so only the probed directories are listed and
    read. (A driver round-trip of O(nprobe × |queries|) ints is the
    right trade: dynamic partition pruning would spend a whole subquery
    stage to learn the same few literals.)

    Ranking matches ivf_knn: 6-decimal-quantized cosine, id tiebreak.
    """
    cent = spark.read.parquet(f"{path}/centroids")
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    probe_scores = q.crossJoin(F.broadcast(cent)).select(
        query_id_col,
        bucket_col,
        F.col("__qvec"),
        cosine(F.col("__qvec"), F.col("centroid")).alias("cscore"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cscore").desc(), F.col(bucket_col)
    )
    probes = probe_scores.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= nprobe
    )
    bucket_ids = sorted(
        # driver-bound: ≤ nprobe × |queries| distinct bucket ids
        {r[bucket_col] for r in probes.select(bucket_col).distinct().collect()}
    )
    vectors = spark.read.parquet(f"{path}/vectors").filter(
        F.col(bucket_col).isin(bucket_ids)
    )
    candidates = vectors.join(
        F.broadcast(probes.select(query_id_col, bucket_col, "__qvec")), on=bucket_col
    ).filter(F.col(id_col) != F.col(query_id_col))
    score = _q6col(cosine(F.col(vec_col), F.col("__qvec")))
    scored = candidates.select(query_id_col, id_col, score.alias("cosine"))
    w2 = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


def quantize_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = maxabs/levels,
    q_i = floor(x_i/scale + 0.5) ∈ [-levels-1, levels+1] — 4× smaller
    storage + int kernels for the 100 TB embedding tier; dequantized
    error is ≤ scale/2 per coordinate.

    Engine-neutral spec: floor(x + 0.5) instead of round() (banker's vs
    half-away drift), float64 division. All-zero vectors quantize to
    zeros with scale 0. Pure higher-order expressions, single scan; the
    maxabs is bound to a column ONCE before the transform (HOFs are
    interpreted with no CSE — binding avoids len(vec) recomputes).
    """
    x = F.col(vec_col)
    absmax = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    bound = corpus.select(F.col(id_col), x.alias("__x"), absmax.alias("__m"))
    scale = F.col("__m") / F.lit(float(levels))
    q = F.when(F.col("__m") == 0.0, F.transform("__x", lambda v: F.lit(0).cast("long"))).otherwise(
        F.transform(
            "__x",
            lambda v: F.floor(v.cast("double") / scale + F.lit(0.5)).cast("long"),
        )
    )
    return bound.select(
        id_col,
        scale.alias("scale"),
        q.alias("q"),
    )


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "km",
    metric: str = "cos",
):
    """Deterministic Lloyd k-means for the IVF coarse quantizer (the
    "few Lloyd iterations with the same groupBy-average" promised by
    ivf_centroids, for corpora without a usable bucket column).
    ``metric='l2'`` switches to plain Euclidean Lloyd (min-L2
    assignment, unnormalized mean centroids) — the subspace-quantizer
    flavor PQ codebook training needs.

    Scale shape — the model is tiny, the data is huge, so:
    - centroids (k × dim floats) live on the DRIVER and ship to tasks in
      the mapInPandas closure; the corpus is never collected;
    - each iteration is ONE scan: every partition computes numpy partial
      (sum, count) per cluster and emits k rows; the driver reduces the
      k × partitions partials. No shuffle at all in the update step;
    - init is deterministic and partition-invariant: the k vectors whose
      md5(seed:id) hex is smallest (a uniform reservoir, orderBy+limit).

    Assignment is max cosine (unit-normalized dot), matching ivf_knn's
    probe scoring. Returns (assignments DataFrame [id, bucket],
    centroids as a list of k lists). Empty clusters keep their previous
    centroid. Partial float sums are reduced in partition order, so
    centroid bits can drift ~1e-16 across different partitionings —
    assignments are argmax-stable; no oracle claims bit-exact centroids.
    """
    import numpy as np
    import pandas as pd

    hexcol = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    seeds = (
        # driver-bound: k seed rows (limit below)
        corpus.select(id_col, vec_col, hexcol.alias("__h"))
        .orderBy("__h", id_col)
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"corpus has fewer than k={k} rows")
    if metric not in ("cos", "l2"):
        raise ValueError(f"metric must be 'cos' or 'l2', got {metric!r}")
    spherical = metric == "cos"
    C = np.array([list(r[vec_col]) for r in seeds], dtype=np.float64)
    if spherical:
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)

    def _norm_rows(M):
        return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)

    def _assign_rows(X, Cn):
        if spherical:
            return (_norm_rows(X) @ Cn.T).argmax(axis=1)
        # argmin ||x-c||^2 = argmin -2x.c + ||c||^2 (ties -> lowest index)
        return (-2.0 * (X @ Cn.T) + (Cn * Cn).sum(axis=1)).argmin(axis=1)

    def _partials(Cn):
        def fn(pdfs):
            S = np.zeros_like(Cn)
            n = np.zeros(len(Cn), dtype=np.int64)
            for pdf in pdfs:
                if not len(pdf):
                    continue
                X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                a = _assign_rows(X, Cn)
                for j in range(len(Cn)):
                    m = a == j
                    if m.any():
                        S[j] += X[m].sum(axis=0)
                        n[j] += int(m.sum())
            # yield bound: k x dim partials per partition (model-scale)
            yield pd.DataFrame(
                {"j": range(len(Cn)), "s": [list(row) for row in S], "n": n}
            )

        return fn

    dim = len(C[0])
    for _ in range(iters):
        # driver-bound: k partial-sum rows per input partition
        rows = corpus.select(vec_col).mapInPandas(
            _partials(C), schema=f"j int, s array<double>, n long"
        ).collect()
        S = np.zeros((k, dim))
        n = np.zeros(k, dtype=np.int64)
        for r in rows:
            S[r["j"]] += np.array(r["s"])
            n[r["j"]] += r["n"]
        newC = C.copy()
        nz = n > 0
        newC[nz] = S[nz] / n[nz, None]
        C = _norm_rows(newC) if spherical else newC

    Cn = C

    def _assign(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            a = _assign_rows(X, Cn)
            # yield bound: row-local (one output row per input row)
            yield pd.DataFrame({id_col: pdf[id_col], "bucket": a.astype("int32")})

    id_type = dict(corpus.dtypes)[id_col]
    assignments = corpus.select(id_col, vec_col).mapInPandas(
        _assign, schema=f"{id_col} {id_type}, bucket int"
    )
    return assignments, [list(row) for row in C]


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """End-to-end IVF build for corpora WITHOUT a bucket column: learn k
    centroids with kmeans_lloyd, attach assignments (one shuffle on id),
    write the bucket-partitioned index. Query with
    ivf_index_knn(..., bucket_col="bucket")."""
    assignments, _ = kmeans_lloyd(corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    bucketed = corpus.join(assignments, id_col)
    write_ivf_index(bucketed, path, bucket_col="bucket", vec_col=vec_col)


def cosine_neardup_bucketed(
    corpus: DataFrame,
    threshold: float,
    nbits: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 8192,
) -> DataFrame:
    """Semantic near-dup pairs at the scale where even the blocked
    all-pairs kernel is too much: SRP-bucket the corpus (deterministic
    md5-derived hyperplanes — same scheme as srp_lsh_knn / the q43
    oracle), then run the exact fold-order-stable cosine kernel WITHIN
    buckets only.

    Approximate by construction: a pair straddling two buckets (vectors
    near a hyperplane) is missed — expected recall falls with angle, so
    pick nbits so 2^nbits ≪ expected cluster count but buckets stay
    small. Fully deterministic (planes from the seed), so the output is
    still oracle-checkable: the SQL twin computes the same buckets and
    same-bucket pairs.

    Scale: pair work drops from O(n²) to Σ_b O(n_b²); the block-pair
    machinery still bounds every task at ≤ 2·block_rows vectors even if
    one bucket swallows a viral embedding cluster.
    """
    b = srp_bucketed(corpus, nbits=nbits, seed=seed, id_col=id_col, vec_col=vec_col)
    return cosine_neardup_pairs(
        b,
        threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_rows=block_rows,
        bucket_col="bucket",
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.6,
    nbits: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 8192,
) -> DataFrame:
    """SemDeDup-style end-to-end semantic deduplication (Abbas et al.,
    arXiv:2303.09540: cluster the embedding space, drop near-identical
    pairs WITHIN clusters only): SRP buckets stand in for the k-means
    clusters (deterministic, oracle-checkable — same scheme as
    ``cosine_neardup_bucketed``/q78), within-bucket cosine ≥ threshold
    pairs close into components, one canonical vector is kept per
    semantic group.

    Output matches ``dedup_clusters``: (id, cluster_id, cluster_size,
    is_canonical) for EVERY corpus vector — downstream dedup is
    ``filter(is_canonical)``. The exact all-pairs twin is q50 (same
    closure over the unblocked kernel); this is the composition that
    survives 100 TB: pair work is Σ_b O(n_b²) with every task bounded by
    the block machinery, and the closure is the O(log n)-round
    connected-components operator.
    """
    from ticktock_spark.pipeline.cluster import dedup_clusters

    pairs = cosine_neardup_bucketed(
        corpus, threshold, nbits=nbits, seed=seed,
        id_col=id_col, vec_col=vec_col, block_rows=block_rows,
    )
    return dedup_clusters(
        corpus.select(id_col), pairs.select("id_a", "id_b"), id_col=id_col
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein,
    SIGIR 1998): per query, greedily pick ``k`` results from the top-m
    cosine candidates, each step maximizing
    ``lam·rel(c) − (1−lam)·max_{s∈selected} sim(c, s)`` — relevance
    traded against redundancy, the diversification pass retrieval
    pipelines run after candidate generation (e.g. to avoid returning
    five near-identical passages for RAG).

    Output: (query_id, rank, vec_id, mmr); ties pick the smallest id.

    Scale shape: candidate generation is the distributed part — one
    corpus scan scored by the Arrow block kernel (``cosine_scores``) +
    a per-query window cut to m, so data-scale work is identical to
    brute_force_knn (swap in an ANN front-end for 100 TB). The greedy
    selection is inherently sequential over k steps but operates on a
    RESULT-SET-sized state (≤ q·m rels + q·m² pair sims, all collected
    after candidate pruning — never corpus-scale), so the driver loop
    is the right plan, not a shortcut. Pairwise sims run through the
    same fold-order-exact kernel as relevance, and every input is
    6-decimal-quantized, so the greedy argmax (Python doubles) is
    bit-identical to the unrolled SQL oracle's.
    """
    import math

    qid_type = dict(queries.dtypes)[query_id_col]
    id_type = dict(corpus.dtypes)[id_col]
    rel = cosine_scores(
        corpus, queries, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    # cosine_scores normalizes its output names to (query_id, vec_id)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    cand_rows = (
        # driver-bound: top-m candidates per query
        rel.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= m)
        .drop("__r")
        .collect()
    )
    rels: dict = {}
    for r in cand_rows:
        rels.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]
    cand_ids = sorted({r["vec_id"] for r in cand_rows})
    cvecs = corpus.filter(F.col(id_col).isin(cand_ids)).select(id_col, vec_col)
    # driver-bound: |cand|² pairs with cand ≤ m × |queries| (eval-sample scale)
    pair_rows = cosine_scores(
        cvecs,
        cvecs.select(F.col(id_col).alias("__mq"), vec_col),
        id_col=id_col,
        vec_col=vec_col,
        query_id_col="__mq",
    ).collect()
    # orientation: (corpus-role candidate, query-role selected) — the
    # same roles the SQL oracle's pair CTE assigns, so denominators
    # multiply in the same order (IEEE * commutes; this is for clarity).
    # cosine_scores always names its output (query_id, vec_id, cosine).
    sims = {(r["vec_id"], r["query_id"]): r["cosine"] for r in pair_rows}
    oml = 1.0 - lam
    out = []
    for qid in sorted(rels):
        sel: list = []
        remaining = sorted(rels[qid])
        for step in range(1, k + 1):
            best_id, best_score = None, None
            for c in remaining:
                if not sel:
                    sc = lam * rels[qid][c]
                else:
                    sc = lam * rels[qid][c] - oml * max(
                        sims[(c, s)] for s in sel
                    )
                if best_score is None or sc > best_score:
                    best_id, best_score = c, sc
            if best_id is None:
                break
            out.append(
                (qid, step, best_id,
                 math.floor(best_score * 1_000_000.0 + 0.5) / 1_000_000.0)
            )
            sel.append(best_id)
            remaining.remove(best_id)
    return corpus.sparkSession.createDataFrame(
        out, f"query_id {qid_type}, rank int, vec_id {id_type}, mmr double"
    )


def diversity_sample(
    corpus: DataFrame,
    per_bucket: int,
    nbits: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_seed: str = "div",
) -> DataFrame:
    """Diversity-aware subsampling: cap each SRP bucket at ``per_bucket``
    rows, chosen by deterministic md5 hash order (ties by id). Dense
    embedding regions — near-dup clusters, templated boilerplate — can
    only contribute ``per_bucket`` docs each, so the sample spreads
    across the embedding space instead of mirroring its skew (the
    training-mix analogue of stratified sampling, with strata induced by
    geometry instead of labels).

    Fully deterministic (md5 planes + md5 order), so SQL-oracle-checkable.
    Scale shape: bucket assignment is a scan-side mapInPandas; the cap is
    one per-bucket window — Catalyst turns rank<=k into WindowGroupLimit
    with a partial pass before the exchange, so the shuffle carries at
    most per_bucket × n_partitions rows per bucket.
    """
    from pyspark.sql import Window

    b = srp_bucketed(corpus, nbits=nbits, seed=seed, id_col=id_col, vec_col=vec_col)
    h = F.substring(
        F.md5(F.concat(F.lit(hash_seed + ":"), F.col(id_col).cast("string"))), 1, 8
    )
    w = Window.partitionBy("bucket").orderBy(h.asc(), F.col(id_col).asc())
    return (
        b.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= per_bucket)
        .select(id_col, "bucket", "pick")
    )


def dequantize_embeddings(
    quantized: DataFrame, id_col: str = "vec_id", out_col: str = "embedding"
) -> DataFrame:
    """(id, scale, q) — quantize_embeddings' output — → (id, float
    array): x̂_i = q_i · scale. The reconstruction error bound is
    |x − x̂| ≤ scale/2 per dimension (pinned by test, along with
    cosine(original, x̂) ≈ 1)."""
    return quantized.select(
        F.col(id_col),
        F.transform(
            F.col("q"), lambda qv: (qv.cast("double") * F.col("scale")).cast("float")
        ).alias(out_col),
    )


def knn_quantized(
    corpus_q: DataFrame,
    queries_q: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Cosine top-k directly over int8 codes (both sides output of
    ``quantize_embeddings``): per-vector scales CANCEL in cosine
    (cos(s_a·qa, s_b·qb) = cos(qa, qb)), so the kernel never
    dequantizes — int8 codes stream through an Arrow batch into an
    int32 numpy product, 4× less scan/shuffle volume than float vectors
    at identical plan shape to ``brute_force_knn`` (broadcast query
    codes, per-partition scoring, WindowGroupLimit top-k). Ranking
    error vs the float path comes only from quantization noise
    (recall@k pinned by test). Zero-scale (all-zero) vectors score
    cosine 0 against everything, matching the float path's guarded
    division convention of excluding them from meaningful ranks."""
    import numpy as np
    import pandas as pd

    qid_type = dict(queries_q.dtypes)[query_id_col]
    id_type = dict(corpus_q.dtypes)[id_col]
    # driver-bound: query-set matrix, capped (see _query_matrix)
    qpdf = _query_matrix(queries_q, [query_id_col, "q"])
    q_ids = qpdf[query_id_col].to_numpy()
    Q = np.stack(qpdf["q"].to_numpy()).astype(np.int32)
    qn = np.sqrt((Q * Q).sum(axis=1))
    qn[qn == 0] = 1.0  # zero-code queries: cosine 0 everywhere
    bc = corpus_q.sparkSession.sparkContext.broadcast((q_ids, Q, qn))

    # bound rows x queries per yielded frame (see MAX_PAIR_CELLS): one
    # Arrow input batch against a large broadcast query side would
    # otherwise materialize an unbounded pair buffer

    def block(batches):
        b_qids, b_Q, b_qn = bc.value
        step = max(1, MAX_PAIR_CELLS // max(1, len(b_qids)))
        for pdf_in in batches:
            for lo in range(0, len(pdf_in), step):
                pdf = pdf_in.iloc[lo : lo + step]
                if not len(pdf):
                    continue
                c_ids = pdf[id_col].to_numpy()
                C = np.stack(pdf["q"].to_numpy()).astype(np.int32)
                cn = np.sqrt((C * C).sum(axis=1))
                cn[cn == 0] = 1.0
                cos = (C @ b_Q.T) / (cn[:, None] * b_qn[None, :])
                keep = c_ids[:, None] != b_qids[None, :]
                ci, qj = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "query_id": b_qids[qj],
                        "vec_id": c_ids[ci],
                        "cosine": cos[ci, qj],
                    }
                )

    scored = corpus_q.select(id_col, "q").mapInPandas(
        block, schema=f"query_id {qid_type}, vec_id {id_type}, cosine double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _unit_vec(vec: Column) -> Column:
    """Unit-normalize an array<double> column. Pass a MATERIALIZED
    column (not a computed expression): both the norm fold and the
    per-element division reference it, and interpreted HOFs re-inline
    argument expressions per element (the shingles() no-CSE rule). The
    norm scalar itself is bound through a one-element array so it
    evaluates once per row, not once per dimension."""
    n2 = F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x)
    n = F.greatest(F.sqrt(n2), F.lit(1e-30))
    return F.element_at(
        F.transform(F.array(n), lambda nn: F.transform(vec, lambda x: x / nn)), 1
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    bucket_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks derived from a bucket column: the
    vector is split into ``m`` equal subspaces and each bucket's mean
    subvector becomes one codeword — (j, code, centroid) rows, code =
    bucket value. Deterministic and SQL-replicable (the same
    per-(bucket, dim) average trick as ivf_centroids); for corpora
    without a usable bucket column, train per-subspace codebooks with
    kmeans_lloyd over the sliced subvectors instead (parity-tested, not
    an oracle path).

    Vectors are unit-normalized first (squared L2 on unit vectors is
    2 - 2cos, so downstream ADC ranking approximates COSINE order —
    the metric every other tier here ranks by).

    Scale shape: one explode scan, two map-side-combined aggs keyed by
    (bucket, dim) — output is m x k tiny rows; the corpus is never
    collected.
    """
    sized = corpus.select(
        bucket_col, F.col(vec_col).cast("array<double>").alias("_v0")
    ).select(bucket_col, _unit_vec(F.col("_v0")).alias("v"))
    # driver-bound: one scalar (vector dim)
    dim = sized.select(F.size("v")).first()[0]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    ex = sized.select(bucket_col, F.posexplode("v").alias("i", "x"))
    return (
        ex.groupBy(bucket_col, (F.col("i") / dsub).cast("int").alias("j"), F.col("i"))
        .agg(F.avg("x").alias("c"))
        .groupBy(F.col(bucket_col).cast("int").alias("code"), "j")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic"))
        .select("j", "code", F.transform("ic", lambda s: s["c"]).alias("centroid"))
    )


def _pq_collect(codebooks: DataFrame) -> tuple[int, int, dict]:
    """codebooks DF -> (m, dsub, {j: [(code, centroid), ...] code-asc})."""
    # driver-bound: m×2^nbits codebook rows (model-scale)
    rows = codebooks.collect()
    cb: dict[int, list] = {}
    for r in rows:
        cb.setdefault(r["j"], []).append((r["code"], list(r["centroid"])))
    for j in cb:
        cb[j].sort()
    m = len(cb)
    dsub = len(cb[0][0][1])
    return m, dsub, cb


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each UNIT-NORMALIZED vector as ``m`` small codes: per
    subspace, the codeword minimizing squared L2 distance (ties to the
    lowest code) — on unit vectors ADC then approximates cosine order.
    Output (id, codes array<int>) — at dim=64/m=4 that is 64 floats →
    4 bytes per vector, the ~64x index shrink PQ exists for.

    One scan, no shuffle: Arrow-batched mapInPandas; per batch and
    subspace, squared distances via ||x||^2 - 2 x.C^T + ||c||^2 (one
    batch x k matmul — dense pairwise linear algebra is exactly where
    interpreted array folds lose) and a first-minimum argmin over the
    code-ascending codebook (= ties to the lowest code), mapped back to
    the code value (codes need not be dense or zero-based — bucket
    labels work). Normalization matches _unit_vec's 1e-30 floor.
    The codebook (m x k x dsub doubles — model state, not data) ships
    in the task closure. q109's DuckDB oracle is the spec.
    """
    import numpy as np
    import pandas as pd

    m, dsub, cb = _pq_collect(codebooks)
    books = [np.asarray([c for _, c in cb[j]], dtype=np.float64) for j in range(m)]
    code_ids = [np.asarray([code for code, _ in cb[j]]) for j in range(m)]
    id_type = dict(corpus.dtypes)[id_col]

    def enc(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
            cols = []
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                Cj = books[j]
                d = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * (sub @ Cj.T)
                    + (Cj * Cj).sum(axis=1)
                )
                cols.append(code_ids[j][d.argmin(axis=1)])
            codes = np.stack(cols, axis=1).astype("int32")
            # yield bound: row-local (one codes row per input row)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return corpus.select(id_col, vec_col).mapInPandas(
        enc, schema=f"{id_col} {id_type}, codes array<int>"
    )


def _pq_query_rows(
    queries: DataFrame, cb: dict, m: int, dsub: int,
    query_id_col: str, vec_col: str,
) -> list:
    """Driver-side ADC tables: per query, an m x k matrix of squared
    subspace distances to every codeword (query unit-normalized to
    match _unit_vec). The query set is small by contract."""
    import numpy as np

    rows = []
    # driver-bound: query-set matrix, capped (see _query_matrix)
    qpdf = _query_matrix(queries, [query_id_col, vec_col])
    for qid, vec in zip(qpdf[query_id_col], qpdf[vec_col]):
        q = np.asarray(list(vec), dtype=np.float64)
        q = q / max(float(np.linalg.norm(q)), 1e-30)
        tbl = []
        for j in range(m):
            sub = q[j * dsub : (j + 1) * dsub]
            tbl.append([
                float(((sub - np.asarray(cent)) ** 2).sum()) for _, cent in cb[j]
            ])
        rows.append((int(qid), tbl))
    return rows


def _pq_pos_col(cb: dict) -> Column:
    """codes array -> 1-based positions into the code-asc ADC table row
    (codes need not be dense/zero-based — bucket values work)."""
    code_pos = {code: i + 1 for i, (code, _) in enumerate(cb[0])}
    pos_map = F.map_from_arrays(
        F.lit([int(c0) for c0 in code_pos]),
        F.lit([int(p) for p in code_pos.values()]),
    )
    return F.transform(F.col("codes"), lambda c: F.element_at(pos_map, c))


def _pq_adc_col(m: int) -> Column:
    """Sum of m ADC table lookups (expects `_pos` and `tbl` columns);
    ordered fold, so the double sum is bit-stable across engines."""
    return F.aggregate(
        F.zip_with(
            F.sequence(F.lit(1), F.lit(m)),
            F.col("_pos"),
            lambda j, p: F.element_at(F.element_at(F.col("tbl"), j), p),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    bucket_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): corpus vectors
    are replaced by their PQ codes; each query precomputes an m x k
    table of squared subspace distances to every codeword (driver-side
    numpy — the query set is small) and scores a candidate as the sum
    of m table lookups. Completes the ANN tier list (brute force → SRP
    / IVF → int8 → PQ): at 100 TB the scored side carries CODES (a few
    bytes/vector), not embeddings — the scan is a table-lookup fold,
    no float vector math per candidate.

    Deterministic: codebooks are bucket-mean-derived (pq_codebooks),
    distances ranked on the 6-decimal-quantized ADC with id tiebreak —
    the DuckDB oracle reproduces the output exactly. Output:
    (query_id, vec_id, adc_d2, rank).
    """
    import numpy as np

    spark = corpus.sparkSession
    cbdf = codebooks if codebooks is not None else pq_codebooks(corpus, m=m, bucket_col=bucket_col, vec_col=vec_col)
    mm, dsub, cb = _pq_collect(cbdf)
    codes = pq_encode(corpus, cbdf, id_col=id_col, vec_col=vec_col)

    probes = spark.createDataFrame(
        _pq_query_rows(queries, cb, mm, dsub, query_id_col, vec_col),
        f"{query_id_col} long, tbl array<array<double>>",
    )
    cand = codes.withColumn("_pos", _pq_pos_col(cb)).crossJoin(
        F.broadcast(probes)
    ).filter(F.col(id_col) != F.col(query_id_col))
    scored = cand.select(query_id_col, id_col, _q6col(_pq_adc_col(mm)).alias("adc_d2"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("adc_d2").asc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_codebooks_kmeans(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "pq",
) -> DataFrame:
    """Production PQ codebooks: per-subspace Euclidean Lloyd k-means
    over the unit-normalized subvectors (kmeans_lloyd metric='l2' —
    zero-shuffle partial-sum iterations, k x dsub driver state per
    subspace). Output shape matches pq_codebooks, so pq_encode/pq_knn
    take either.

    Scale note: codebook training does not need the full corpus — at
    100 TB pass a hash_sample'd slice (a few million vectors) as
    ``corpus``; encode/score then run over everything with the trained
    book. m sequential trainings re-scan the (sampled) input; each
    iteration is one scan with no shuffle.
    """
    spark = corpus.sparkSession
    sliced = (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v0"))
        .select(F.col(id_col), _unit_vec(F.col("_v0")).alias("_vn"))
    )
    # driver-bound: one scalar (vector dim)
    dim = sliced.select(F.size("_vn")).first()[0]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rows = []
    for j in range(m):
        sub = sliced.select(
            F.col(id_col), F.slice("_vn", j * dsub + 1, dsub).alias("sub")
        )
        _, cents = kmeans_lloyd(
            sub, k=k, iters=iters, id_col=id_col, vec_col="sub",
            seed=f"{seed}{j}", metric="l2",
        )
        rows += [
            (j, code, [float(x) for x in cent]) for code, cent in enumerate(cents)
        ]
    return spark.createDataFrame(rows, "j int, code int, centroid array<double>")


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 8,
    m: int = 4,
    kc: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: DataFrame | None = None,
) -> None:
    """Materialize an IVF+PQ (IVFADC) index — the standard huge-corpus
    ANN layout: a coarse k-means quantizer (``nlist`` spherical-Lloyd
    buckets) partitions the PQ CODES on storage; per-subspace codebooks
    and coarse centroids sit alongside. A probed query then reads
    nprobe/nlist of a codes table that is itself ~dim·4/m bytes-per-
    vector smaller than the embeddings — the two reductions compose
    (e.g. nprobe=2/nlist=8 over 64-float vectors at m=4: ~1/250th of
    the raw scan bytes).

    Codes quantize the RAW unit vector, not the FAISS residual
    (x − centroid): residual codebooks can't be replicated in plain SQL
    and the raw variant keeps pq_encode/pq_knn's oracle-tested kernels;
    the cost is somewhat coarser quantization per bucket. ``train``
    (default: the corpus) lets both trainings run on a hash-sample at
    100 TB; model state is nlist×dim + m×kc×dsub driver floats.
    """
    tr = train if train is not None else corpus
    assignments, cents = kmeans_lloyd(
        corpus, k=nlist, iters=iters, id_col=id_col, vec_col=vec_col, seed="ivfpq"
    )
    cb = pq_codebooks_kmeans(tr, m=m, k=kc, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(corpus, cb, id_col=id_col, vec_col=vec_col)
    spark = corpus.sparkSession
    codes.join(assignments, id_col).write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "bucket int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    cb.write.mode("overwrite").parquet(f"{path}/codebooks")


def ivfpq_index_knn(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k against a written IVFADC index: probe selection on the tiny
    centroid table (max cosine, kmeans_lloyd's assignment metric), the
    probed bucket ids inlined as a literal predicate that lands in the
    codes scan's PartitionFilters (same static-pruning trade as
    ivf_index_knn), then ADC scoring of ONLY the probed buckets' codes
    against per-query distance tables. Output (query_id, vec_id,
    adc_d2, rank) — same ranking contract as pq_knn.
    """
    cent = spark.read.parquet(f"{path}/centroids")
    cbdf = spark.read.parquet(f"{path}/codebooks")
    mm, dsub, cb = _pq_collect(cbdf)

    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    pscore = q.crossJoin(F.broadcast(cent)).select(
        query_id_col, "bucket",
        cosine(F.col("__qvec"), F.col("centroid")).alias("cs"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cs").desc(), F.col("bucket"))
    probes = pscore.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= nprobe
    ).select(query_id_col, "bucket")
    # driver-bound: ≤ nprobe × |queries| distinct bucket ids
    bucket_ids = sorted({r["bucket"] for r in probes.distinct().collect()})

    tbls = spark.createDataFrame(
        _pq_query_rows(queries, cb, mm, dsub, query_id_col, vec_col),
        f"{query_id_col} long, tbl array<array<double>>",
    )
    probe_tbls = probes.join(tbls, query_id_col)  # tiny x tiny

    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("bucket").isin(bucket_ids)
    )
    cand = codes.withColumn("_pos", _pq_pos_col(cb)).join(
        F.broadcast(probe_tbls), "bucket"
    ).filter(F.col(id_col) != F.col(query_id_col))
    scored = cand.select(query_id_col, id_col, _q6col(_pq_adc_col(mm)).alias("adc_d2"))
    w2 = Window.partitionBy(query_id_col).orderBy(F.col("adc_d2").asc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


def jl_project(
    corpus: DataFrame,
    out_dim: int = 16,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss embedding compression with deterministic
    Rademacher planes (Achlioptas 2003, "Database-friendly random
    projections", public result): y[b] = (1/sqrt(out_dim)) Σ_d
    s(b,d)·x[d] with s = srp_planes' md5-derived ±1 — pairwise inner
    products and distances are preserved in expectation, at out_dim/dim
    of the storage (64→16 dims = 4x less embedding I/O for every
    downstream scan, the cheap tier below int8 quantization).

    Arrow-batched mapInPandas; the projection accumulates SEQUENTIALLY
    over d (_srp_project), so sums are bit-identical to q118's
    left-to-right SQL fold — the oracle needs no tolerance. Planes are
    recomputed anywhere from (seed, b, d) md5 calls — no broadcast, no
    driver state. One scan, no shuffle.
    """
    import math

    scale = 1.0 / math.sqrt(out_dim)

    def stage(batches):
        import numpy as np

        P = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if P is None:
                P = srp_planes(out_dim, M.shape[1], seed).astype(np.float64)
            proj = _srp_project(M, P) * scale
            out = pdf[[id_col]].copy()
            out["jl"] = list(proj)
            yield out  # yield bound: row-local (one output row per input row)

    id_type = dict(corpus.dtypes)[id_col]
    return corpus.select(id_col, vec_col).mapInPandas(
        stage, schema=f"{id_col} {id_type}, jl array<double>"
    )


def embedding_hygiene(
    corpus: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-table hygiene report per group (label / source /
    model-version slice): vector counts, zero-norm vectors (a broken or
    padding encoder output — they poison cosine math), non-finite
    components, and dimension min/max (ragged arrays from a mixed
    encoder deployment), plus the mean L2 norm (collapsed-norm drift is
    an encoder-regression smell even when drift of the MEAN vector,
    q124, looks fine).

    Scale shape: one scan, one group_col aggregation; every output is
    an exact integer count or a single division of integer micro-unit
    sums (the q136 pattern), so results are aggregation-order-proof.
    """
    nrm = norm(F.col(vec_col))
    nonfinite = F.size(
        F.filter(F.col(vec_col), lambda x: x.isNaN() | (F.abs(x) == float("inf")))
    )
    # __n stays RAW: quantizing first would mask the breakage this
    # report exists to catch (Spark's floor() collapses NaN to 0 —
    # a NaN norm would masquerade as a zero norm).
    per = corpus.select(
        F.col(group_col),
        F.size(F.col(vec_col)).alias("__dim"),
        nrm.alias("__n"),
        nonfinite.alias("__bad"),
    )
    finite = ~(F.col("__n").isNaN() | (F.abs(F.col("__n")) == F.lit(float("inf"))))
    agg = per.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("__n") == 0.0, 1).otherwise(0)).alias("n_zero_norm"),
        F.sum(F.when(F.col("__bad") > 0, 1).otherwise(0)).alias("n_nonfinite"),
        F.min("__dim").alias("dim_min"),
        F.max("__dim").alias("dim_max"),
        # mean over FINITE norms only: a NaN/inf norm would poison the
        # sum (and its long cast throws under ANSI even inside a when()
        # branch — codegen evaluates the value expression eagerly), so
        # the input is nanvl+clamped BEFORE the cast and the when() only
        # picks which rows count.
        F.sum(
            F.when(
                finite,
                F.floor(
                    F.least(F.nanvl(F.col("__n"), F.lit(0.0)), F.lit(1.0e9))
                    * F.lit(1_000_000.0)
                    + F.lit(0.5)
                ).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("__sn"),
        F.sum(F.when(finite, 1).otherwise(0)).alias("__nf"),
    )
    return agg.select(
        group_col,
        "n_vecs",
        "n_zero_norm",
        "n_nonfinite",
        "dim_min",
        "dim_max",
        F.when(
            F.col("__nf") > 0,
            F.col("__sn").cast("double")
            / F.col("__nf").cast("double")
            / F.lit(1_000_000.0),
        ).alias("mean_norm"),
    )


def centroid_label_agreement(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid (Rocchio) label agreement per class: assign every
    vector to the label whose mean vector it is cosine-closest to, then
    score agreement per true label — the O(N·L) full-corpus probe next
    to the O(N²) 1-NN probe (q190), with the agreement gap between the
    two diagnosing multi-modal classes.

    Cosines use the sequential left folds the DuckDB oracles mirror
    (list_sum semantics); the quantized-cosine argmax tiebreaks to the
    smallest label via min_by on (−cosine, label) — an ascending MIN
    comparison, so the tiebreak works for ANY orderable label type
    (strings included), not just numeric labels. Zero-norm vectors or
    centroids (an all-zero embedding, or a centroid whose lobes cancel
    exactly) carry no direction and are excluded rather than divided by.

    Centroid components are order-free: each float component quantizes
    to integer micro-units, sums accumulate in DECIMAL(38,0), and the
    mean divides+rounds ONCE (the q157 phase-mean pattern) — a plain
    F.avg over doubles depends on partial-aggregation order, and a
    centroid cosine an ulp from a quantization boundary could flip the
    argmax between runs/engines.

    Output: (label, n, n_match, agreement). Scale shape: centroid
    aggregation is dimension-bounded (the embedding_drift shuffle);
    scoring is one scan × L broadcast centroids; no pair table.

    Form history (r12): r11 replaced this min_by with a packed-long
    HashAggregate argmax (+ a spread_scan) to kill the min_by(struct)
    SortAggregate; interleaved 4-arm A/Bs at sf0.1 AND the 10× sf1
    corpus (plans/r12/ab_q193_forms_*.json) measured the packing and
    the spread as pure losses at both scales (sf1: min_by+hoisted-norms
    0.77 s vs packed+spread 1.29 s) while the NORM HOISTING was the
    real win — so the min_by aggregation is restored and the hoisting
    kept. The SortAggregate's map-side sort of the N·L pair rows
    remains the theoretical cost at extreme L; every measurable regime
    says the two extra plan steps (lid window, packing projection) cost
    more than it saves.
    """
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
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    dot = fold(F.zip_with("ed", "cv", lambda a, b: a * b))
    n_e = F.sqrt(fold(F.transform("ed", lambda a: a * a)))
    n_c = F.sqrt(fold(F.transform("cv", lambda b: b * b)))
    # Norms are computed BEFORE the crossJoin on purpose: __ne depends
    # only on the vector (N rows) and __nc only on the centroid (L
    # rows), but as post-join withColumns each d-element HOF fold ran
    # once per (vector, centroid) PAIR — N·L evaluations instead of
    # N + L. Same expressions over the same arrays, so the values (and
    # the > 0 filter and the cosine) are bit-identical.
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
