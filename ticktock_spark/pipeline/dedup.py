"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point at 100 TB):

- exact: one hash aggregation on a content digest — shuffle carries only
  (digest, doc_id), never the text.
- MinHash+LSH: signatures are computed scan-side (Arrow-batched
  hashlib, or JVM-native xxhash64); the ONLY shuffle is on band keys,
  and each bucket is tiny. Candidate pairs come from block-split bucket
  enumeration — never an all-pairs join.
- SimHash: scan-side 32-bit signature; near-dup candidates bucket on the
  signature (or rotated halves for 1-2 bit tolerance).
- n-gram Jaccard: exact verification join on shared shingles — used on
  LSH candidates at scale; full pairwise only for small corpora.

MinHash here uses md5-string order ("min over a hash-defined random
permutation"): h_j(doc) = min over shingles of the j-th 8-hex-char slice
of the seeded digests md5('0:'||s) || md5('1:'||s) || ..., compared
lexicographically, at ceil(num_hashes/4) digests per shingle; band b's
key is md5('b{b}:' || concat of its r slices). md5 + substr exist in
every engine, so q34's DuckDB oracle states the same scheme in SQL and
is its spec.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ticktock_spark.pipeline.text import normalize_text
from ticktock_spark.pipeline.util import spread_scan


def shingles(text: Column, k: int = 5) -> Column:
    """Distinct character k-grams of the normalized text.

    The normalized string is bound through a single-element array so the
    (regex-heavy) normalization evaluates ONCE per row — referenced
    directly inside the per-position lambda it would be interpreted anew
    for every shingle position (HOF lambdas get no CSE), turning an
    O(chars) extraction into O(chars²) regex work."""
    return F.array_distinct(
        F.flatten(
            F.transform(
                F.array(normalize_text(text)),
                lambda nm: F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.length(nm) - F.lit(k - 1), F.lit(1))
                    ),
                    lambda i: nm.substr(i, F.lit(k)),
                ),
            )
        )
    )


def minhash_signature_xxh64(shingle_col: Column, num_hashes: int = 8) -> Column:
    """Array of min-over-shingles 64-bit xxhash64 values — the JVM-native
    scale twin of the md5 MinHash signature (module docstring).

    h_j(doc) = min over shingles of xxhash64(j, shingle): the j-th "random
    permutation" is seeded by hashing the position literal into the
    stream. One pass over the shingle array keeping running minima;
    each hash is a single native XXH64 round instead of an md5 digest
    + hex substring — roughly an
    order of magnitude less hash work per shingle, entirely JVM-side.
    Not portable to engines without xxhash64 (DuckDB has none), so the
    md5 scheme stays the cross-engine specification. Exact duplicates
    bucket together under ANY hash function (equal shingle sets → equal
    signatures); for near-dups the r/b collision curve holds in
    expectation per hash family, but with a FIXED set of 8 functions the
    per-corpus candidate count can differ between families — agreement
    events correlate across pairs sharing template text, so one family
    can systematically over/under-shoot on low-jaccard junk pairs.
    Measured on the sf0.1 documents corpus (SCALE.md): both families
    recover 100% of true ≥0.5-jaccard pairs; the md5 family emits 3.5×
    more j≈0.1–0.3 junk candidates that Jaccard-verify then discards.
    """
    positions = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        shingle_col,
        F.array_repeat(F.lit(9223372036854775807).cast("long"), num_hashes),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(positions, lambda j: F.xxhash64(j, s)),
            lambda a, h: F.least(a, h),
        ),
    )


def band_keys_xxh64(sig: Column, bands: int, rows: int) -> Column:
    """LSH banding over a long-array signature: one xxhash64 per band,
    seeded by the band index, folding the band's r signature values."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(b), *[F.element_at(sig, b * rows + i + 1) for i in range(rows)]
            )
            for b in range(bands)
        ]
    )


def banded_keys_xxh64(shingle_col: Column, num_hashes: int, bands: int) -> Column:
    """Band-key array in ONE expression: the aggregate's merge lambda
    keeps the running minima (= ``minhash_signature_xxh64``) and its
    finish lambda hashes each band slice (= ``band_keys_xxh64``). The
    signature is evaluated exactly once per row inside the fold, so no
    CollapseProject exchange barrier is needed between signing and
    banding. Equality with the two-step composition is pinned by
    test."""
    rows = num_hashes // bands
    positions = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        shingle_col,
        F.array_repeat(F.lit(9223372036854775807).cast("long"), num_hashes),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(positions, lambda j: F.xxhash64(j, s)),
            lambda a, h: F.least(a, h),
        ),
        lambda acc: F.array(
            *[
                F.xxhash64(
                    F.lit(b),
                    *[F.element_at(acc, b * rows + i + 1) for i in range(rows)],
                )
                for b in range(bands)
            ]
        ),
    )


def _banded_pandas(
    num_hashes: int,
    bands: int,
    rows: int,
    id_col: str,
    k: int | None = None,
    binary_keys: bool = False,
):
    """mapInPandas stage: (id, sh) or (id, norm) → (id, band, key) rows.

    The md5 MinHash scheme of the module docstring (q34's oracle), with
    the per-shingle hashing in C (hashlib) — the signature is the
    md5-bound hot loop.
    With ``binary_keys``, the band key is the raw 16-byte md5 digest
    instead of its 32-char lowercase hex — the SAME value bijectively
    (unhex(hex) == digest), so grouping is collision-identical while
    the banding exchange carries half the key bytes (§2.3 narrower
    types). Only for keys that stay INSIDE one pipeline
    (minhash_lsh_candidates): persistable band-key frames
    (_band_keys_frame, streaming dedup) keep the hex contract — a
    binary column joined against a persisted hex index would cast,
    mismatch and silently match nothing.
    With ``k`` set, the input carries the NORMALIZED text (`norm`) and
    shingle extraction happens here too: plain substring slicing has
    identical semantics in Python and the JVM (unlike the normalization
    regexes, which stay JVM-side to avoid Java/Python regex drift), it
    skips materializing ~len(text) string array elements per row through
    Arrow, and min-over-shingles is order-free so set() matches
    array_distinct. Without ``k``, a precomputed/shared shingle array
    column (`sh`) is consumed as-is.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    n_digests = (num_hashes + 3) // 4
    seeds = [f"{d}:".encode() for d in range(n_digests)]

    md5 = hashlib.md5

    def band_key(b: int, sig: str):
        h = md5(f"b{b}:{sig}".encode())
        return h.digest() if binary_keys else h.hexdigest()
    # shingle → row index into a uint64 piece matrix, cached across the
    # partition: natural-language 5-gram vocabulary is FAR smaller than
    # the total shingle instance count ("the q" recurs in every batch),
    # so the cache converts most md5 work into a dict hit. The pieces
    # are FIXED-WIDTH lowercase hex, whose lexicographic order equals
    # their integer order, so the per-doc min over piece STRINGS (the
    # md5 scheme's spec) == min over their uint64 values — which lets
    # the whole chunk's minima run as ONE np.minimum.reduceat call
    # instead of an interpreted per-doc zip/min loop (r11; band keys
    # byte-identical, pinned by the q34 oracle). Capped so a
    # pathological high-entropy corpus can't grow the cache unboundedly
    # (checked between chunks — a chunk's rows stay index-stable).
    index: dict[str, int] = {}
    # uint32 (pieces are 32-bit by construction): besides halving the
    # matrix, 64-bit 2-D gathers are pathologically slow on some
    # BLAS/memcpy paths (measured 100× vs uint32 here) — and np.take is
    # used over fancy indexing for the same reason.
    # State lives in a MUTATED dict, never a rebound closure variable:
    # `nonlocal` rebinding shared between _row and stage works
    # in-process but NOT through Spark's worker-side deserialization,
    # where the two functions come back with SEPARATE cells — stage
    # then reads the never-grown matrix and a frozen n_pieces while
    # _row grows its own copy (reproduced at sf1: every task with
    # > 2^14 distinct shingles crashed np.take; invisible at sf0.1
    # where tasks stay under the initial capacity). The shared `index`
    # dict always worked because it is mutated, not rebound.
    state = {"mat": np.empty((1 << 14, num_hashes), dtype=np.uint32), "n": 0}
    CHUNK = 4096

    def _row(s: str) -> int:
        i = index.get(s)
        if i is None:
            # raw digest bytes, no hex round-trip: hexdigest()[j*8:j*8+8]
            # is exactly digest()[j*4:j*4+4] rendered as lowercase hex,
            # so the big-endian uint32 view of the digest IS the piece's
            # integer value (format(v, '08x') reconstructs the hex piece
            # bit-exactly at emit time)
            cat = b"".join(md5(seed + s.encode()).digest() for seed in seeds)
            i = state["n"]
            mat = state["mat"]
            if i == len(mat):
                state["mat"] = mat = np.concatenate([mat, np.empty_like(mat)])
            mat[i] = np.frombuffer(cat, dtype=">u4")[:num_hashes]
            state["n"] = i + 1
            index[s] = i
        return i

    def stage(pdfs):
        for pdf in pdfs:
            col = pdf["norm"] if k is not None else pdf["sh"]
            id_seq = pdf[id_col]
            for lo in range(0, len(pdf), CHUNK):
                if len(index) > 2_000_000:
                    index.clear()
                    state["n"] = 0
                ids: list = []
                band_idx: list[int] = []
                keys: list[str] = []
                doc_ids: list = []
                flat: list[int] = []
                starts: list[int] = []
                for doc_id, doc in zip(
                    id_seq.iloc[lo : lo + CHUNK], col.iloc[lo : lo + CHUNK]
                ):
                    if doc is None:
                        # NULL text has no shingles and so no band
                        # keys: emit nothing instead of crashing on
                        # len(None)
                        continue
                    if k is not None:
                        sh = {
                            doc[i : i + k]
                            for i in range(max(len(doc) - k + 1, 1))
                        }
                    else:
                        sh = doc
                    # len() not truthiness: a shingles_df column arrives
                    # as a numpy array, whose bool() raises "truth value
                    # ambiguous"
                    if len(sh):
                        starts.append(len(flat))
                        flat.extend(_row(s) for s in sh)
                        doc_ids.append(doc_id)
                    else:
                        # precomputed-empty shingle array: the sentinel
                        # "g" sorts after every hex char, same as before
                        minima = ["g"] * num_hashes
                        for b in range(bands):
                            sig = "".join(minima[b * rows : (b + 1) * rows])
                            ids.append(doc_id)
                            band_idx.append(b)
                            keys.append(band_key(b, sig))
                if doc_ids:
                    gathered = np.take(
                        state["mat"], np.asarray(flat, dtype=np.int64), axis=0
                    )
                    mins = np.minimum.reduceat(
                        gathered, np.asarray(starts, dtype=np.int64), axis=0
                    )
                    for di, doc_id in enumerate(doc_ids):
                        minima = [format(v, "08x") for v in mins[di]]
                        for b in range(bands):
                            sig = "".join(minima[b * rows : (b + 1) * rows])
                            ids.append(doc_id)
                            band_idx.append(b)
                            keys.append(band_key(b, sig))
                # yield bound: bands-per-doc is the constant `bands`
                # (row-local) and chunks cap rows at CHUNK * bands
                yield pd.DataFrame({id_col: ids, "band": band_idx, "key": keys})

    return stage


PAIR_BLOCK = 256


def _collect_buckets(
    banded: DataFrame,
    id_col: str,
    bucket_cap: int | None = None,
    key_cols: tuple[str, ...] = ("band", "key"),
) -> DataFrame:
    """(id, *key_cols) rows → (*key_cols, sorted ids) buckets.

    Uncapped, ``collect_list`` materializes EVERY member of a bucket in
    one agg buffer; ``_bucket_blocks`` bounds the downstream PAIR work,
    but the ids array itself is unbounded — a viral template key shared
    by millions of docs is a single-reducer OOM before any splitting can
    happen. ``bucket_cap`` bounds it BEFORE the collect: rank members
    per (band, key) with a window (the sort spills to disk instead of
    buffering) and keep only ranks ≤ cap, so a degenerate bucket
    contributes its first ``cap`` ids (by id order, deterministic) and
    at most cap²/2 candidate pairs. The window's hash partitioning is
    reused by the aggregation — still ONE exchange. Recall is affected
    only for buckets larger than the cap, which in a crawl corpus are
    exact-duplicate families the exact-first ``dedup_pipeline`` ordering
    removes before LSH; the cap is the backstop for near-dup template
    floods that survive it. Default None (exact, oracle-compatible).
    """
    if bucket_cap is not None:
        from pyspark.sql import Window

        rn = F.row_number().over(
            Window.partitionBy(*key_cols).orderBy(id_col)
        )
        banded = banded.withColumn("__rn", rn).filter(
            F.col("__rn") <= bucket_cap
        )
    return (
        banded.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def _bucket_blocks(buckets: DataFrame, block: int = PAIR_BLOCK) -> DataFrame:
    """Split each bucket's sorted id-array into block-pair work units.

    A bucket of n ids is quadratic to enumerate; exact-duplicate clusters
    produce mega-buckets (a 2k-doc bucket is ~2M pairs) that would pin
    all that work — and the map side of the downstream aggregation — on
    ONE task. Chunking ids into ``block``-sized slices and emitting every
    chunk pair (i ≤ j) bounds a task at block² pairs regardless of bucket
    size, which is what survives a 1000× scale-up. Chunks inherit the
    sort order, so for i < j every ca element < every cb element and
    pair order stays id_a < id_b for free.
    """
    nc = F.ceil(F.size("ids") / F.lit(block)).cast("int")
    ei = buckets.select("ids", nc.alias("nc"), F.explode(F.sequence(F.lit(0), nc - 1)).alias("i"))
    eij = ei.select(
        "ids", "i", F.explode(F.sequence(F.col("i"), F.col("nc") - 1)).alias("j")
    )
    return eij.select(
        F.slice("ids", F.col("i") * block + 1, F.lit(block)).alias("ca"),
        F.slice("ids", F.col("j") * block + 1, F.lit(block)).alias("cb"),
        (F.col("i") == F.col("j")).alias("same"),
    )


#: Max rows per pandas frame yielded by _pairs_pandas. EVERY yielded
#: frame becomes ONE Arrow record batch on the Python→JVM side
#: (maxRecordsPerBatch slices only JVM→Python input), so an unbounded
#: yield turns a mega-bucket input batch (10k chunk-pair rows × up to
#: 256² pairs each) into a ~20M-row / 300 MB single Arrow allocation —
#: 32 concurrent tasks then exhaust the netty direct-memory pool
#: (reproduced at N=16 replication: OutOfDirectMemoryError at 8 GiB).
#: 2²¹ rows × 16 B ≈ 32 MB keeps per-task Arrow buffers bounded.
PAIR_YIELD_ROWS = 1 << 21


def _pairs_pandas():
    """mapInPandas stage: (ca, cb, same) chunk pairs → (id_a, id_b) rows.

    np.triu_indices within a chunk (same=True), full cross product across
    chunks — C-speed pair generation instead of the interpreted HOF path,
    which evaluates (and slices) per element. Output is flushed every
    ``PAIR_YIELD_ROWS`` pairs so no single Arrow batch is unbounded (see
    the constant's rationale).
    """
    import numpy as np
    import pandas as pd

    def stage(pdfs):
        outs_a: list = []
        outs_b: list = []
        pending = 0

        def flush():
            nonlocal outs_a, outs_b, pending
            frame = pd.DataFrame(
                {"id_a": np.concatenate(outs_a), "id_b": np.concatenate(outs_b)}
            )
            outs_a, outs_b, pending = [], [], 0
            return frame

        for pdf in pdfs:
            for ca, cb, same in zip(pdf["ca"], pdf["cb"], pdf["same"]):
                a = np.asarray(ca)
                if same:
                    if len(a) < 2:
                        continue
                    ia, ib = np.triu_indices(len(a), k=1)
                    outs_a.append(a[ia])
                    outs_b.append(a[ib])
                    pending += len(ia)
                else:
                    b = np.asarray(cb)
                    outs_a.append(np.repeat(a, len(b)))
                    outs_b.append(np.tile(b, len(a)))
                    pending += len(a) * len(b)
                if pending >= PAIR_YIELD_ROWS:
                    yield flush()
        if pending:
            yield flush()

    return stage


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    members_cap: int | None = None,
) -> DataFrame:
    """Group identical texts by md5 digest; keep min id as canonical.

    Output: digest, canonical_id, n_copies, member ids.

    ``members_cap`` bounds the members array per group: uncapped,
    ``collect_list`` materializes EVERY copy's id in one agg buffer — a
    viral doc with millions of copies is a single-reducer OOM at crawl
    scale. The capped plan ranks ids per digest with a window (same hash
    partitioning the final aggregation needs, so still ONE exchange —
    pinned by plan test) and collects only ranks ≤ cap, while n_copies
    still counts everything. Pipelines that don't need members at all
    (``dedup_pipeline``) skip this operator's collect entirely.
    """
    h = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
    if members_cap is not None:
        from pyspark.sql import Window

        rn = F.row_number().over(Window.partitionBy("digest").orderBy(id_col))
        return (
            h.withColumn("__rn", rn)
            .groupBy("digest")
            .agg(
                F.min(id_col).alias("canonical_id"),
                F.count(F.lit(1)).alias("n_copies"),
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("__rn") <= members_cap, F.col(id_col))
                    )
                ).alias("members"),
            )
        )
    return h.groupBy("digest").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.sort_array(F.collect_list(id_col)).alias("members"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    shingles_df: DataFrame | None = None,
    engine: str = "pandas",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    Output: id_a < id_b pairs with the number of agreeing bands.
    Plan: scan-side signatures (repartitioned — a single parquet file
    otherwise serializes all the md5 work into one task) → explode band
    keys → ONE hash aggregation into buckets → pair enumeration.
    ``shingles_df`` (id_col, sh) lets a caller share one (ideally
    persisted) shingle computation across candidates + verification.
    ``engine``: 'pandas' (default) hashes the md5 scheme (module
    docstring; q34's DuckDB oracle is its spec) via Arrow-batched
    hashlib; 'xxh64' swaps the md5 permutation family for JVM-native
    xxhash64 — a different hash family, so candidate sets differ on
    low-jaccard junk pairs while exact-duplicate recall is structurally
    100% and measured true-pair recall / verified output match the md5
    scheme (SCALE.md). It removes ALL Python from the signature hot
    loop — on a diverse (cache-hostile) corpus it measures 5.4× faster
    than the hashlib engine — at 100 TB the scan-side hash work is the
    dominant dedup cost and this path keeps it native with no Arrow
    text transfer.
    ``bucket_cap`` bounds degenerate band-key buckets BEFORE the
    bucket collect (see ``_collect_buckets``) — the 100 TB backstop
    against viral template keys.
    """
    rows = num_hashes // bands
    par = df.sparkSession.sparkContext.defaultParallelism
    # spread_scan, not an unconditional repartition (r11): a single-file
    # scan still spreads across tasks locally, but at scale — where the
    # scan already has >= par splits — no full-text exchange is added
    # (§2.4: the signature kernel is row-local, placement is free)
    # band keys stay INSIDE this function (straight into the bucket
    # aggregation), so the md5 keys travel as their raw 16-byte digests
    # instead of 32-char hex — the same value bijectively, grouping
    # collision-identical, half the key bytes through the banding
    # exchange (§2.3 narrower types). Persistable band-key producers
    # (_band_keys_frame, streaming) keep the hex contract.
    if engine not in ("pandas", "xxh64"):
        raise ValueError(f"unknown minhash engine: {engine!r}")
    if engine == "pandas" and shingles_df is None:
        nm = spread_scan(df, par).select(
            F.col(id_col), normalize_text(F.col(text_col)).alias("norm")
        )
        id_type = dict(nm.dtypes)[id_col]
        banded = nm.mapInPandas(
            _banded_pandas(num_hashes, bands, rows, id_col, k=k, binary_keys=True),
            schema=f"{id_col} {id_type}, band int, key binary",
        )
    elif engine == "pandas":
        id_type = dict(shingles_df.dtypes)[id_col]
        banded = shingles_df.mapInPandas(
            _banded_pandas(num_hashes, bands, rows, id_col, binary_keys=True),
            schema=f"{id_col} {id_type}, band int, key binary",
        )
    else:
        # Drop NULL-text docs: shingles(NULL) is [NULL], and xxhash64
        # skips nulls natively, which would give ALL null docs the SAME
        # signature — one fake bucket pairing every null doc per band.
        # Matches the pandas engine's emit-nothing for null docs. Filter
        # the TEXT column before the shingle projection (equivalent:
        # normalize/substr are null-preserving, so sh=[NULL] iff text IS
        # NULL) — filtering on element_at(sh, 1) after it re-inlines the
        # whole shingle expression into the predicate (interpreted HOF,
        # no CSE) and was measured at 4.8× the entire banded-keys stage
        # at sf0.1.
        if shingles_df is not None:
            sh = shingles_df.filter(F.element_at(F.col("sh"), 1).isNotNull())
        else:
            sh = spread_scan(
                df.filter(F.col(text_col).isNotNull()), par
            ).select(F.col(id_col), shingles(F.col(text_col), k).alias("sh"))
        # signature + banding fused into one aggregate (finish lambda),
        # so the signature can't be re-inlined per band key and no
        # exchange barrier is needed
        banded = sh.select(
            id_col,
            F.posexplode(
                banded_keys_xxh64(F.col("sh"), num_hashes, bands)
            ).alias("band", "key"),
        )
    buckets = _collect_buckets(banded, id_col, bucket_cap)
    id_type = dict(df.select(id_col).dtypes)[id_col]
    pairs = _bucket_blocks(buckets).repartition(par).mapInPandas(
        _pairs_pandas(), schema=f"id_a {id_type}, id_b {id_type}"
    )
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_bands"))


def verify_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.2,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for an explicit candidate-pair set.

    This is the verification half of the candidate→verify near-dup
    pipeline: ``pairs`` (id_a < id_b, e.g. from minhash_lsh_candidates)
    is small, so it broadcasts onto two joins against the per-doc shingle
    sets and the exact set intersection runs only per candidate — never
    all-pairs, and never via the shared-shingle self-join that explodes
    quadratically on common shingles.
    """
    sh = (
        shingles_df
        if shingles_df is not None
        else df.repartition(df.sparkSession.sparkContext.defaultParallelism).select(
            F.col(id_col), shingles(F.col(text_col), k).alias("sh")
        )
    )
    base = pairs.select("id_a", "id_b")
    if threshold > 0.0:
        # Exact size prescreen: jaccard >= t forces min(|A|,|B|)/max >= t
        # (inter <= min, union >= max), so pairs failing the size ratio
        # can be dropped from two SKINNY integer joins BEFORE the wide
        # shingle arrays are shuffled per pair. Semantics-neutral — the
        # survivors get the same exact intersection. On LSH candidate
        # sets dominated by low-jaccard junk this is the difference
        # between verifying 2.4M pairs and verifying thousands
        # (measured 23s -> ~2s at sf0.1, threshold 0.7).
        szs = sh.select(F.col(id_col), F.size("sh").alias("__n"))
        base = (
            base.join(
                szs.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na")),
                "id_a",
            )
            .join(
                szs.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb")),
                "id_b",
            )
            .filter(
                F.least("__na", "__nb").cast("double")
                / F.greatest("__na", "__nb").cast("double")
                >= F.lit(float(threshold))
            )
            .select("id_a", "id_b")
        )
    out = (
        base
        .join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "inter", "jaccard"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    |A∩B| from a shared-shingle self-join, |A∪B| = |A|+|B|-|A∩B|.
    At 100 TB run this ONLY on LSH candidates (join against
    minhash_lsh_candidates first); full version kept for oracles/tests.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    spread = df.repartition(par)
    sh = spread.select(F.col(id_col), shingles(F.col(text_col), k).alias("sh"))
    sizes = sh.select(id_col, F.size("sh").alias("n"))
    ex = sh.select(id_col, F.explode("sh").alias("s"))
    # bucket-enumeration instead of a shingle self-join: one shuffle, no
    # double evaluation of the shingle expressions; block-split so a
    # shingle shared by a big duplicate cluster can't pin one task
    id_type = dict(df.select(id_col).dtypes)[id_col]
    buckets = (
        ex.groupBy("s")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    inter = (
        _bucket_blocks(buckets)
        .repartition(par)
        .mapInPandas(_pairs_pandas(), schema=f"id_a {id_type}, id_b {id_type}")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    j = (
        inter.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "inter", "jaccard")


def lsh_audit(
    df: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row LSH quality report: MinHash-LSH candidate pairs audited
    against the EXACT shared-shingle Jaccard ground truth — the
    measurement that justifies (or vetoes) a banding config before a
    100 TB dedup run.

    Columns: n_truth (exact pairs with Jaccard ≥ threshold), n_cand
    (LSH candidate pairs), n_hit (their intersection), precision
    (n_hit/n_cand — how much candidate verification work is wasted) and
    recall (n_hit/n_truth — how many true near-dups the banding
    misses). Ratios are single divisions of exact integers, so every
    engine agrees bit-for-bit.

    Scale: this is an AUDIT to run on a sample (the exact ground truth
    enumerates all shared-shingle pairs — the quadratic-in-bucket-size
    path production dedup avoids); at full scale run it on a
    hash_sample slice and read the ratios as estimates of the corpus
    rates. Both inputs use the bucket-block pair enumeration, so even
    the audit never materializes an all-pairs join."""
    truth = ngram_jaccard_pairs(
        df, text_col=text_col, id_col=id_col, k=k, threshold=threshold
    ).select("id_a", "id_b", F.lit(1).alias("in_t"))
    cand = minhash_lsh_candidates(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        bands=bands, k=k,
    ).select("id_a", "id_b", F.lit(1).alias("in_c"))
    j = truth.join(cand, ["id_a", "id_b"], "full")
    agg = j.agg(
        F.sum(F.coalesce(F.col("in_t"), F.lit(0))).alias("n_truth"),
        F.sum(F.coalesce(F.col("in_c"), F.lit(0))).alias("n_cand"),
        F.sum(
            F.coalesce(F.col("in_t"), F.lit(0))
            * F.coalesce(F.col("in_c"), F.lit(0))
        ).alias("n_hit"),
    )
    nt, nc, nh = F.col("n_truth"), F.col("n_cand"), F.col("n_hit")
    return agg.select(
        nt.alias("n_truth"),
        nc.alias("n_cand"),
        nh.alias("n_hit"),
        F.when(nc > 0, nh.cast("double") / nc.cast("double")).alias(
            "precision"
        ),
        F.when(nt > 0, nh.cast("double") / nt.cast("double")).alias("recall"),
    )


def simhash32(text: Column, token_pattern: str = r"[a-z0-9]+") -> Column:
    """32-bit SimHash as a bit-string, one bit per md5 hex nibble position.

    For each token, nibble i of md5(token) contributes +1 if ≥ 8 else -1
    to bit i; the signature bit is 1 when the sum is ≥ 0. Pure expressions
    (no UDF), identical semantics in any engine with md5/substr.
    """
    toks = F.regexp_extract_all(normalize_text(text), F.lit(token_pattern), 0)
    # ONE fold over the tokens carrying all 32 counters. Array higher-order
    # functions are CodegenFallback (interpreted) and get no common-
    # subexpression elimination, so 32 separate aggregate() calls would
    # re-run md5 over every token 32 times.
    positions = F.sequence(F.lit(1), F.lit(32))
    hashes = F.transform(toks, F.md5)  # digest once per token
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(positions, lambda i: F.substring(h, i, F.lit(1))),
            lambda a, nib: a + F.when(nib >= "8", 1).otherwise(-1),
        ),
    )
    return F.array_join(
        F.transform(votes, lambda v: F.when(v >= 0, F.lit("1")).otherwise(F.lit("0"))), ""
    )


def simhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group documents by identical 32-bit SimHash (near-dup buckets)."""
    s = df.select(F.col(id_col), simhash32(F.col(text_col)).alias("simhash"))
    return s.groupBy("simhash").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def incremental_exact_dedup(
    batch: DataFrame,
    corpus_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Incremental ingest dedup: collapse the new batch's exact
    duplicates (md5 groups, min-id canonical) and drop every group whose
    digest already exists in the standing corpus index.

    ``corpus_digests`` is any DataFrame with a ``digest_col`` column —
    in steady state a small parquet/Delta digest index maintained across
    ingests (append the survivors' digests after each batch).

    Scale shape: the batch groupBy shuffles (digest, id) only; the
    anti-join keys on digest, so AQE broadcasts whichever side is small
    (typically the batch). The corpus text is never rescanned — the
    whole point of keeping the digest index.
    """
    groups = exact_dedup(batch, text_col=text_col, id_col=id_col)
    seen = corpus_digests.select(F.col(digest_col).alias("digest")).distinct()
    return groups.join(seen, "digest", "left_anti")


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Cross-corpus LSH: near-duplicate CANDIDATE pairs between two
    corpora (e.g. a new crawl vs the standing training set) without ever
    enumerating within-corpus pairs — the cross join on (band, key)
    touches only buckets populated on both sides.

    Output: (left_id, right_id, n_bands). Verify with ``verify_jaccard``
    over the union of both corpora (alias the pair columns to
    id_a/id_b first).

    Same hash scheme as minhash_lsh_candidates' default engine (md5
    signatures in C, the scheme q34's oracle specifies), so a given
    doc pair buckets identically whether deduped within or across
    corpora. One shuffle per side into the band-key join; a viral
    boilerplate key that floods a bucket is a skewed join key, which
    AQE's skew-join split handles — or pre-filter stop-buckets (keys
    whose one-side population exceeds a cap) like _bucket_blocks does
    for the self-join path.
    """
    rows = num_hashes // bands
    par = left.sparkSession.sparkContext.defaultParallelism

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        id_type = dict(df.select(id_col).dtypes)[id_col]
        nm = spread_scan(df, par).select(
            F.col(id_col), normalize_text(F.col(text_col)).alias("norm")
        )
        b = nm.mapInPandas(
            _banded_pandas(num_hashes, bands, rows, id_col, k=k),
            schema=f"{id_col} {id_type}, band int, key string",
        )
        return b.withColumnRenamed(id_col, out_id)

    lb = banded(left, "left_id")
    rb = banded(right, "right_id")
    return (
        lb.join(rb, ["band", "key"])
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def dedup_pipeline(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The end-to-end dedup composition a production corpus actually
    runs: EXACT dedup first (md5 groups → canonical min-id), then
    MinHash-LSH + Jaccard-verify + connected components over the
    CANONICAL docs only, then every original doc mapped through its
    exact-group canonical to the final near-dup cluster.

    Ordering matters at scale: exact duplicates form LSH mega-buckets
    (every copy shares every band key), so candidate volume grows
    quadratically in copy count if LSH runs on the raw corpus —
    tools/scale_stress.py measures 38.5M candidate pairs on a 4×
    exact-replicated corpus vs the ~2.4M the same data produces through
    this pipeline. Collapsing exact groups first removes the blow-up
    without changing the result: identical texts always land in the
    same final cluster either way.

    Output: (id, cluster_id, n_total, is_kept) for every ORIGINAL doc —
    cluster_id is the min canonical id of the near-dup component,
    n_total the cluster's size in original docs, is_kept true for
    exactly one doc per cluster (the cluster id itself). Downstream
    dedup = ``filter(is_kept)``.

    Candidates use the md5 scheme, uncapped: exact, and what q77's
    DuckDB oracle pins. A caller that wants the all-JVM xxh64 family
    and a viral-bucket cap composes ``minhash_lsh_candidates(
    engine='xxh64', bucket_cap=...)`` → ``verify_jaccard`` →
    ``dedup_clusters`` itself (q34x's shape).
    """
    from ticktock_spark.pipeline.cluster import dedup_clusters

    digests = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
    groups = digests.groupBy("digest").agg(F.min(id_col).alias("canonical_id"))
    canon = docs.join(
        groups.select(F.col("canonical_id").alias(id_col)), id_col, "left_semi"
    )
    cand = minhash_lsh_candidates(
        canon,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
    )
    verified = verify_jaccard(
        canon, cand, threshold=jaccard_threshold, text_col=text_col, id_col=id_col
    )
    clusters = dedup_clusters(
        canon, verified.select("id_a", "id_b"), id_col=id_col
    ).select(F.col(id_col).alias("canonical_id"), "cluster_id")
    mapped = (
        digests.join(groups, "digest")
        .join(clusters, "canonical_id")
        .select(id_col, "cluster_id")
    )
    # cluster sizes via an unordered window, NOT a groupBy joined back:
    # `mapped` is the whole pipeline, and a self-join would re-execute
    # it once per branch (measured as a doubled scan/LSH cost in the
    # plan audit)
    from pyspark.sql import Window

    n_total = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    return mapped.select(
        id_col,
        "cluster_id",
        n_total.alias("n_total"),
        (F.col(id_col) == F.col("cluster_id")).alias("is_kept"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dataset-version diff by content digest: every doc id in either
    snapshot labeled ``added`` / ``removed`` / ``changed`` /
    ``unchanged`` — the audit a corpus release pipeline runs between
    versions (what moved, what must be re-tokenized, what downstream
    caches stay valid).

    Shuffle carries only (id, digest) — never text — so the diff costs
    one md5 scan per side plus a join on the id, exactly like
    ``exact_dedup``'s shuffle discipline. NULL text hashes to NULL;
    NULL-vs-NULL counts as unchanged (both absent of content), matching
    md5's null propagation in any engine.
    """
    # membership comes from explicit presence flags, NOT digest
    # nullness — a present doc can legitimately have NULL text
    o = old.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__old"), F.lit(True).alias("__in_old")
    )
    n = new.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__new"), F.lit(True).alias("__in_new")
    )
    j = o.join(n, id_col, "full_outer")
    in_old = F.coalesce(F.col("__in_old"), F.lit(False))
    in_new = F.coalesce(F.col("__in_new"), F.lit(False))
    status = (
        F.when(in_old & ~in_new, F.lit("removed"))
        .when(~in_old & in_new, F.lit("added"))
        .when(
            F.coalesce(F.col("__old"), F.lit("\x00"))
            == F.coalesce(F.col("__new"), F.lit("\x00")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col(id_col), status.alias("status"))


def chunk_dedup(
    df: DataFrame,
    chunk_words: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_key: bool = False,
) -> DataFrame:
    """Sub-document exact-substring dedup: tile each document into
    fixed ``chunk_words``-word chunks, keep only the corpus-wide FIRST
    occurrence of each chunk (ordered by doc id, then position), and
    reassemble documents from their surviving chunks — the
    aligned-tile variant of ExactSubstr dedup ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022): doc-level
    dedup (exact_dedup/minhash) misses a duplicated PASSAGE pasted
    into otherwise-distinct documents; this removes the passage copies
    while keeping the host documents.

    Output: (id, text_dedup, n_kept, n_removed); a document whose every
    chunk is a repeat survives with text_dedup = '' — auditable, and
    droppable downstream with ``n_kept > 0``.

    Scale shape: a LINEAR single-scan plan — split once into a
    materialized array column (never re-derived inside a lambda: the
    interpreted-HOF no-CSE hazard measured on shingles()), explode to
    chunk rows, one window (partition by chunk, order by id/position)
    for first-occurrence, one doc-level agg for reassembly. The only
    shuffle carries chunk text; with ``hash_key=True`` it carries
    xxhash64(chunk) + position instead (~10× narrower at 100 TB, with
    the usual 64-bit-collision caveat), which is the production
    preset. A suffix-array ExactSubstr (arbitrary-offset matches) is
    deliberately NOT ported: it needs a global sorted suffix index,
    which Spark has no sub-quadratic distributed analogue for; aligned
    tiles catch the same bulk copy-paste duplication one shuffle pass.
    """
    from pyspark.sql import Window

    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
    )
    nch = F.ceil(F.size("_w") / F.lit(float(chunk_words))).cast("int")
    tiles = F.transform(
        F.sequence(F.lit(1), nch),
        lambda i: F.struct(
            i.cast("int").alias("cidx"),
            F.array_join(
                F.slice("_w", (i - 1) * chunk_words + 1, chunk_words), " "
            ).alias("chunk"),
        ),
    )
    chunks = (
        toks.select(id_col, F.explode(tiles).alias("c"))
        .select(id_col, "c.cidx", "c.chunk")
        .filter(F.length("chunk") > 0)
    )
    key = F.xxhash64("chunk") if hash_key else F.col("chunk")
    rn = F.row_number().over(
        Window.partitionBy(key).orderBy(id_col, "cidx")
    )
    flagged = chunks.withColumn("_keep", rn == 1)
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.when(F.col("_keep"), F.struct("cidx", "chunk")))
        ),
        lambda s: s["chunk"],
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(ordered, " ").alias("text_dedup"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_removed"),
    )


def chunk_index(
    df: DataFrame,
    chunk_words: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Standing tile index for incremental sub-document dedup: the
    DISTINCT xxhash64 of every ``chunk_words``-word tile in the corpus
    (one BIGINT per unique tile — the compact index a growing-corpus
    pipeline persists and appends to after each batch, exactly like
    incremental_exact_dedup's digest index but at tile granularity)."""
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.split(F.col(text_col), " ").alias("_w"))
    )
    nch = F.ceil(F.size("_w") / F.lit(float(chunk_words))).cast("int")
    tiles = F.transform(
        F.sequence(F.lit(1), nch),
        lambda i: F.array_join(
            F.slice("_w", (i - 1) * chunk_words + 1, chunk_words), " "
        ),
    )
    return (
        toks.select(F.explode(tiles).alias("chunk"))
        .filter(F.length("chunk") > 0)
        .select(F.xxhash64("chunk").alias("chunk_hash"))
        .distinct()
    )


def chunk_dedup_incremental(
    batch: DataFrame,
    index: DataFrame,
    chunk_words: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental sub-document dedup: tile the NEW batch, drop every
    tile already in the standing ``index`` (chunk_hash column from
    chunk_index) OR already emitted earlier in this batch (first
    occurrence by id, then position — chunk_dedup's rule), and
    reassemble. Same output shape as chunk_dedup; the standing corpus
    text is never rescanned.

    Scale shape: one batch scan; the seen-screen is a left anti-style
    join keyed on the BIGINT tile hash (AQE broadcasts the smaller
    side; in steady state that is the batch's tile list, so the
    billion-row index is not shuffled), then the within-batch
    first-occurrence window runs on the index-surviving remainder only.
    """
    from pyspark.sql import Window

    toks = (
        batch.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
    )
    nch = F.ceil(F.size("_w") / F.lit(float(chunk_words))).cast("int")
    tiles = F.transform(
        F.sequence(F.lit(1), nch),
        lambda i: F.struct(
            i.cast("int").alias("cidx"),
            F.array_join(
                F.slice("_w", (i - 1) * chunk_words + 1, chunk_words), " "
            ).alias("chunk"),
        ),
    )
    chunks = (
        toks.select(id_col, F.explode(tiles).alias("c"))
        .select(id_col, "c.cidx", "c.chunk")
        .filter(F.length("chunk") > 0)
        .withColumn("chunk_hash", F.xxhash64("chunk"))
    )
    seen = index.select(F.col("chunk_hash")).distinct()
    flagged = chunks.join(
        seen.withColumn("_seen", F.lit(True)), "chunk_hash", "left"
    )
    rn = F.row_number().over(
        Window.partitionBy("chunk_hash").orderBy(id_col, "cidx")
    )
    flagged = flagged.withColumn(
        "_keep", F.col("_seen").isNull() & (rn == 1)
    )
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.when(F.col("_keep"), F.struct("cidx", "chunk")))
        ),
        lambda s: s["chunk"],
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(ordered, " ").alias("text_dedup"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_removed"),
    )


def cross_source_matrix(
    df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Cross-source near-duplicate contamination matrix: for every pair
    of sources, how many Jaccard-verified near-dup pairs straddle them —
    the provenance report behind licensing risk ("our crawl duplicates
    that licensed set"), mixture double-counting (two sources carrying
    the same text get 2x weight), and scrape-of-a-scrape detection.
    Diagonal rows (source_a = source_b) report within-source duplication.

    Pipeline: LSH candidates (banded, bucket-bounded — never all-pairs)
    -> exact-Jaccard verification on the candidate set only ->
    source attribution via two joins on the (id, source) projection ->
    symmetric-canonical (least, greatest) source-pair aggregation.

    Output: (source_a <= source_b, n_pairs, mean_jaccard). The mean is
    summed in exact integer micro-units of the q6-quantized per-pair
    Jaccard, so partial-aggregation order cannot perturb the result.

    Scale shape: everything after candidate generation is
    candidate-pair-sized; the (id, source) side is a column-pruned
    projection joined twice (broadcast-eligible against the pair set).
    """
    from ticktock_spark.queries import q6

    # One persisted shingle computation feeds candidate generation, the
    # verify stage's size prescreen, and the exact intersections — the
    # shingles_df sharing contract both callees document. CacheManager
    # note as elsewhere: long-lived sessions reclaim with clearCache().
    sh = (
        spread_scan(df, df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col), shingles(F.col(text_col), k).alias("sh"))
        .persist()
    )
    cand = minhash_lsh_candidates(
        df,
        text_col=text_col,
        id_col=id_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        shingles_df=sh,
    )
    ver = verify_jaccard(
        df,
        cand,
        text_col=text_col,
        id_col=id_col,
        k=k,
        threshold=threshold,
        shingles_df=sh,
    )
    srcs = df.select(F.col(id_col), F.col(source_col))
    pairs = (
        ver.select("id_a", "id_b", q6(F.col("jaccard")).alias("__j"))
        .join(
            srcs.select(F.col(id_col).alias("id_a"), F.col(source_col).alias("__sa")),
            "id_a",
        )
        .join(
            srcs.select(F.col(id_col).alias("id_b"), F.col(source_col).alias("__sb")),
            "id_b",
        )
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
            F.floor(F.col("__j") * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("long")
            .alias("__jm"),
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("__jm").alias("__sj"))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            (
                F.col("__sj").cast("double")
                / F.col("n_pairs").cast("double")
                / F.lit(1_000_000.0)
            ).alias("mean_jaccard"),
        )
    )


def _band_keys_frame(
    sh_df: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, sh) shingle frame → (id, band, key) LSH band-key rows in
    the Arrow/hashlib md5 scheme (hex string keys, the q34 oracle's
    scheme)."""
    sh = sh_df.filter(F.element_at(F.col("sh"), 1).isNotNull())
    id_type = dict(sh_df.dtypes)[id_col]
    return sh.mapInPandas(
        _banded_pandas(num_hashes, bands, num_hashes // bands, id_col),
        schema=f"{id_col} {id_type}, band int, key string",
    )


def tile_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    window_words: int = 24,
    stride: int | None = None,
) -> DataFrame:
    """(id, band, key) LSH band keys for the overlapping word-window
    TILES of every document longer than ``window_words`` words — each
    tile signed and banded exactly like a standalone document (the
    windowed-containment candidate unit). DISTINCT per (id, band, key):
    adjacent tiles of a repetitive doc often share keys.

    Factored out of ``windowed_containment_candidates`` so standing
    corpus tile indexes can be built once and joined against arriving
    documents (streaming/containment.py)."""
    stride = int(stride) if stride else max(1, window_words // 2)
    par = df.sparkSession.sparkContext.defaultParallelism
    # Long-doc filter WITHOUT touching the split array: size(split(t,
    # " ")) == #spaces + 1 exactly (single-space literal split; Spark's
    # split keeps trailing empty strings, limit -1), so `size(_w) >
    # window_words` == `#spaces >= window_words`. Filtering on the
    # split-size alias instead re-inlined the whole split into the
    # pushed-down predicate — the split evaluated once in the Filter at
    # the scan and again in the projection (the §2.4 single-evaluation
    # defect class, r11 verdict leftover) — and kept short docs flowing
    # through the spread exchange. The length/translate form is a cheap
    # scan-pushable predicate, evaluated nowhere else.
    n_spaces = F.length(F.col(text_col)) - F.length(
        F.translate(F.col(text_col), " ", "")
    )
    base = df.filter(
        F.col(text_col).isNotNull() & (n_spaces >= int(window_words))
    )
    long_docs = spread_scan(base, par).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    )
    starts = F.sequence(F.lit(1), F.size("_w"), F.lit(stride))
    tiles = (
        long_docs.select(
            id_col,
            F.explode(
                F.transform(
                    starts,
                    lambda st: F.array_join(
                        F.slice("_w", st, window_words), " "
                    ),
                )
            ).alias("tile"),
        )
        .filter(F.length("tile") > 0)
    )
    tile_sh = tiles.select(
        F.col(id_col), shingles(F.col("tile"), k).alias("sh")
    )
    return _band_keys_frame(tile_sh, id_col, num_hashes, bands).distinct()


def windowed_containment_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    window_words: int = 24,
    stride: int | None = None,
    shingles_df: DataFrame | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Short-in-long candidate pairs that whole-document LSH misses.

    A short document quoted inside a long one has containment ~1 but
    tiny Jaccard, so the two WHOLE-document MinHash signatures almost
    never band-collide. Fix (the chunk_dedup tiling idea applied to LSH):
    slice every document longer than ``window_words`` words into
    OVERLAPPING word windows (stride defaults to window_words/2 so a
    quote is never split across all covering tiles), band-key each tile
    like a standalone document, and join TILE keys against WHOLE-document
    keys — the tile covering the quote is near-identical to the quoted
    short doc, so they collide at full MinHash strength.

    Output: (id_a < id_b) DISTINCT candidate pairs — feed to the same
    exact containment verification as the plain pass (the short doc's
    shingle set is nearly a subset of the long doc's FULL set, so
    verification never needs the tiles; only candidate recall did).

    Scale shape: tiling multiplies scan-side hash work by
    ~words/stride (bounded, data-independent fan-out); the join is the
    same banded-key hash join as LSH with ``bucket_cap`` available as
    the viral-template backstop (cap enforced on whole-doc key
    frequency — a hot template key is dropped from BOTH sides before
    the join). Tiles and documents are hashed in the md5 scheme the
    DuckDB oracle mirrors.
    """
    stride = int(stride) if stride else max(1, window_words // 2)
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.filter(F.col(text_col).isNotNull())
    if shingles_df is None:
        shingles_df = spread_scan(base, par).select(
            F.col(id_col), shingles(F.col(text_col), k).alias("sh")
        )
    doc_keys = _band_keys_frame(shingles_df, id_col, num_hashes, bands)
    if bucket_cap is not None:
        hot = (
            doc_keys.groupBy("band", "key")
            .agg(F.countDistinct(id_col).alias("_n"))
            .filter(F.col("_n") > int(bucket_cap))
            .select("band", "key")
        )
        doc_keys = doc_keys.join(hot, ["band", "key"], "left_anti")
    tile_keys = tile_band_keys(
        base,
        text_col=text_col,
        id_col=id_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        window_words=window_words,
        stride=stride,
    )
    if bucket_cap is not None:
        tile_keys = tile_keys.join(hot, ["band", "key"], "left_anti")
    t = tile_keys.select(
        F.col(id_col).alias("_tid"), "band", "key"
    )
    d = doc_keys.select(F.col(id_col).alias("_did"), "band", "key")
    return (
        t.join(d, ["band", "key"])
        .filter(F.col("_tid") != F.col("_did"))
        .select(
            F.least("_tid", "_did").alias("id_a"),
            F.greatest("_tid", "_did").alias("id_b"),
        )
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    windowed: bool = False,
    window_words: int = 24,
    stride: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Asymmetric CONTAINMENT detection: |A∩B| / min(|A|, |B|) >= t —
    the excerpt/quote relation Jaccard misses (a paragraph quoted inside
    a long article has tiny Jaccard but containment ~1). Broder's
    containment coefficient over the same k-gram shingle sets as the
    Jaccard pipeline; output says WHICH side is contained
    (``contained`` = 'a', 'b', or 'both' when sizes tie or each clears
    the bar relative to its own size).

    Candidates come from the whole-document LSH pass, whose MinHash
    recall for high containment with SKEWED sizes is weak (a 24-word
    quote inside a 200-word article barely moves the article's
    signature). ``windowed=True`` unions in
    ``windowed_containment_candidates`` — overlapping word-window tiles
    of the long side band-joined against whole-doc keys — which
    recovers exactly those short-in-long pairs (pinned by a planted
    fixture in tests/test_pipeline.py that the plain pass provably
    misses). Verification is exact and candidate-bounded either way,
    sharing one persisted shingle frame.

    Output: (id_a < id_b, inter, n_a, n_b, containment, contained).
    """
    sh = (
        spread_scan(df, df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col), shingles(F.col(text_col), k).alias("sh"))
        .persist()
    )
    cand = minhash_lsh_candidates(
        df, text_col=text_col, id_col=id_col, k=k,
        num_hashes=num_hashes, bands=bands, shingles_df=sh,
    ).select("id_a", "id_b")
    if windowed:
        cand = cand.union(
            windowed_containment_candidates(
                df, text_col=text_col, id_col=id_col, k=k,
                num_hashes=num_hashes, bands=bands,
                window_words=window_words, stride=stride,
                shingles_df=sh, bucket_cap=bucket_cap,
            )
        ).distinct()
    joined = (
        cand.select("id_a", "id_b")
        .join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    cont = F.col("inter").cast("double") / F.least("n_a", "n_b").cast("double")
    out = joined.withColumn("containment", cont).filter(
        F.col("containment") >= F.lit(float(threshold))
    )
    side = (
        F.when(F.col("n_a") < F.col("n_b"), F.lit("a"))
        .when(F.col("n_b") < F.col("n_a"), F.lit("b"))
        .otherwise(F.lit("both"))
    )
    return out.select("id_a", "id_b", "inter", "n_a", "n_b", "containment", side.alias("contained"))


def dedup_threshold_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.5, 0.6, 0.7, 0.8, 0.9),
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Operating-point sweep for the near-dup Jaccard cut: at each
    candidate threshold t, how many verified pairs clear it and how many
    documents the keep-lowest-id rule would remove — the dedup
    counterpart of classify.threshold_sweep, read before committing a
    pipeline's jaccard threshold (q77's dedup_pipeline default).

    ``n_removable`` uses the closure-free keep-first rule (a doc is
    removed iff it pairs at >= t with any LOWER id); it lower-bounds the
    connected-components closure count but is exactly SQL-checkable and
    monotone in t, which is what threshold selection needs.

    Scale shape: ONE candidate+verify pass at min(thresholds) (the size
    prescreen bounds verification work), then a constant |thresholds|
    fan-out over the verified pairs (pair-scale, not corpus-scale).
    """
    lo = min(float(t) for t in thresholds)
    # one persisted shingle frame across candidates + verify (the
    # cross_source_matrix sharing shape; unshared, the audit shows the
    # corpus text scanned twice just to re-derive shingles)
    sh = (
        spread_scan(df, df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col), shingles(F.col(text_col), k).alias("sh"))
        .persist()
    )
    ver = verify_jaccard(
        df,
        minhash_lsh_candidates(
            df, text_col=text_col, id_col=id_col, k=k,
            num_hashes=num_hashes, bands=bands, shingles_df=sh,
        ),
        text_col=text_col,
        id_col=id_col,
        k=k,
        threshold=lo,
        shingles_df=sh,
    )
    t = F.explode(F.array(*[F.lit(float(x)) for x in thresholds])).alias("threshold")
    fanned = ver.select("id_a", "id_b", "jaccard", t).filter(
        F.col("jaccard") >= F.col("threshold")
    )
    return fanned.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("id_b").alias("n_removable"),
    )


def release_delta(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Corpus release delta report: corpus_diff's per-doc statuses
    rolled up per (source, status) with the TOKEN mass each class moves
    — the release-engineering numbers next to the diff ("src3 grew 2M
    tokens, 40% of it rewrites"). Token delta per doc is
    new_tokens - old_tokens (added: +new, removed: -old, changed: the
    difference, unchanged: 0), so summing a source's rows gives its net
    token drift between versions.

    Shuffle carries (id, digest, tokens, source) — still never the
    text; one md5+token scan per side, one id join, one bounded
    (source x status) aggregation. All outputs exact integers.
    """
    from ticktock_spark.pipeline.text import token_count

    o = old.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("__old"),
        token_count(F.col(text_col)).cast("long").alias("__to"),
        F.col(source_col).alias("__so"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("__new"),
        token_count(F.col(text_col)).cast("long").alias("__tn"),
        F.col(source_col).alias("__sn"),
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, id_col, "full_outer")
    in_old = F.coalesce(F.col("__in_old"), F.lit(False))
    in_new = F.coalesce(F.col("__in_new"), F.lit(False))
    status = (
        F.when(in_old & ~in_new, F.lit("removed"))
        .when(~in_old & in_new, F.lit("added"))
        .when(
            F.coalesce(F.col("__old"), F.lit("\x00"))
            == F.coalesce(F.col("__new"), F.lit("\x00")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    per = j.select(
        F.coalesce(F.col("__sn"), F.col("__so")).alias("source"),
        status.alias("status"),
        (F.coalesce(F.col("__tn"), F.lit(0)) - F.coalesce(F.col("__to"), F.lit(0))).alias(
            "__td"
        ),
    )
    return per.groupBy("source", "status").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("__td").alias("token_delta")
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text — the shingle unit
    most production dedup stacks use (RefinedWeb/Gopher-style word
    5-grams vs this module's default char 5-grams: word shingles are
    robust to intra-word edits and make |shingle set| ~ token count
    instead of ~ char count). Documents with fewer than ``n`` tokens
    yield their full token sequence as one shingle.

    Slots directly into the LSH stack via the ``shingles_df`` parameter
    of minhash_lsh_candidates / verify_jaccard (both treat the shingle
    set as opaque strings).
    """
    return F.array_distinct(
        F.flatten(
            F.transform(
                F.array(F.split(normalize_text(text), r"\s+")),
                lambda tk: F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size(tk) - F.lit(n - 1), F.lit(1))
                    ),
                    lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
                ),
            )
        )
    )


def benchmark_grams(
    benchmark: DataFrame,
    n: int = 13,
    bench_text_col: str = "text",
) -> DataFrame:
    """The benchmark side of ``decontaminate`` on its own: the eval
    suite collapsed to DISTINCT word n-grams (one STRING ``gram``
    column). Derive once per eval-suite version, persist (or write to
    parquet) and hand to ``decontaminate(bench_grams_df=...)`` — eval
    suites are model-scale next to a training corpus, so this is the
    natural broadcast-side artifact to cache."""
    return (
        benchmark.filter(F.col(bench_text_col).isNotNull())
        .select(F.explode(word_shingles(F.col(bench_text_col), n)).alias("gram"))
        .distinct()
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame | None,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    hash_grams: bool = False,
    bench_grams_df: DataFrame | None = None,
) -> DataFrame:
    """Eval-set decontamination: flag training documents that share any
    word ``n``-gram with a benchmark/eval corpus — the GPT-3 appendix-C
    / Llama eval-decontamination method (13-gram overlap; pass a
    smaller ``n`` for short-document corpora). Exact-overlap screening
    is the published standard because eval leakage is about literal
    strings, not near-duplicates.

    Output: one row per CONTAMINATED training doc
    (id, n_hits = distinct shared n-grams, n_grams = the doc's distinct
    n-gram count, hit_ratio) — anti-join the ids to drop, or audit the
    ratios first (a single boilerplate collision ≠ a leaked test item).

    Scale shape: the benchmark side collapses to DISTINCT n-grams (eval
    suites are tiny next to a training corpus — typically broadcastable;
    Spark/AQE picks broadcast vs shuffle from its measured size), the
    corpus side is ONE scan + explode + distinct: the bench grams
    LEFT-join onto the doc grams with a hit marker, and a single per-doc
    groupBy reads both ``n_grams`` (count of all grams) and ``n_hits``
    (count of marked grams) from that one pass — no re-execution of the
    corpus subtree for the totals. ``hash_grams=True`` swaps
    n-gram strings for xxhash64 values on BOTH sides before the
    shuffle — ~an-order-of-magnitude narrower exchange at 100 TB, with
    the 64-bit collision caveat (a collision only ever ADDS a hit —
    screening stays conservative). String grams are the cross-engine
    spec the DuckDB oracle mirrors.

    ``bench_grams_df`` (a distinct STRING ``gram`` column, e.g. from
    ``benchmark_grams``) replaces the internal benchmark derivation —
    for callers that screen many corpora/micro-batches against one eval
    suite and want the bench side derived once and persisted, not
    recomputed per call. ``benchmark`` is ignored when it is given.
    """
    grams = lambda c: F.explode(word_shingles(c, n)).alias("gram")  # noqa: E731
    # NO .distinct() after the explode: word_shingles is array_distinct
    # per doc and id_col identifies the doc, so (id, gram) rows are
    # already unique — the removed distinct was a full exchange of the
    # exploded gram lineage that deduped nothing (r11 plan audit). The
    # spread_scan replaces the parallelism that exchange incidentally
    # provided, at doc-row cost instead of gram-row cost (no-op once the
    # scan has enough splits).
    src = spread_scan(
        df.filter(F.col(text_col).isNotNull()),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    doc_grams = src.select(F.col(id_col), grams(F.col(text_col)))
    bench_grams = (
        benchmark_grams(benchmark, n=n, bench_text_col=bench_text_col)
        if bench_grams_df is None
        else bench_grams_df.select("gram")
    )
    if hash_grams:
        doc_grams = doc_grams.select(id_col, F.xxhash64("gram").alias("gram"))
        bench_grams = bench_grams.select(F.xxhash64("gram").alias("gram"))
    # single corpus pass: bench grams are distinct, so the left join is
    # 1:≤1 per doc gram — count(*) is the doc's gram total and
    # count(__hit) its shared-gram count, from the same groupBy
    marked = doc_grams.join(
        bench_grams.withColumn("__hit", F.lit(1)), "gram", "left"
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("__hit").cast("long").alias("n_hits"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .filter(F.col("n_hits") > 0)
        .select(
            id_col,
            "n_hits",
            "n_grams",
            (F.col("n_hits").cast("double") / F.col("n_grams")).alias(
                "hit_ratio"
            ),
        )
    )


def _doc_grams(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """One row per (doc, DISTINCT word n-gram) — the shared base of the
    corpus-internal gram statistics below (one scan + explode; no
    .distinct() needed — word_shingles is array_distinct per doc and
    id_col identifies the doc, so the exploded rows are already unique;
    a distinct here was a full exchange that deduped nothing). The
    spread_scan keeps the shingle/explode work off a single task when
    the scan is one small file (no-op at scale)."""
    src = spread_scan(
        df.filter(F.col(text_col).isNotNull()),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    return src.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("gram"),
    )


def gram_duplication(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-internal duplicated-text mass per document: of a doc's
    distinct word ``n``-grams, the fraction that also occur in at least
    one OTHER document — the signal behind exact-substring training-data
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better"): a doc can be nobody's near-duplicate (q34/q88 see
    nothing) yet be assembled almost entirely from corpus-common
    boilerplate, and this ratio is what catches it.

    Output: one row per non-null-text doc
    (id, n_grams, n_dup, dup_ratio).

    Scale shape — SKEW-FREE by construction: a gram is duplicated
    (df ≥ 2) exactly when it is NOT unique to one doc, so
    n_dup = n_grams − (# grams whose ONLY holder is this doc). Both
    sides are map-side-combinable groupBys over the exploded lineage:
    partial aggregation folds a stop-word gram present in 1% of 10¹⁰
    docs down to ONE row per map task before the exchange, where the
    previous `count() over (partition by gram)` window form put all
    ~10⁸ occurrences of that hot gram through a single un-splittable
    window task (AQE splits skewed joins, not window partitions). No
    pairwise comparison anywhere, so cost is corpus-linear where
    pair-based dedup is quadratic in cluster size. Skew proof:
    tools/robust_scale_stress.py plants one gram in 50% of docs at 8×
    — SCALE.md gram-skew row.

    SINGLE-LINEAGE by a per-doc sentinel gram (r11): the per-doc
    n_grams count and the per-gram uniqueness reduction used to be two
    consumers of the shingle frame — a derived-DataFrame diamond, so
    the corpus scan AND the shingle regex work executed twice, stitched
    back by a doc-keyed join. Prepending one sentinel gram
    `"\\x01" + id` per doc (normalize_text output is [a-z0-9 ] only, so
    no real gram can ever equal it; ids are unique per the one-row-per-
    doc contract, so every sentinel has document frequency exactly 1)
    makes the gram-keyed reduction itself recover the doc spine: every
    doc owns at least its sentinel as a unique gram, so the
    unique-grams-per-doc regroup sees every doc, n_uniq = count − 1,
    and n_grams rides along (each exploded row carries its doc's
    size(__sh); a unique gram's single row necessarily belongs to the
    counted doc). One scan, one shingle evaluation, two exchanges
    (gram, doc), zero joins.
    """
    src = spread_scan(
        df.filter(F.col(text_col).isNotNull()),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    sh = src.select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("__sh")
    )
    dg = sh.select(
        F.col(id_col),
        F.size("__sh").alias("__ng"),
        F.explode(
            F.concat(
                F.array(F.concat(F.lit("\x01"), F.col(id_col).cast("string"))),
                F.col("__sh"),
            )
        ).alias("gram"),
    )
    uniq = (
        dg.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("gdf"),
            F.min(id_col).alias("only_doc"),
            F.min("__ng").alias("__ng"),
        )
        .filter(F.col("gdf") == 1)
        .groupBy(F.col("only_doc").alias(id_col))
        .agg(
            F.min("__ng").cast("long").alias("n_grams"),
            (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("n_uniq"),
        )
    )
    n_dup = F.col("n_grams") - F.col("n_uniq")
    return uniq.select(
        F.col(id_col),
        "n_grams",
        n_dup.cast("long").alias("n_dup"),
        (n_dup.cast("double") / F.col("n_grams")).alias("dup_ratio"),
    )


def gram_novelty(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """First-occurrence novelty per document: the fraction of a doc's
    distinct word ``n``-grams whose FIRST appearance (minimum doc id —
    ingest order under monotone ids) is this document. The incremental-
    curation gate: when a crawl batch lands, high-novelty docs add new
    text while low-novelty ones restate what the corpus already has —
    the intake twin of ``gram_duplication`` (which is symmetric and
    order-free).

    Output: one row per non-null-text doc
    (id, n_grams, n_new, novelty).

    Scale shape — SKEW-FREE, same construction as gram_duplication: a
    doc's n_new is the count of grams whose corpus-wide min(id) IS this
    doc, and min(id) per gram is a map-side-combinable groupBy — a hot
    gram folds to one row per map task before the exchange (the
    previous `min() over (partition by gram)` window put every
    occurrence of a stop-word gram through one un-splittable window
    task). Re-keying that per-gram result by its first_id doc gives the
    per-doc novelty counts at document cardinality.

    SINGLE-LINEAGE via the gram_duplication sentinel (r11): each doc's
    `"\\x01" + id` sentinel gram has min(id) = the doc itself, so the
    first-occurrence regroup sees every doc (n_new = count − 1) and the
    doc's n_grams rides the lineage as min_by(__ng, id) — the min-id
    row of a gram's group IS the first_id doc, so the carried __ng is
    that doc's gram count. One scan, one shingle evaluation, zero
    joins (was: two of each plus a doc-keyed join).
    """
    src = spread_scan(
        df.filter(F.col(text_col).isNotNull()),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    sh = src.select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("__sh")
    )
    dg = sh.select(
        F.col(id_col),
        F.size("__sh").alias("__ng"),
        F.explode(
            F.concat(
                F.array(F.concat(F.lit("\x01"), F.col(id_col).cast("string"))),
                F.col("__sh"),
            )
        ).alias("gram"),
    )
    firsts = (
        dg.groupBy("gram")
        .agg(
            F.min(id_col).alias("first_id"),
            F.min_by("__ng", F.col(id_col)).alias("__ng"),
        )
        .groupBy(F.col("first_id").alias(id_col))
        .agg(
            F.min("__ng").cast("long").alias("n_grams"),
            (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("n_new"),
        )
    )
    return firsts.select(
        F.col(id_col),
        "n_grams",
        "n_new",
        (F.col("n_new").cast("double") / F.col("n_grams")).alias("novelty"),
    )


def decontaminate_rarity(
    df: DataFrame,
    benchmark: DataFrame | None,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_grams_df: DataFrame | None = None,
) -> DataFrame:
    """Rarity-weighted decontamination: like ``decontaminate``, but each
    gram carries an integer inverse-document-frequency weight
    ``1_000_000 // df`` (df = the gram's training-corpus document
    frequency), so sharing a RARE gram with the benchmark — a verbatim
    test item — dominates sharing ubiquitous boilerplate n-grams that
    hit half the corpus. The unweighted hit_ratio treats both alike;
    the weighted ratio is the audit-before-drop ranking that surfaces
    true leaks first.

    Integer weights (floor division), not ln-based IDF: exact, engine-
    independent, and order-free under summation — the same discipline
    as the micro-unit sums elsewhere. The weight clamps to ≥ 1
    (``greatest(1, 1_000_000 div gdf)``): past a million-doc document
    frequency the unclamped floor reaches 0, and a contaminated doc
    built ONLY of such grams would divide w_hits by a zero w_grams —
    an ANSI DIVIDE_BY_ZERO job failure at exactly the corpus scale
    this module targets (NaN in DuckDB — a parity divergence too).

    Output: one row per CONTAMINATED training doc
    (id, n_hits, w_hits, w_grams, rarity_ratio = w_hits/w_grams,
    6-decimal).

    Scale shape: document frequencies come from a map-side-combinable
    ``groupBy(gram).count()`` — a hot stop-word gram folds to one row
    per map task before the exchange — joined back onto the exploded
    lineage on the gram key, where AQE's skew-join handling CAN split
    the hot gram's partition (it cannot split a window partition, which
    is why the previous `count() over (partition by gram)` form was the
    one 100×-design watch item in the r8 review). The join-back does
    re-execute the gram explode (two corpus scans of a 2-column
    projection) — the price of a splittable plan, and the cheaper side
    of the trade at web scale where one straggling window task costs
    minutes. Bench grams stay broadcast-scale.
    """
    dg = _doc_grams(df, n, text_col, id_col)
    bench = (
        benchmark_grams(benchmark, n=n, bench_text_col=bench_text_col)
        if bench_grams_df is None
        else bench_grams_df.select("gram")
    )
    gdf = dg.groupBy("gram").agg(F.count(F.lit(1)).alias("gdf"))
    # bench membership and the idf weight both resolve at VOCAB
    # cardinality, so attach them to the per-gram frame and probe the
    # lineage ONCE (r11): the previous weighted-then-marked form probed
    # the exploded lineage twice (gdf join, then bench join). Every dg
    # gram exists in gdf (built from the same dg), so the inner join's
    # row set is unchanged and each lineage row carries the same (w,
    # __hit) it did before.
    gw = gdf.join(bench.withColumn("__hit", F.lit(1)), "gram", "left").select(
        "gram",
        F.expr(
            "greatest(CAST(1 AS BIGINT), CAST(1000000 AS BIGINT) div gdf)"
        ).alias("w"),
        "__hit",
    )
    marked = dg.join(gw, "gram")
    q6 = lambda c: F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0  # noqa: E731
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("__hit").cast("long").alias("n_hits"),
            F.coalesce(
                F.sum(F.when(F.col("__hit").isNotNull(), F.col("w"))),
                F.lit(0),
            )
            .cast("long")
            .alias("w_hits"),
            F.sum("w").cast("long").alias("w_grams"),
        )
        .filter(F.col("n_hits") > 0)
        .select(
            id_col,
            "n_hits",
            "w_hits",
            "w_grams",
            q6(
                F.col("w_hits").cast("double") / F.col("w_grams").cast("double")
            ).alias("rarity_ratio"),
        )
    )


def dedup_yield_curve(
    df: DataFrame,
    thresholds: list[float] | None = None,
    num_hashes: int = 8,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Dedup strictness → yield curve: for each Jaccard threshold, how
    many verified near-dup pairs exist, how many docs participate, and
    how many the greedy keep-smallest-id rule would REMOVE — the table a
    curation run reads before committing to a threshold (0.9 trims true
    mirrors; 0.5 starts eating paraphrases; the curve shows where the
    knee is). One candidate+verify pass at the LOOSEST threshold, then
    pure re-binning: the expensive MinHash/LSH work is never repeated
    per threshold.

    ``n_removable`` is the one-pass rule "drop every doc that has ANY
    smaller-id verified partner" — deterministic, exact for clique-like
    clusters, and a CONSERVATIVE (lower-bound) estimate in general: a
    component's minimum id never qualifies, so the rule removes at most
    the m−1 the cluster-exact path would. That exact path is connected
    components (cluster.py / q77), which costs an iterative join this
    report deliberately avoids.

    Output: (threshold, n_pairs, n_docs, n_removable) — one row per
    threshold, ascending. A strictness level with ZERO qualifying pairs
    still gets its (t, 0, 0, 0) row — "tightening to 0.9 costs nothing
    here" is a decision-relevant datapoint.

    Scale shape: minhash_lsh_candidates' banded-key joins (never
    all-pairs; ``bucket_cap`` bounds degenerate band buckets) +
    verify_jaccard's exact check, computed ONCE at min(thresholds);
    the per-threshold re-bin is JOIN-FREE — one map-side-combinable
    groupBy over the pair ENDPOINTS (per-doc max-jaccard + per-
    threshold greater-endpoint counts), then a single global
    conditional aggregate unpivoted with ``stack``. No broadcast of
    the pair table, no re-executed LSH+verify lineage (a second
    aggregation branch over ``verified`` would re-run it — the
    expensive part this function promises runs once).
    """
    ts = sorted(float(t) for t in thresholds) if thresholds else [0.5, 0.7, 0.9]
    cand = minhash_lsh_candidates(
        df, num_hashes=num_hashes, bands=bands, text_col=text_col,
        id_col=id_col, k=k, bucket_cap=bucket_cap,
    )
    verified = verify_jaccard(
        df, cand, text_col=text_col, id_col=id_col, k=k, threshold=min(ts)
    )
    # explode each pair into its two endpoints; g=1 marks the greater
    # id (id_b > id_a by the candidate convention — the greedy
    # smaller-id-partner rule keys on it)
    ends = verified.select(
        "jaccard",
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("id"), F.lit(0).alias("g")),
                F.struct(F.col("id_b").alias("id"), F.lit(1).alias("g")),
            )
        ).alias("e"),
    )
    # per-doc frame (endpoint-scale, map-side combinable): the doc's
    # max jaccard over all its pairs (participates at t ⇔ mj ≥ t), the
    # max over pairs where it is the greater endpoint (removable at
    # t ⇔ mjg ≥ t), and per-threshold greater-endpoint pair counts
    # (each pair counted exactly once, at its greater endpoint)
    per_doc = ends.groupBy("e.id").agg(
        F.max("jaccard").alias("mj"),
        F.max(F.when(F.col("e.g") == 1, F.col("jaccard"))).alias("mjg"),
        *[
            F.count(
                F.when((F.col("e.g") == 1) & (F.col("jaccard") >= F.lit(t)), 1)
            ).alias(f"c{i}")
            for i, t in enumerate(ts)
        ],
    )
    aggs = []
    for i, t in enumerate(ts):
        aggs += [
            F.coalesce(F.sum(f"c{i}"), F.lit(0)).cast("long").alias(f"p{i}"),
            F.count(F.when(F.col("mj") >= F.lit(t), 1))
            .cast("long").alias(f"d{i}"),
            F.count(F.when(F.col("mjg") >= F.lit(t), 1))
            .cast("long").alias(f"r{i}"),
        ]
    one = per_doc.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t!r} AS DOUBLE), p{i}, d{i}, r{i}" for i, t in enumerate(ts)
    )
    return one.select(
        F.expr(
            f"stack({len(ts)}, {stack_args})"
            " as (threshold, n_pairs, n_docs, n_removable)"
        )
    )
