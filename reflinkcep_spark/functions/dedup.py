"""Deduplication at scale: exact, token-Jaccard, MinHash+LSH, SimHash.

Strategy ladder (cheapest first), each usable standalone:

1. ``exact_groups`` — hash-groupBy on a content digest.  One shuffle on
   the digest; the canonical first step of any 100 TB dedup run.
2. ``token_jaccard_pairs`` — exact set-similarity via an inverted-index
   join (explode tokens → join on token → count intersections).  A
   ``max_df`` cap drops ubiquitous tokens, which is what keeps the
   token join from quadratic blowup on stop-words (the classic
   prefix/blocking trick).
3. ``minhash_lsh_pairs`` — MinHash signatures + banded LSH buckets:
   candidates only need one shuffle per band, then exact verification
   on the (tiny) candidate set.  Sub-quadratic; recall < 1 by design.
4. ``simhash_pairs`` — 64-bit SimHash with banded Hamming search
   (4×16-bit bands find every pair within Hamming distance ≤ 3).

All signatures are deterministic (xxhash64 with per-permutation salts),
so runs are reproducible.  No driver-side collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from reflinkcep_spark.functions.text import distinct_tokens

__all__ = [
    "exact_groups",
    "exact_dedup",
    "token_jaccard_pairs",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_fingerprints",
    "simhash_pairs",
    "shingles",
    "duplicate_clusters",
    "incremental_dedup",
    "contaminated_docs",
    "contamination_matrix",
    "canonical_docs",
    "winnow_pairs",
    "substring_spans",
    "scrub_spans",
]


def exact_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content digest: the keeper (minimum id) and
    the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            (F.count(F.lit(1)) - F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (minimum id) per distinct content digest."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ASYMMETRIC exact dedup — the production INGEST shape the
    symmetric whole-corpus forms above don't cover: a new shard
    arrives, the existing corpus is FROZEN (its keepers never change,
    so it is never re-deduped), and each new document is classified
    against corpus ∪ earlier-in-batch:

    * ``dup_of_corpus`` — digest already exists in the corpus,
    * ``dup_in_batch`` — first seen in THIS shard, but a lower-id new
      document has the same digest,
    * ``new`` — the digest's first occurrence anywhere (the row the
      corpus index absorbs).

    Output: one row per new document — (id, text_hash, status).  The
    union of this operator applied shard-by-shard reproduces
    :func:`exact_dedup` of the whole history (keep-lowest-id), which
    is the correctness contract a nightly crawl refresh needs and the
    batch twin of the ``dedup_exact_docs_stream`` streaming entry
    (dropDuplicates keyed state = this operator with per-row shards).

    Scale shape: the corpus side is projected to its ~16-byte digest
    BEFORE the join (never the text), the membership test is a
    digest-keyed LEFT SEMI-shaped join (broadcast when the index is
    small, shuffle on the digest at 100 TB — both sides are
    digest-keyed, nothing else moves), and the in-batch rule is ONE
    digest-keyed MIN aggregate joined back — map-side combinable.
    """
    # NULL text ⇒ NULL digest ⇒ the first_in_batch inner join silently
    # DROPS the row (NULL keys match nothing) — an ingest pipeline
    # would lose the document instead of classifying it, so raise
    # in-plan (the cms_estimates NULL-key rail).
    new_hashed = new_docs.select(
        F.col(id_col),
        F.when(
            F.col(text_col).isNull(),
            F.raise_error(
                f"incremental_dedup: NULL {text_col} in the new shard "
                "cannot be classified (NULL digests match nothing) — "
                "filter or fill first"
            ),
        ).otherwise(F.md5(F.col(text_col))).alias("text_hash"),
    )
    corpus_digests = corpus.select(
        F.md5(F.col(text_col)).alias("text_hash"),
        F.lit(True).alias("__in_corpus"),
    ).distinct()
    first_in_batch = new_hashed.groupBy("text_hash").agg(
        F.min(id_col).alias("__first_id")
    )
    return (
        new_hashed.join(corpus_digests, "text_hash", "left")
        .join(first_in_batch, "text_hash")
        .select(
            id_col,
            "text_hash",
            F.when(F.col("__in_corpus"), F.lit("dup_of_corpus"))
            .when(F.col(id_col) > F.col("__first_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def shingles(col, n: int = 3):
    """Word n-gram shingles as strings (for MinHash).

    Tokens are bound once per row (text.bind1) before the per-position
    transform — inlined in the lambda, the HOF re-evaluates the whole
    tokenizer per shingle position (round 14, measured 9× on the
    decontam gram pipeline; same fix as text.ngrams)."""
    from reflinkcep_spark.functions.text import bind1, tokens

    def _inner(toks):
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        return F.when(F.size(toks) >= n, F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
        )).otherwise(F.array_distinct(F.array(F.array_join(toks, " "))))

    return bind1(tokens(col), _inner)


def _hash64(col, hash_fn: str = "xxhash64"):
    """64-bit feature hash.  ``xxhash64`` is the production default
    (fastest, JVM-native).  ``md5`` derives a 60-bit positive long from
    the md5 hex digest — bit-identical to DuckDB's
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``, which is what makes the
    sketch queries oracle-checkable cross-engine."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _n_docs(df: DataFrame) -> DataFrame:
    """Single-row ``__n_docs`` frame: the ``max_df`` cap's denominator,
    computed IN-PLAN (broadcast cross join of a count aggregate), never
    via a driver-side ``df.count()`` action.  Defined as TOTAL input
    documents — predictable for the caller, and a doc contributing zero
    features can't pair with anything anyway.

    Counts the PRE-``spread`` frame when the caller handed us a
    round-robin-repartitioned scan (round 14): the count is
    partitioning-invariant, and aggregating the bare scan instead of
    the repartition output drops a full-corpus exchange of the text
    column (the broadcast side must materialize before the posting
    filter, so that exchange sat on the critical path — measured
    +0.72 s on the sf0.1 n-gram row)."""
    df = getattr(df, "_pre_spread", df)
    return df.agg(F.count(F.lit(1)).alias("__n_docs"))


def token_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: float | None = None,
) -> DataFrame:
    """Exact distinct-token Jaccard ≥ threshold, via inverted-index join.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.  See
    :func:`_jaccard_from_features` for the ``max_df`` cap semantics.
    """
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(distinct_tokens(F.col(text_col))).alias("tok"),
    )
    sizes = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(distinct_tokens(F.col(text_col))).alias("n"),
    )
    return _jaccard_from_features(
        ex, "tok", threshold, sizes=sizes, max_df=max_df,
        n_docs=_n_docs(df) if max_df is not None else None,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: float | None = 0.1,
) -> DataFrame:
    """Exact word-n-gram (shingle) Jaccard ≥ threshold via an
    inverted-index join over shingles — the discriminative variant of
    :func:`token_jaccard_pairs` for small-vocabulary corpora.

    ``max_df`` (default 10%) caps shingles present in more docs than
    that fraction — without it a single ubiquitous shingle (a boiler-
    plate sentence, a license header) makes the posting-list expansion
    quadratic in corpus size.  See :func:`_jaccard_from_features` for
    the exact cap semantics; pass ``max_df=None`` for the uncapped
    exact join.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # Shuffle 8-byte shingle hashes, not ~20-char strings: same exact
    # Jaccard (collision odds ~ |vocab|²/2⁶⁴), smaller exchange, faster
    # group-hashing — the right trade at any corpus size.
    hashed = F.transform(shingles(F.col(text_col), n), lambda s: F.xxhash64(s))
    # The explode is FUSED into the same select as the shingle
    # pipeline: staging the array through its own projection and
    # exploding the alias measured 3× slower for the identical work
    # (the staged array is materialized as an UnsafeArrayData row
    # before the Generate instead of feeding it directly).
    ex = df.select(F.col(id_col).alias("doc_id"), F.explode(hashed).alias("g"))
    # Sizes derive from the SAME exploded frame instead of a second
    # row-wise size projection (round 14): the row-wise form re-ran
    # the whole scan → shingle → hash pipeline — a full extra corpus
    # pass (~0.8 s of the ~2 s row at sf0.1; one less 100-TB scan at
    # scale) — while `hashed` is already array_distinct'd, so the
    # per-doc explode row count IS size(hashed) exactly.  The lazy
    # checkpoint guarantees the feature pipeline executes once for the
    # posting aggregate AND the size count (two different keys — no
    # exchange to share; the count agg is map-side combinable, a
    # doc-keyed exchange of pre-aggregated longs).  A doc absent from
    # `ex` (NULL text) had a NULL size before and cannot appear in a
    # pair (no features → no postings), so the inner size-joins are
    # unchanged.
    ex = ex.localCheckpoint(eager=False)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return _jaccard_from_features(
        ex, "g", threshold, sizes=sizes, max_df=max_df,
        n_docs=_n_docs(df) if max_df is not None else None,
    )


def _jaccard_from_features(
    ex: DataFrame,
    feat_col: str,
    threshold: float,
    *,
    sizes: DataFrame,
    max_df: float | None = None,
    n_docs: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard ≥ threshold from an exploded (doc_id, feature)
    frame plus a row-wise (doc_id, n) set-size frame.

    Inverted-index shape WITHOUT a self-join: group by feature into
    posting lists of PLAIN doc_id longs, expand in-list pairs
    JVM-side, count co-occurrences, then attach the set sizes —
    computed row-wise from the feature arrays, no aggregation — via
    two joins against the (tiny, post-aggregation) pair frame.

    Two shapes that look reasonable and measured worse at sf0.1:
    * deriving sizes from the posting aggregate itself (the "share the
      exchange" instinct): Spark refuses exchange reuse under
      ``collect_list`` (flagged order-nondeterministic → ``sameResult``
      fails), so every extra consumer silently re-runs the whole
      scan→feature→explode→shuffle pipeline — 3 full scans, ~2× slower;
    * carrying ``(doc_id, n_doc)`` structs inside the posting lists to
      skip the size joins: the quadratic pair expansion then builds
      4-field structs instead of 2-long structs in its innermost loop —
      2.6× slower end-to-end.  The expansion is the hot loop; keep it
      primitive.
    The classic feature-column self-join is worse than either (build
    side left to AQE, measured 2-11s flapping at sf0.1).

    Posting-list length is the quadratic knob of every inverted-index
    similarity join — Σ|posting|² work — so the ``max_df`` ubiquity cap
    filters the posting-list aggregate itself
    (``size(ids) <= max_df·n_docs``).  Cap semantics: a capped feature
    no longer counts as evidence of similarity (it leaves the
    intersection) but still counts toward each document's size, so the
    reported score is a LOWER bound of true Jaccard that ignores
    boilerplate — with no hot features it is exactly true Jaccard.
    """
    posts = ex.groupBy(feat_col).agg(F.collect_list("doc_id").alias("ids"))
    if max_df is not None:
        posts = (
            posts.crossJoin(F.broadcast(n_docs))
            .filter(F.size("ids") <= F.col("__n_docs") * F.lit(max_df))
        )
    common = _pair_counts(posts.filter(F.size("ids") >= 2).select("ids"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _pair_counts(src: DataFrame) -> DataFrame:
    """Co-occurrence counts ``(doc_a, doc_b, n_common)`` with
    ``doc_a < doc_b`` from a one-column frame of posting lists
    (``ids``: array<long>, every list ≥ 2 elements, non-null).

    numpy ``mapInPandas`` kernel (round 14) instead of the old
    ``explode(filter(flatten(transform×transform)))`` expression:
    Catalyst higher-order functions are INTERPRETED (CodegenFallback),
    so the in-row cross paid |posting|² lambda dispatches plus struct
    boxing per element — measured +0.64 s of the sf0.1 n-gram row.
    The kernel stacks equal-length lists into one matrix, takes
    ``triu_indices`` column pairs, and (min, max)-normalizes — exactly
    the pairs the expression form emitted: for every index pair i<j
    one (smaller, larger) value pair, dropped when the values are
    equal (the a<b filter discarded both ordered combos).  It also
    pre-aggregates within each Arrow batch (lexsort + run-length),
    so the downstream exchange carries partial counts, not raw pairs —
    a map-side combine the Generate-based plan could not have.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("doc_a", LongType(), False),
            StructField("doc_b", LongType(), False),
            StructField("cnt", LongType(), False),
        ]
    )

    def _expand(pdf_iter):
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            arrs = pdf["ids"].tolist()
            lens = np.array([len(a) for a in arrs], dtype=np.int64)
            los: list = []
            his: list = []
            for m in np.unique(lens):
                rows = [
                    np.asarray(arrs[i], dtype=np.int64)
                    for i in np.nonzero(lens == m)[0]
                ]
                mat = np.vstack(rows)
                iu, ju = np.triu_indices(int(m), k=1)
                a = mat[:, iu].ravel()
                b = mat[:, ju].ravel()
                lo = np.minimum(a, b)
                hi = np.maximum(a, b)
                keep = lo != hi
                los.append(lo[keep])
                his.append(hi[keep])
            lo = np.concatenate(los) if los else np.empty(0, dtype=np.int64)
            hi = np.concatenate(his) if his else np.empty(0, dtype=np.int64)
            if not len(lo):
                continue
            order = np.lexsort((hi, lo))
            lo, hi = lo[order], hi[order]
            new = np.empty(len(lo), dtype=bool)
            new[0] = True
            np.logical_or(lo[1:] != lo[:-1], hi[1:] != hi[:-1], out=new[1:])
            starts = np.nonzero(new)[0]
            cnt = np.diff(np.append(starts, len(lo)))
            yield pd.DataFrame(
                {"doc_a": lo[starts], "doc_b": hi[starts], "cnt": cnt}
            )

    return (
        src.mapInPandas(_expand, out_schema)
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("cnt").alias("n_common"))
    )


def _np_xxh64_long(v, seed):
    """Spark's ``XXH64.hashLong`` vectorized over a uint64 numpy array
    (round 14): the exact single-8-byte-input XXH64 round Spark's
    ``xxhash64(<long col>)`` evaluates, verified bit-identical against
    ``F.xxhash64`` (integer arithmetic — no rounding concerns).
    ``seed`` is a np.uint64 scalar or array broadcastable to ``v``."""
    import numpy as np

    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)
    with np.errstate(over="ignore"):  # uint64 wrap-around is the point
        h = seed + P5 + np.uint64(8)
        k = v * P2
        k = (k << np.uint64(31)) | (k >> np.uint64(33))
        h = h ^ (k * P1)
        h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * P1 + P4
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= P3
        h ^= h >> np.uint64(32)
    return h


def _np_xxh64_int(i: int, seed: int):
    """Spark's ``XXH64.hashInt`` for one Python int (round 14): the
    4-byte variant ``xxhash64(F.lit(i), …)`` applies to an
    IntegerType literal before chaining — verified bit-identical."""
    import numpy as np

    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P5 = np.uint64(0x27D4EB2F165667C5)
    with np.errstate(over="ignore"):  # uint64 wrap-around is the point
        h = np.uint64(seed) + P5 + np.uint64(4)
        h = h ^ ((np.uint64(i) & np.uint64(0xFFFFFFFF)) * P1)
        h = ((h << np.uint64(23)) | (h >> np.uint64(41))) * P2 + P3
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= P3
        h ^= h >> np.uint64(32)
    return h


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document MinHash signature, single-pass and explode-free.

    Each shingle string is hashed ONCE (``xxhash64``); permutation ``i``
    is derived by re-hashing that fixed-width long with salt ``i`` —
    fixed-8-byte hashing is ~free next to string hashing, so total work
    is O(shingles + num_perm·shingles_long_hashes), not
    O(num_perm · string_hashes).  The whole signature is one
    ``aggregate``/``zip_with`` fold, so the (expensive) shingle
    expression appears exactly once in the plan — a naive
    ``array(array_min(transform(sh, …)) × num_perm)`` formulation gets
    the shingle subtree duplicated ``num_perm`` times by projection
    collapse and runs ~13× slower.

    No shuffle: signature generation is embarrassingly parallel per
    document, which is what you want in front of a 100 TB LSH join.
    """
    MAXL = (1 << 63) - 1
    hashed = F.transform(
        shingles(F.col(text_col), shingle_n), lambda s: _hash64(s, hash_fn)
    )

    if hash_fn == "xxhash64":
        # Production path (round 14): string shingles are hashed once
        # in the JVM (native xxhash64 codegen), then the
        # num_perm-permutation min-fold runs as a numpy mapInPandas
        # kernel instead of the old aggregate/zip_with expression —
        # Catalyst higher-order functions are INTERPRETED
        # (CodegenFallback), so the fold cost was num_perm × |shingles|
        # lambda dispatches per document (~16M for sf0.1, most of the
        # row's bench time).  The kernel computes the IDENTICAL salted
        # rehash — ``xxhash64(lit(i), h)`` = XXH64.hashInt(i, 42)
        # chained into XXH64.hashLong(h, ·), replicated bit-for-bit in
        # uint64 numpy (_np_xxh64_long/_np_xxh64_int, verified against
        # F.xxhash64) — and segment-min folds with SIGNED comparison
        # (F.least over longs), so signatures are bit-identical
        # (pinned by the pre/post-change snapshot test).
        import numpy as np
        import pandas as pd

        from pyspark.sql.types import (
            ArrayType,
            LongType,
            StructField,
            StructType,
        )

        src = df.select(F.col(id_col).alias("doc_id"), hashed.alias("__h"))
        out_schema = StructType(
            [
                StructField("doc_id", src.schema["doc_id"].dataType, True),
                StructField("signature", ArrayType(LongType()), True),
            ]
        )
        seeds = [_np_xxh64_int(i, 42) for i in range(num_perm)]

        def _sig_kernel(pdf_iter):
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                arrs = pdf["__h"].tolist()
                lens = np.array(
                    [len(a) if a is not None else 0 for a in arrs],
                    dtype=np.int64,
                )
                sigs: list = [None] * len(arrs)
                nz = np.nonzero(lens > 0)[0]
                if len(nz):
                    flat = np.concatenate(
                        [np.asarray(arrs[i], dtype=np.int64) for i in nz]
                    ).view(np.uint64)
                    offsets = np.zeros(len(nz), dtype=np.int64)
                    offsets[1:] = np.cumsum(lens[nz])[:-1]
                    mins = np.empty((num_perm, len(nz)), dtype=np.int64)
                    for p in range(num_perm):
                        h = _np_xxh64_long(flat, seeds[p]).view(np.int64)
                        mins[p] = np.minimum.reduceat(h, offsets)
                    for j, i in enumerate(nz):
                        sigs[i] = mins[:, j]
                    # rows with a NULL shingle array keep sig=None, the
                    # old aggregate-over-NULL behavior; a zero-length
                    # array (impossible from shingles()) would fold to
                    # the MAXL init row:
                    for i in np.nonzero(lens == 0)[0]:
                        if arrs[i] is not None:
                            sigs[i] = np.full(num_perm, MAXL, dtype=np.int64)
                else:
                    for i, a in enumerate(arrs):
                        if a is not None:
                            sigs[i] = np.full(num_perm, MAXL, dtype=np.int64)
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"].to_numpy(), "signature": sigs}
                )

        return src.mapInPandas(_sig_kernel, out_schema)

    # md5 path (oracle twins): the expression fold below IS the DuckDB
    # replay contract — portable salt-rehash: md5 of
    # "<i>:<hash-as-decimal>", same string DuckDB builds with
    # i::VARCHAR || ':' || h::VARCHAR.
    perm = lambda i, h: _hash64(  # noqa: E731
        F.concat(F.lit(f"{i}:"), h.cast("string")), "md5"
    )
    sig = F.aggregate(
        hashed,
        F.array_repeat(F.lit(MAXL).cast("long"), num_perm),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[perm(i, h) for i in range(num_perm)]),
            lambda a, b: F.least(a, b),
        ),
    )
    return df.select(F.col(id_col).alias("doc_id"), sig.alias("signature"))


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list,
    payload: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs co-located in any bucket.

    groupBy bucket → collect ids → in-bucket combination expansion with
    higher-order functions.  Output size is Σ |bucket|², so callers
    bound bucket size by construction (enough LSH bands / wide-enough
    SimHash chunks); the ids array per bucket lives in one task —
    fine up to ~10⁵ ids per bucket, and hot buckets that big mean the
    banding parameters are wrong, not that we should shuffle more.

    ``max_bucket`` is the optional ABSOLUTE rail for when the banding
    parameters can't be trusted (same rationale as winnow_pairs'
    ``max_df``): a bucket holding more than this many documents is a
    degenerate collision (constant boilerplate hashing to one band
    signature) and is dropped instead of expanding quadratically.
    Dropping loses only pairs whose every shared band is degenerate —
    at that point they're boilerplate duplicates better caught by
    exact dedup.  Default None keeps every bucket (bit-compatible
    with the oracle replay)."""
    ids = F.col("ids")
    pairs = F.filter(
        F.flatten(
            F.transform(
                ids,
                lambda a: F.transform(
                    ids,
                    lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
                ),
            )
        ),
        lambda p: p["doc_a"] < p["doc_b"],
    )
    grouped = df.groupBy(*bucket_cols).agg(F.collect_list(payload).alias("ids"))
    size_ok = F.size("ids") >= 2
    if max_bucket is not None:
        size_ok = size_ok & (F.size("ids") <= int(max_bucket))
    return (
        grouped.filter(size_ok)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate generation + exact shingle-Jaccard verify.

    ``bands`` bands of ``num_perm // bands`` rows each: documents
    agreeing on any full band become candidates; candidates are then
    verified with the exact Jaccard over their shingle sets, so the
    output contains no false positives (recall is bounded by the LSH
    S-curve).

    Scale shape (round-7 rework): the full corpus is shingled exactly
    ONCE — inside the signature fold.  The verify stage shingles only
    CANDIDATE documents: the (small) candidate-pair frame is
    checkpointed, its distinct ids semi-join the corpus, and the
    shingle projection runs above that semi join — so verify cost
    scales with the candidate set (LSH's whole point), not the corpus.
    Previously both verify sides recomputed shingles corpus-wide (3×
    total); the marginal per-document cost dropped accordingly.
    ``max_bucket`` (absolute, optional) rails degenerate band buckets
    — see :func:`_bucket_pairs`.
    """
    rows = num_perm // bands
    sigs = minhash_signatures(df, num_perm, shingle_n, text_col, id_col, hash_fn)
    if hash_fn == "xxhash64":
        band_key = lambda cols: F.xxhash64(*cols)  # noqa: E731
    else:
        # md5 over the comma-joined decimal row values — DuckDB:
        # md5(array_to_string(sig[a:b], ',')).
        band_key = lambda cols: F.md5(F.concat_ws(",", *cols))  # noqa: E731
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key(
                            [F.col("signature")[b * rows + r] for r in range(rows)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")

    # Candidates via bucket grouping, not a self-join: ONE shuffle on
    # (band, bucket), signatures computed once, in-bucket pairs expanded
    # JVM-side.  A self-join would recompute the whole signature
    # pipeline for both sides and leave the join strategy to AQE
    # (measured 3-12s flapping at sf0.1 vs stable ~2s for this shape).
    cand = _bucket_pairs(banded, ["band", "bucket"], max_bucket=max_bucket)
    # Reused three times (id set + both verify joins): compute once.
    cand = cand.localCheckpoint(eager=False)

    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Semi join FIRST, shingle projection second — written in that
    # order explicitly because Catalyst does NOT push a leftsemi below
    # a Project here (verified on the optimized plan), and the whole
    # point is that only candidate documents pay the shingle
    # expansion.  Checkpointed because both verify sides read it.
    sh = (
        df.join(
            cand_ids.withColumnRenamed("doc_id", id_col), id_col, "leftsemi"
        )
        .select(
            F.col(id_col).alias("doc_id"),
            shingles(F.col(text_col), shingle_n).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    feature: str = "shingles",
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    n_bits: int = 64,
) -> DataFrame:
    """``n_bits``-bit SimHash per document: bit i of the fingerprint is
    the sign of Σ_tokens (±1 by bit i of hash64(token)).

    Two codegen stages — an ``n_bits``-slot counter fold over the
    feature array, then bit assembly — with the counters materialized
    in between so the (large) fold expression appears once, not
    ``n_bits`` times.  No shuffle, no UDF.

    ``feature``: "shingles" (default — discriminative even on tiny
    vocabularies) or "tokens" (classic distinct-token SimHash).
    ``hash_fn``: "xxhash64" (production) or "md5" (60 usable bits —
    pair with ``n_bits=60`` for the cross-engine-checkable variant).
    """
    if feature == "tokens":
        toks = distinct_tokens(F.col(text_col))
    else:
        toks = shingles(F.col(text_col), shingle_n)
    bit_contrib = lambda t: F.array(  # noqa: E731
        *[
            F.when(
                F.shiftright(_hash64(t, hash_fn), i).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
            for i in range(n_bits)
        ]
    )
    counts = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, t: F.zip_with(acc, bit_contrib(t), lambda a, b: a + b),
    )
    staged = df.select(F.col(id_col).alias("doc_id"), counts.alias("__counts"))
    fp = None
    for i in range(n_bits):
        term = F.when(
            F.element_at(F.col("__counts"), i + 1) > 0,
            F.lit(1 << i).cast("long") if i < 63 else F.lit(-(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp.bitwiseOR(term)
    return staged.select("doc_id", fp.alias("fp"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    feature: str = "shingles",
    hash_fn: str = "xxhash64",
    n_bits: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Banded search: split the ``n_bits`` fingerprint into 4 equal bands;
    any pair within Hamming distance ≤ 3 agrees exactly on ≥ 1 band
    (pigeonhole), so a per-band equi-join finds all of them, then the
    exact popcount(xor) filter verifies.  ``max_bucket`` (absolute,
    optional) rails degenerate band-chunk buckets exactly like
    :func:`_bucket_pairs` — a 16-bit chunk shared by thousands of
    documents is boilerplate collapsing to one SimHash region, and its
    quadratic expansion buys nothing exact dedup wouldn't.
    """
    assert n_bits % 4 == 0, "n_bits must split into 4 equal bands"
    band_bits = n_bits // 4
    band_mask = (1 << band_bits) - 1
    fp = simhash_fingerprints(
        df, text_col, id_col, feature=feature, hash_fn=hash_fn, n_bits=n_bits
    )
    banded = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("fp"), b * band_bits)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "fp", "bb.band", "bb.chunk")

    # Same bucket-grouping shape as _bucket_pairs, carrying fp along so
    # the exact popcount(xor) verify needs no extra join.
    ids = F.col("ids")
    combos = F.filter(
        F.flatten(
            F.transform(
                ids,
                lambda a: F.transform(
                    ids, lambda b: F.struct(a.alias("x"), b.alias("y"))
                ),
            )
        ),
        lambda p: p["x"]["doc_id"] < p["y"]["doc_id"],
    )
    size_ok = F.size("ids") >= 2
    if max_bucket is not None:
        size_ok = size_ok & (F.size("ids") <= int(max_bucket))
    return (
        banded.groupBy("band", "chunk")
        .agg(F.collect_list(F.struct("doc_id", "fp")).alias("ids"))
        .filter(size_ok)
        .select(F.explode(combos).alias("p"))
        .select(
            F.col("p.x.doc_id").alias("doc_a"),
            F.col("p.y.doc_id").alias("doc_b"),
            F.bit_count(F.col("p.x.fp").bitwiseXOR(F.col("p.y.fp")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥ 1 word
    n-gram with any benchmark/eval document, with the count of distinct
    contaminated n-grams per doc — the standard train/eval overlap
    filter for training-data pipelines.

    Plan shape for 100 TB: the benchmark n-gram set is small by
    construction (eval suites are thousands of docs, not billions), so
    it is built once, deduplicated, and BROADCAST; the corpus side
    streams through scan → n-gram explode → broadcast semi-ish join →
    per-doc count, with the one shuffle on doc_id for the final count.
    Set ``broadcast_benchmark=False`` for unusually large benchmark
    sets and let AQE pick the join strategy.

    ``hashed=True`` joins on ``xxhash64(gram)`` instead of the gram
    string — 8-byte keys instead of ~50-char strings in the exchange
    (collision odds ~ |grams|²/2⁶⁴ make a false contamination flag
    astronomically unlikely, and there are no false negatives).  Keep
    strings when an external oracle must reproduce the join.
    """
    bench = _distinct_gram_rows(benchmark, n, text_col, id_col, hashed)
    bench = bench.select("g").distinct()
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    return (
        _distinct_gram_rows(corpus, n, text_col, id_col, hashed)
        .join(bench, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


def _distinct_gram_rows(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    hashed: bool,
    group: tuple[str, str] | None = None,
) -> DataFrame:
    """The shared gram closure of :func:`contaminated_docs` and
    :func:`contamination_matrix`: one row per (document, DISTINCT word
    n-gram), gram optionally xxhash64'd to an 8-byte join key.
    ``group=(in_col, out_col)`` carries a grouping column through.
    Shared so the decontam filter and the release-audit matrix can
    never disagree about what counts as a leaked gram."""
    from reflinkcep_spark.functions.text import ngrams, tokens

    g = F.explode(
        F.array_distinct(ngrams(tokens(F.col(text_col)), n))
    ).alias("g")
    cols = [F.col(id_col).alias("doc_id")]
    if group is not None:
        cols.append(F.col(group[0]).alias(group[1]))
    out = df.select(*cols, g)
    if hashed:
        keep = [c for c in out.columns if c != "g"]
        out = out.select(*keep, F.xxhash64("g").alias("g"))
    return out


def contamination_matrix(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_group_col: str = "source",
    bench_group_col: str = "bench",
    hashed: bool = False,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-(corpus source × benchmark) contamination MATRIX — the
    release-audit view of :func:`contaminated_docs`: not just "which
    documents overlap an eval set" but WHICH SOURCE leaked WHICH
    benchmark, the table a dataset card publishes and the first
    question asked when an eval score looks too good ("is the bump
    from the new crawl snapshot?").

    ``corpus`` carries ``corpus_group_col`` (e.g. crawl source),
    ``benchmark`` carries ``bench_group_col`` (e.g. eval suite name).
    Returns one row per (source, bench) pair with ≥ 1 shared word
    n-gram: ``n_docs`` = distinct contaminated corpus documents, and
    ``n_gram_hits`` = Σ over those documents of their distinct grams
    leaked into THAT benchmark (each document's gram set counted once
    per cell).  Within one benchmark column the cells are summable —
    a source's ``n_gram_hits`` against bench *b* equals what
    :func:`contaminated_docs` run against *b* alone would total.
    Across benchmarks they are NOT: a gram shared by several eval
    suites is counted once per (bench) cell it leaked into, so a
    cross-bench row sum can exceed the union-benchmark per-doc
    distinct-gram total ``contaminated_docs`` would report.

    Plan shape for 100 TB: identical to :func:`contaminated_docs` —
    the benchmark side is (bench, gram)-distinct and BROADCAST (eval
    suites are thousands of docs; the grouping multiplies the
    broadcast only by suite count), the corpus streams through
    scan → distinct-gram explode → broadcast join, and the single
    shuffle is the (source, bench) aggregate.  The count-distinct of
    doc ids rides that one exchange (Spark plans it as a two-level
    partial aggregate, still map-side combinable on the first level).
    ``hashed=True`` swaps string grams for xxhash64, as documented on
    :func:`contaminated_docs`.
    """
    bench = (
        _distinct_gram_rows(
            benchmark, n, text_col, id_col, hashed,
            group=(bench_group_col, "bench"),
        )
        .select("bench", "g")
        .distinct()
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    return (
        _distinct_gram_rows(
            corpus, n, text_col, id_col, hashed,
            group=(corpus_group_col, "source"),
        )
        .join(bench, "g")
        .groupBy("source", "bench")
        .agg(
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
            F.count(F.lit(1)).alias("n_gram_hits"),
        )
    )


def duplicate_clusters(
    pairs: DataFrame,
    rounds: int = 4,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    check_convergence: bool = False,
) -> DataFrame:
    """Resolve duplicate PAIRS into duplicate CLUSTERS: connected
    components of the pair graph, labeling every member with the
    cluster's minimum doc id.

    Returns ``(doc_id, cluster_id)`` for every doc that appears in at
    least one pair (singletons are their own trivial cluster and are
    omitted — at 100 TB almost every doc is a singleton, and emitting
    them would dwarf the interesting output).

    Implementation is min-label propagation with POINTER JUMPING —
    no driver-side actions, no ``collect``.  Each round does (a) a
    neighbor step: every node takes the min label in its closed
    neighborhood, and (b) a jump step: every node re-reads the current
    label OF its label (``lbl ← L[lbl]``, monotonically
    non-increasing).  The jump step makes convergence logarithmic:
    after r rounds labels have propagated ≥ 2^r hops, so the default
    4 rounds covers any component of diameter ≤ 16 — beyond any real
    duplicate cluster (near-clique by construction; MinHash/SimHash
    chains add a few hops at most), and each extra round doubles the
    reach for three more small shuffles.  Raise ``rounds`` for
    adversarial chain graphs, or re-run on the output until a
    fixpoint if unbounded diameters matter more than plan laziness.

    ``check_convergence=True`` adds a guard against exactly that
    silent-under-merge: after the rounds it runs ONE eager fixpoint
    probe (a count of nodes whose label a further neighbor step would
    still lower) and ``warnings.warn``s when non-zero.  This is the
    only eager path in the function — the probe is an action — so it
    is opt-in; at 100 TB the probe costs one extra edge-join over the
    pair graph, cheap relative to the rounds themselves.

    Every iterative DataFrame algorithm needs lineage truncation: the
    label frame is referenced three times per round, so the naive
    unrolled plan grows ~3^rounds and Catalyst hangs before any data
    moves (observed at rounds=6 on a 12-edge graph).  Each round
    therefore starts from a LAZY ``localCheckpoint`` — the plan stays
    linear in ``rounds`` while the returned frame is still
    computed-on-first-action, keeping the no-eager-work contract.

    Cost model at scale: a handful of keyed shuffles per round — the
    neighbor edge-join whose output UNIONS with the label frame into
    one map-combined min-agg (the self row is the closed part of the
    neighborhood, so there is no separate label merge join — removed
    round 13, two exchanges/round saved, measured 7.08→6.36 s
    median-of-3 at sf0.1), and the jump self-join; each side
    re-exchanged because checkpointed RDDs carry unknown partitioning
    (a repartition+persist variant that would preserve partitioning
    measured SLOWER end-to-end and re-opens the round-10 CacheManager
    substitution trap) — ALL over
    PAIR-graph-sized frames (edges ≪ corpus after capping/LSH),
    independent of corpus size: the corpus itself is never shuffled.
    """
    # The symmetric edge list references `pairs` twice (forward +
    # swapped); checkpoint the pair pipeline FIRST so it executes once
    # for certain — without this, both union branches carry the full
    # upstream plan and only exchange-reuse heuristics save the second
    # run (measured ~10% of total; a guarantee beats a heuristic).
    pairs = pairs.localCheckpoint(eager=False)
    edges = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).unionByName(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
    # The edge list is re-read every round; without its own checkpoint
    # each neighbor join would re-run the whole upstream pair pipeline
    # (measured 6× the n-gram index cost at sf0.1).
    edges = edges.localCheckpoint(eager=False)
    # Closed-neighborhood min: each node starts at min(self, neighbors).
    labels = edges.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("lbl"))
    for _ in range(rounds):
        labels = labels.localCheckpoint(eager=False)
        # (a) neighbor step: min label across the closed neighborhood,
        # as ONE union + ONE map-combinable min-agg.  The self row from
        # `labels` IS the closed part of the neighborhood, so no
        # separate labels⋈nbr merge join is needed — the union form
        # removes that join's two keyed exchanges per round (round-13
        # experiment: 7.08 s → 6.36 s median-of-3 end-to-end at sf0.1,
        # identical output; the repartition+persist alternative was
        # SLOWER, 9.22 s, besides re-opening the round-10 CacheManager
        # substitution trap — NOTES_r10.md).
        contrib = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .select("u", "lbl")
            .unionByName(labels)
        )
        labels = contrib.groupBy("u").agg(F.min("lbl").alias("lbl"))
        # (b) jump step: lbl ← L[lbl] (labels only ever decrease).
        jump = labels.select(
            F.col("u").alias("lbl"), F.col("lbl").alias("jump_lbl")
        )
        labels = labels.join(jump, "lbl", "left").select(
            "u", F.least("lbl", F.coalesce("jump_lbl", "lbl")).alias("lbl")
        )
    if check_convergence:
        import warnings

        labels = labels.localCheckpoint(eager=False)
        nbr = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        unconverged = (
            labels.join(nbr, "u")
            .filter(F.col("nbr_lbl") < F.col("lbl"))
            .count()
        )
        if unconverged:
            warnings.warn(
                f"duplicate_clusters: {unconverged} node(s) would still "
                f"lower their label after {rounds} pointer-jumping "
                f"round(s) — a component's diameter exceeds 2^{rounds}; "
                f"raise `rounds` or the output under-merges",
                RuntimeWarning,
                stacklevel=2,
            )
    return labels.select(
        F.col("u").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def canonical_docs(
    members: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Quality-aware canonicalization: for every duplicate cluster,
    pick the member to KEEP by a quality signal instead of the
    arbitrary lowest-id convention — the selection step of the
    RefinedWeb/Dolma-style curation recipes, where the canonical copy
    of a near-duplicate group should be the best-quality one (the
    others are dropped or down-weighted downstream).

    ``members`` is a cluster membership frame ``(id_col,
    cluster_col)`` — e.g. :func:`duplicate_clusters` output — and
    ``quality`` maps ``id_col`` to a totally-ordered ``quality_col``.
    The winner per cluster is argmax(quality), ties broken by the
    SMALLEST id (deterministic, engine-portable for any orderable
    quality type).

    ``n_members`` counts the MEMBERSHIP frame: quality is left-joined,
    so a member missing a quality row still counts toward cluster size
    (it just cannot win the argmax).  A cluster with NO scored member
    has no defined canonical — that raises at evaluation time rather
    than silently dropping the cluster or emitting NULL; the guard is
    attached to BOTH canonical columns, so it survives Catalyst column
    pruning unless the caller drops every canonical column (keeping
    only ``n_members`` — at which point no undefined value can flow).

    Returns one row per cluster: ``(cluster_col, canonical_doc_id,
    canonical_<quality_col>, n_members)``.

    Scale shape: for numeric ids the argmax is a lexicographic struct
    MAX aggregate — ``max(struct(quality, -id))`` — NOT a row_number
    window, so it is partial-aggregatable (map-side combine) and costs
    one keyed exchange on ``cluster_col``; the id-keyed join before it
    is the only other exchange, and its left side is pair-graph-sized
    (≪ corpus after LSH/capping), never the corpus itself.  For
    non-numeric ids (string/uuid — no order-reversing negation exists)
    the tie-break falls back to a two-pass aggregate: max(quality) per
    cluster, then min(id) among the maximal rows — one extra keyed
    exchange + join, both still pair-graph-sized and map-side
    combinable.
    """
    from pyspark.sql.types import NumericType

    j = members.join(quality, id_col, "left")

    def _fail(msg: str, otherwise: Column) -> Column:
        return F.when(
            otherwise.isNull(), F.raise_error(F.lit(msg))
        ).otherwise(otherwise)

    no_canonical = (
        "canonical_docs: a cluster has no member with a quality row — "
        "canonical selection is undefined; score every member (or "
        "semi-join `members` down to the scored ids first)"
    )
    id_is_numeric = isinstance(members.schema[id_col].dataType, NumericType)
    if id_is_numeric:
        # Single-pass: max() skips the NULL structs of unscored
        # members, count() still sees their rows.
        best = F.max(
            F.when(
                F.col(quality_col).isNotNull(),
                F.struct(
                    F.col(quality_col).alias("q"),
                    (-F.col(id_col)).alias("nid"),
                ),
            )
        ).alias("best")
        return (
            j.groupBy(cluster_col)
            .agg(best, F.count(F.lit(1)).alias("n_members"))
            .select(
                cluster_col,
                _fail(no_canonical, -F.col("best.nid")).alias(
                    "canonical_doc_id"
                ),
                # guarded too: the raise must survive a caller pruning
                # canonical_doc_id away
                _fail(no_canonical, F.col("best.q")).alias(
                    f"canonical_{quality_col}"
                ),
                "n_members",
            )
        )
    # Two-pass tie-break for non-numeric ids: pass 1 finds the best
    # quality per cluster (NULLs skipped) and the honest member count;
    # pass 2 takes min(id) among the rows at that quality.  The joined
    # frame feeds both passes — cut it (the module's lazy-checkpoint
    # convention) or the id-keyed join and both input scans run twice.
    j = j.localCheckpoint(eager=False)
    pass1 = j.groupBy(cluster_col).agg(
        F.max(quality_col).alias("__best_q"),
        F.count(F.lit(1)).alias("n_members"),
    )
    winners = (
        j.join(pass1.select(cluster_col, "__best_q"), cluster_col)
        .filter(F.col(quality_col) == F.col("__best_q"))
        .groupBy(cluster_col)
        .agg(F.min(id_col).alias("__canonical"))
    )
    return pass1.join(winners, cluster_col, "left").select(
        cluster_col,
        _fail(no_canonical, F.col("__canonical")).alias("canonical_doc_id"),
        _fail(no_canonical, F.col("__best_q")).alias(
            f"canonical_{quality_col}"
        ),
        "n_members",
    )


def winnow_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 64,
    min_shared: int = 2,
    robust: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via WINNOWING fingerprints (see
    functions/text.py:winnow_fingerprints): documents sharing a large
    fraction of their selected fingerprints.  ``sim`` is containment
    over the smaller selected set — ``|A∩B| / min(|A|,|B|)`` — so a
    short document wholly embedded in a longer one still scores 1.0
    (the property winnowing's window guarantee is built for; plain
    Jaccard dilutes it).

    Scale shape is the same inverted index as
    :func:`ngram_jaccard_pairs`, but over the ~2/(w+1)-density
    SELECTED fingerprints instead of every shingle — the posting
    exchange is ~(w+1)/2 times smaller for the same guarantee
    (matches of length ≥ w+k−1 always share a fingerprint).
    ``max_df`` caps a fingerprint's posting list ABSOLUTELY (boiler-
    plate that winnowing happens to select would otherwise expand
    quadratically); it is an absolute count, not a fraction, because
    a fingerprint shared by >64 documents is boilerplate at every
    corpus size.  ``min_shared`` (default 2) floors the evidence: one
    shared fingerprint is one shared k-gram — for a short document
    with a tiny selected set that already clears a containment
    threshold, so a pair must share at least two fingerprints before
    the ratio is trusted.

    ``robust=True`` selects with robust winnowing (SIGMOD'03 §5.2) —
    an even smaller posting index on boilerplate-heavy corpora, with
    the guarantee weakened to whp (see winnow_fingerprints).

    Returns (doc_a, doc_b, n_shared, sim) with doc_a < doc_b.
    """
    from reflinkcep_spark.functions.text import winnow_fingerprints

    fps = (
        winnow_fingerprints(
            df, text_col=text_col, id_col=id_col, k=k, w=w, robust=robust
        )
        .select(F.col(id_col).alias("doc_id"), "fp")
        .distinct()
    )
    fps = fps.localCheckpoint(eager=False)  # used 3×: postings + both sizes
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp")
    )
    idx = fps.join(rare, "fp")
    pairs = (
        idx.select("fp", F.col("doc_id").alias("doc_a"))
        .join(idx.select("fp", F.col("doc_id").alias("doc_b")), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    out = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "sim",
            F.col("n_shared").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .filter(F.col("sim") >= threshold)
    )
    return out.select("doc_a", "doc_b", "n_shared", "sim")


def substring_spans(
    df: DataFrame,
    min_len: int = 50,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Cross-document duplicate SPAN detection ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022): maximal runs
    of ≥ ``min_len`` consecutive tokens shared verbatim between two
    documents — the substring-level operator exact-dedup misses (a
    boilerplate header pasted into otherwise-distinct documents) and
    set-similarity misses (a long quote inside two long documents keeps
    Jaccard low).

    Shape, all Catalyst: each document emits one hash per token
    position (the k-gram starting there), a ``max_df``-capped posting
    index joins equal hashes across documents (the
    :func:`ngram_jaccard_pairs` / :func:`winnow_pairs` scale shape —
    fanout bounded at max_df² per gram, so boilerplate can't expand
    quadratically), and consecutive positional matches merge into
    maximal spans with the classic diagonal trick: matches at
    ``(pos_a, pos_b)`` and ``(pos_a+1, pos_b+1)`` share a diagonal
    ``pos_b − pos_a``, so within ``(doc_a, doc_b, diag)`` a run is a
    group of ``pos_a − row_number()`` — three keyed exchanges total
    (gram df-count, gram self-join, pair+diag window), each on keys
    whose cardinality the cap bounds.  A run of L consecutive matching
    k-grams covers L+k−1 tokens.

    Caveats by construction: a gram the cap drops (shared by > max_df
    docs) splits a span crossing it — each fragment still reports if it
    alone clears ``min_len``; spans shorter than k tokens are invisible
    (choose k ≤ min_len).  ``hash_fn="md5"`` (60-bit, via
    :func:`_hash64`) is bit-identical to DuckDB and makes the operator
    oracle-checkable; xxhash64 is the production default — hash values
    never reach the output, so the twins differ only under collisions.

    Returns (doc_a, doc_b, start_a, start_b, span_len) with
    doc_a < doc_b; starts are 0-based token positions, span_len in
    tokens.
    """
    if k > min_len:
        raise ValueError(f"k={k} must be <= min_len={min_len}")
    from reflinkcep_spark.functions.text import tokens

    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("tk")
    ).filter(F.size("tk") >= k)
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - F.lit(k - 1)),
                lambda i: _hash64(F.array_join(F.slice("tk", i, k), " "), hash_fn),
            )
        ).alias("pos", "h"),
    )
    # Posting-list pair expansion (round 14) instead of the old
    # rare-filter + gram-table SELF-JOIN: ONE gram-keyed exchange
    # (the collect_list aggregate) replaces three passes over the
    # position-level gram table — the df-count aggregate, and BOTH
    # exchange-heavy sides of the equi-join (the gram table is the
    # corpus at per-token granularity, the largest frame this operator
    # touches; at 100 TB those were two extra full-corpus shuffles).
    # Paired ABBA at sf0.1: 1.46/1.85 s (old) -> 1.07/1.05 s (new),
    # identical output; plan 5 -> 3 Exchange nodes (substring_spans),
    # 6 -> 5 (scrub_spans).  The in-list expansion
    # enumerates exactly the pairs the join produced (every
    # (pos_a, pos_b) combination of a shared gram, doc_a < doc_b), so
    # downstream — diagonal run-merge, span filter — is untouched.
    # `h` is non-null by construction (md5/xxhash of a non-null join
    # over the size>=k-filtered token array), so the NULL-key group an
    # equi-join would have dropped cannot arise.
    posts = grams.groupBy("h").agg(
        F.collect_list(F.struct("doc_id", "pos")).alias("ids")
    )
    # max_df counts DISTINCT DOCUMENTS per gram (the winnow_pairs
    # convention): a phrase repeated many times inside ONE document is
    # span structure, not boilerplate, and must not evict the gram for
    # the two-document duplicate the operator exists to find.
    ids = F.col("ids")
    n_docs_in = F.size(F.array_distinct(F.transform(ids, lambda x: x["doc_id"])))
    posts = posts.filter((F.size(ids) >= 2) & (n_docs_in <= max_df))
    combos = F.filter(
        F.flatten(
            F.transform(
                ids,
                lambda a: F.transform(
                    ids,
                    lambda b: F.struct(
                        a["doc_id"].alias("doc_a"),
                        b["doc_id"].alias("doc_b"),
                        a["pos"].alias("pos_a"),
                        b["pos"].alias("pos_b"),
                    ),
                ),
            )
        ),
        lambda p: p["doc_a"] < p["doc_b"],
    )
    pairs = posts.select(F.explode(combos).alias("p")).select(
        F.col("p.doc_a").alias("doc_a"),
        F.col("p.doc_b").alias("doc_b"),
        F.col("p.pos_a").alias("pos_a"),
        (F.col("p.pos_b") - F.col("p.pos_a")).alias("diag"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (
        pairs.withColumn("run_id", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "run_id")
        .agg(
            F.min("pos_a").cast("long").alias("start_a"),
            (F.count(F.lit(1)) + F.lit(k - 1)).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select(
            "doc_a",
            "doc_b",
            "start_a",
            (F.col("start_a") + F.col("diag")).cast("long").alias("start_b"),
            "span_len",
        )
    )


def scrub_spans(
    df: DataFrame,
    min_len: int = 50,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The ACTION half of substring-level dedup (Lee et al. 2022's
    ExactSubstr removes the duplicated text, not the document): detect
    duplicate spans with :func:`substring_spans`, keep the LOWEST-id
    document's copy, and delete the span tokens from every other
    document.  One row per input document: the scrubbed text plus an
    audit count of removed tokens (0 ⇔ text unchanged).

    Shape, all Catalyst: the span frame keyed by the losing doc
    becomes a (doc, position-interval) table; each document's token
    positions anti-join it on a range predicate (pos ∈ [start, start+
    len)), and surviving tokens re-assemble in position order.  The
    anti join's left side is tokens of SPAN-CARRYING documents only
    (a semi join cuts the corpus first — at a 1% duplication rate 99%
    of documents never shuffle a token); untouched documents pass
    through with their original text.  Overlapping spans need no
    explicit interval merge: a position inside ANY interval is dropped
    by the anti join, which is precisely interval-union semantics.
    """
    from reflinkcep_spark.functions.text import tokens

    spans = substring_spans(
        df, min_len=min_len, k=k, text_col=text_col, id_col=id_col,
        max_df=max_df, hash_fn=hash_fn,
    )
    intervals = spans.select(
        F.col("doc_b").alias("victim"),
        F.col("start_b").alias("iv_start"),
        (F.col("start_b") + F.col("span_len")).alias("iv_end"),
    )
    intervals = intervals.localCheckpoint(eager=False)  # used twice below
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    victim_ids = intervals.select(F.col("victim").alias("doc_id")).distinct()
    victims = base.join(victim_ids, "doc_id")
    toks = victims.select(
        "doc_id",
        F.posexplode(tokens(F.col("__text"))).alias("pos", "tok"),
    )
    kept = toks.join(
        intervals,
        (toks.doc_id == intervals.victim)
        & (toks.pos >= intervals.iv_start)
        & (toks.pos < intervals.iv_end),
        "left_anti",
    )
    scrubbed = (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                )
            , " ").alias("__kept_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    n_tok = F.size(tokens(F.col("__text")))
    # Victims whose EVERY token sits in a span (a whole-document
    # duplicate) produce no scrubbed row — they must come back as the
    # empty string, not their original text, so the victim flag (not
    # the scrub join) decides which side wins.
    return (
        base.join(victim_ids.withColumn("__victim", F.lit(True)), "doc_id", "left")
        .join(scrubbed, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__victim").isNull(), F.col("__text"))
            .otherwise(F.coalesce(F.col("__kept_text"), F.lit("")))
            .alias("text_clean"),
            F.when(F.col("__victim").isNull(), F.lit(0))
            .otherwise(n_tok - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
